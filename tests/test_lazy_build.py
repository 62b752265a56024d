"""Plan-build laziness: the auto-parameterized similarity/dedup
operators must submit ZERO Spark jobs while the plan is being built
when corpus stats are threaded in from table metadata (``n`` from the
parquet footer row count, ``dim`` from a driver-side one-row pyarrow
read) — the operator stays declarative and at deployment scale the
stats come from the catalog instead of a job. Connected components and
the two operators built on it (canonicalization, near-dup clusters)
are lazy too, and leave nothing persisted behind.

Detection: every job submitted inside a probe runs under a job group
of its own; the status tracker must report that group empty."""

import uuid

import __spark_entry__ as entry
from pdf2ontology_spark.operators import components, dedup, linking, similarity, triples
from pdf2ontology_spark.sources import tables

SF_DIR = "/root/testdata/sf0.001"


def _jobs_during(spark, fn):
    sc = spark.sparkContext
    # a fresh group per probe: the status tracker keeps a group's old
    # jobs, so a shared id would list earlier probes' jobs as well
    group = f"lazy-build-probe-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "plan-build laziness probe")
    try:
        result = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return result, list(sc.statusTracker().getJobIdsForGroup(group))


def test_table_stats_match_data(spark):
    emb = tables.load_table(spark, SF_DIR, "embeddings")
    assert tables.table_rows(SF_DIR, "embeddings") == emb.count()
    assert tables.embedding_dim(SF_DIR) == len(emb.first()["embedding"])


def _warm_schema_cache(spark):
    # the FIRST read of a path pays parquet schema inference (one
    # Spark job); load_table caches the schema so every later plan
    # build is job-free — which is what the probes below pin down
    tables.load_table(spark, SF_DIR, "embeddings")


def test_embedding_pairs_build_is_lazy(spark):
    _warm_schema_cache(spark)
    n = tables.table_rows(SF_DIR, "embeddings")
    dim = tables.embedding_dim(SF_DIR)

    def build():
        emb = tables.load_table(spark, SF_DIR, "embeddings")
        df = dedup.embedding_cosine_pairs(emb, threshold=0.45, n=n, dim=dim)
        df.schema  # force analysis, not execution
        return df

    df, jobs = _jobs_during(spark, build)
    assert jobs == [], f"plan build submitted Spark jobs: {jobs}"
    assert df.count() >= 0  # the lazily built plan still executes


def test_ivf_topk_build_is_lazy(spark):
    _warm_schema_cache(spark)
    n = tables.table_rows(SF_DIR, "embeddings")

    def build():
        emb = tables.load_table(spark, SF_DIR, "embeddings")
        df = similarity.ivf_topk(emb, emb.filter("vec_id < 4"), k=3, n=n)
        df.schema
        return df

    df, jobs = _jobs_during(spark, build)
    assert jobs == [], f"plan build submitted Spark jobs: {jobs}"
    assert df.count() > 0


def test_entry_embedding_queries_build_lazily(spark):
    """The registered driver queries thread table stats themselves."""
    _warm_schema_cache(spark)
    qs = entry.queries()
    for name in ["embedding_cosine_pairs", "ann_ivf_topk", "ann_lsh_topk"]:
        _df, jobs = _jobs_during(spark, lambda: qs[name](spark, SF_DIR).schema)
        assert jobs == [], f"{name} build submitted Spark jobs: {jobs}"


def _fused_triples(spark):
    return triples.all_triples_fused(tables.load_documents_spans(spark, SF_DIR))


def test_components_and_canonicalization_build_lazily(spark):
    """Connected components, canonicalization and near-dup clustering
    build their plans without a job: the union-find's size limit is
    enforced by its task, not by a count while the plan is built."""
    _warm_schema_cache(spark)
    trips = _fused_triples(spark)
    docs = tables.load_table(spark, SF_DIR, "documents")
    edges = spark.createDataFrame([("a", "b"), ("b", "c")], "src string, dst string")
    builds = {
        "connected_components": lambda: components.connected_components(edges),
        "canonicalize.nodes": lambda: linking.canonicalize(trips)["nodes"],
        "canonicalize.edges": lambda: linking.canonicalize(trips)["edges"],
        "dedup_clusters": lambda: dedup.dedup_clusters(docs, "doc_id", "text"),
    }
    for name, build in builds.items():
        _df, jobs = _jobs_during(spark, lambda: build().schema)
        assert jobs == [], f"{name} build submitted Spark jobs: {jobs}"


def test_entry_canonicalization_queries_build_lazily(spark):
    qs = entry.queries()
    names = ["canonical_nodes_lsh", "canonical_edges_lsh", "dedup_clusters"]
    for name in names:  # the first build reads parquet schemas
        qs[name](spark, SF_DIR).schema
    for name in names:
        _df, jobs = _jobs_during(spark, lambda: qs[name](spark, SF_DIR).schema)
        assert jobs == [], f"{name} build submitted Spark jobs: {jobs}"


def test_canonicalization_leaves_nothing_persisted(spark):
    """Repeated canonicalize / dedup_clusters runs leave no persistent
    RDD that ``clearCache`` cannot release. The outputs stay referenced
    until the check, so garbage collection cannot hide a leak."""
    trips = _fused_triples(spark)
    docs = tables.load_table(spark, SF_DIR, "documents")
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    spark.catalog.clearCache()
    before = set(persisted().keys())
    held = []
    for _ in range(2):
        canon = linking.canonicalize(trips)
        clusters = dedup.dedup_clusters(docs, "doc_id", "text")
        assert canon["nodes"].count() > 0 and canon["edges"].count() > 0
        assert clusters.count() == docs.count()
        held += [canon, clusters]
    spark.catalog.clearCache()
    # by id: older garbage the context cleaner drops meanwhile must not
    # offset a new leak
    assert set(persisted().keys()) - before == set()
