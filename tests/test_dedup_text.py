"""Dedup family + text analysis unit tests on tiny known inputs."""

import pytest

from pdf2ontology_spark.operators import dedup, similarity, text


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        ("d1", "the quick brown fox jumps over the lazy dog"),
        ("d2", "the quick brown fox jumps over the lazy dog"),  # exact dup of d1
        ("d3", "the quick brown fox jumps over the lazy cat"),  # near dup
        ("d4", "völlig anderes deutsches dokument und zwar ganz und gar"),
        ("d5", "short"),
    ]
    return spark.createDataFrame(rows, "doc_id string, text string")


def test_dedup_exact(spark, docs):
    groups = dedup.dedup_exact(docs, "doc_id", "text").collect()
    assert len(groups) == 1
    assert groups[0].n_docs == 2 and groups[0].min_id == "d1"


def test_minhash_identical_signatures(spark, docs):
    sig = {r.id: tuple(r[i] for i in range(1, 13)) for r in
           dedup.minhash_signature(docs, "doc_id", "text").collect()}
    assert sig["d1"] == sig["d2"]
    assert sig["d1"] != sig["d4"]


def test_minhash_pairs_find_near_dup(spark, docs):
    pairs = {(r.id_a, r.id_b) for r in dedup.minhash_pairs(docs, "doc_id", "text").collect()}
    assert ("d1", "d2") in pairs
    assert ("d1", "d3") in pairs  # 7/9 shared shingles -> some band collides
    assert not any("d4" in p for p in pairs)


def test_ngram_jaccard_exact_values(spark, docs):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.5).collect()
    }
    assert pairs[("d1", "d2")] == 1.0
    # d1/d3: 7 word-3-grams each, 6 shared -> J = 6/8 = 0.75
    assert pairs[("d1", "d3")] == 0.75


def test_ngram_jaccard_leaves_no_persisted_rdds(spark, docs):
    """Repeated calls on two inputs cache nothing: the document
    frequency is a window, not a cached shingle table."""
    before = len(spark.sparkContext._jsc.getPersistentRDDs())
    for _ in range(2):
        for d in (docs, docs.filter("doc_id != 'd2'")):
            dedup.ngram_jaccard_pairs(d, "doc_id", "text", threshold=0.5).collect()
    assert len(spark.sparkContext._jsc.getPersistentRDDs()) == before


def test_dedup_clusters_keeps_pair_at_threshold(spark, docs):
    """d1/d3 share 6 of 8 distinct shingles: J = 0.75 exactly, so the
    pair clusters at threshold 0.75 and not above it."""
    def cluster_of_d3(t):
        out = dedup.dedup_clusters(docs.filter("doc_id != 'd2'"), "doc_id", "text", threshold=t)
        return {r.id: r.cluster_id for r in out.collect()}["d3"]

    assert cluster_of_d3(0.75) == "d1"
    assert cluster_of_d3(0.76) == "d3"


def test_null_text_has_no_shingles(spark, docs):
    """A null text has no shingles: no signature row, no candidate or
    Jaccard pair, and each null-text doc stays its own cluster (an
    all-null signature would band every null text together)."""
    nulls = spark.createDataFrame([("n1", None), ("n2", None)], "doc_id string, text string")
    d = docs.unionByName(nulls)
    assert {r.id for r in dedup.minhash_signature(d, "doc_id", "text").collect()} == {
        "d1", "d2", "d3", "d4", "d5"
    }
    for pairs in (
        dedup.minhash_pairs(d, "doc_id", "text"),
        dedup.ngram_jaccard_pairs(d, "doc_id", "text", threshold=0.5),
    ):
        assert not {"n1", "n2"} & {i for r in pairs.collect() for i in (r.id_a, r.id_b)}
    clusters = {r.id: r for r in dedup.dedup_clusters(d, "doc_id", "text").collect()}
    for n in ("n1", "n2"):
        assert clusters[n].cluster_id == n and clusters[n].is_survivor == 1


def test_simhash_close_for_near_dups(spark, docs):
    sh = {r.id: r.simhash for r in dedup.simhash(docs, "doc_id", "text").collect()}
    assert sh["d1"] == sh["d2"]
    mask = (1 << 64) - 1  # signatures are signed 64-bit; compare as bit patterns
    ham13 = bin((sh["d1"] ^ sh["d3"]) & mask).count("1")
    ham14 = bin((sh["d1"] ^ sh["d4"]) & mask).count("1")
    assert ham13 < ham14


def test_embedding_pairs_and_topk(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.999, 0.01, 0.0]),  # near-dup of 0
        (2, [0.0, 1.0, 0.0]),
        (3, [0.0, 0.99, 0.1]),
    ]
    emb = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    pairs = {(r.id_a, r.id_b) for r in
             dedup.embedding_cosine_pairs(emb, threshold=0.95).collect()}
    assert pairs == {(0, 1), (2, 3)}

    topk = similarity.brute_topk(emb, emb.filter("vec_id = 0"), k=2).collect()
    assert [r.corpus_id for r in sorted(topk, key=lambda r: r.rank)] == [1, 2]


def test_lang_id(spark):
    rows = [
        ("e", "the cat sat on the mat and looked to the door"),
        ("d", "der Hund ist im Haus und die Katze ist im Garten"),
        ("u", "xyzzy plugh"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    langs = {r.id: r.lang for r in text.lang_id(df, "doc_id", "text").collect()}
    assert langs == {"e": "en", "d": "de", "u": "unknown"}


def test_token_count(spark):
    df = spark.createDataFrame([("a", "Hello, world! 42x")], "doc_id string, text string")
    r = text.token_count(df, "doc_id", "text").collect()[0]
    assert r.ws_tokens == 3
    # Hello , world ! 42 x -> 6 BPE-ish tokens
    assert r.bpe_tokens == 6


def test_quality_and_fingerprint_deterministic(spark, docs):
    q1 = {r.id: r.quality for r in text.quality_score(docs, "doc_id", "text").collect()}
    q2 = {r.id: r.quality for r in text.quality_score(docs, "doc_id", "text").collect()}
    assert q1 == q2
    assert all(0.0 <= v <= 1.0 for v in q1.values())
    f = {r.id: r.fingerprint for r in text.fingerprint(docs, "doc_id", "text").collect()}
    assert f["d1"] == f["d2"] and f["d1"] != f["d4"]


def test_simhash_pairs_and_clusters(spark, docs):
    pairs = {(r.id_a, r.id_b): r.hamming
             for r in dedup.simhash_pairs(docs, "doc_id", "text", max_hamming=3).collect()}
    assert ("d1", "d2") in pairs and pairs[("d1", "d2")] == 0  # identical docs
    clusters = {r.id: r for r in
                dedup.dedup_clusters(docs, "doc_id", "text", threshold=0.5).collect()}
    assert clusters["d1"].cluster_id == clusters["d2"].cluster_id
    survivors = {r.id for r in clusters.values() if r.is_survivor == 1}
    # exactly one survivor per cluster; every doc assigned
    assert len(survivors) == len({r.cluster_id for r in clusters.values()})
    assert len(clusters) == docs.count()


def test_ivf_topk_structure_and_recall(spark):
    """IVF: nearest-seed inverted lists, nprobe probing, exact rerank.
    With nprobe == n_centroids every list is probed, so IVF must equal
    brute force exactly; with nprobe=1 it returns a (possibly partial)
    subset ranked consistently."""
    import random

    rng = random.Random(3)
    rows = [(i, [rng.gauss(0.0, 1.0) for _ in range(8)]) for i in range(120)]
    emb = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    q = emb.filter("vec_id < 4")
    brute = {(r.query_id, r.rank): r.corpus_id
             for r in similarity.brute_topk(emb, q, k=3).collect()}
    full = {(r.query_id, r.rank): r.corpus_id
            for r in similarity.ivf_topk(emb, q, k=3, n_centroids=8, nprobe=8).collect()}
    assert full == brute  # probing every list == exhaustive search
    part = similarity.ivf_topk(emb, q, k=3, n_centroids=8, nprobe=1).collect()
    assert 0 < len(part) <= len(brute)
    # the partial result must still be EXACT on what it returns: every
    # (query, corpus) pair carries the true cosine, and ranks within a
    # query are dense and ordered by (cosine desc, corpus_id asc)
    vecs = {i: v for i, v in rows}

    def true_cos(a, b):
        dot = sum(x * y for x, y in zip(vecs[a], vecs[b]))
        na = sum(x * x for x in vecs[a]) ** 0.5
        nb = sum(x * x for x in vecs[b]) ** 0.5
        return round(dot / (na * nb), 4)

    assert all(r.cosine == true_cos(r.query_id, r.corpus_id) for r in part)
    by_q = {}
    for r in sorted(part, key=lambda r: (r.query_id, r.rank)):
        by_q.setdefault(r.query_id, []).append(r)
    for rs in by_q.values():
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
        assert rs == sorted(rs, key=lambda r: (-r.cosine, r.corpus_id))


def test_embedding_matrix_rerank_equals_join_rerank(spark):
    """Round-7: the broadcast-matrix rerank (bare parquet scan) must be
    bit-identical to the join + interpreted-fold rerank (exercised here
    by wrapping the same table in a select, which defeats the bare-scan
    guard)."""
    from pdf2ontology_spark.operators import dedup
    from pdf2ontology_spark.sources import tables

    sf = "/root/testdata/sf0.001"
    emb = tables.load_table(spark, sf, "embeddings")
    n = tables.table_rows(sf, "embeddings")
    dim = tables.embedding_dim(sf)
    assert dedup._bare_parquet_files(emb) is not None
    wrapped = emb.select("vec_id", "embedding")
    assert dedup._bare_parquet_files(wrapped) is None
    fast = dedup.embedding_cosine_pairs(emb, threshold=0.45, n=n, dim=dim)
    slow = dedup.embedding_cosine_pairs(wrapped, threshold=0.45, n=n, dim=dim)
    assert fast.exceptAll(slow).count() == 0
    assert slow.exceptAll(fast).count() == 0


def test_embedding_pairs_leave_nothing_persisted(spark):
    """``embedding_candidates`` persists its band keys (both self-join
    sides read them once); ``clearCache`` must release them on both
    rerank paths: the matrix rerank (bare parquet scan) and the join
    rerank (the same table behind a select). The outputs stay held
    until the check, so garbage collection cannot hide a leak."""
    from pdf2ontology_spark.sources import tables

    sf = "/root/testdata/sf0.001"
    emb = tables.load_table(spark, sf, "embeddings")
    n, dim = tables.table_rows(sf, "embeddings"), tables.embedding_dim(sf)
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    spark.catalog.clearCache()
    before = set(persisted().keys())
    held = [
        dedup.embedding_cosine_pairs(e, threshold=0.45, n=n, dim=dim)
        for e in (emb, emb.select("vec_id", "embedding"))
    ]
    assert all(len(df.collect()) > 0 for df in held)
    spark.catalog.clearCache()
    # by id: older garbage the context cleaner drops meanwhile must not
    # offset a new leak
    assert set(persisted().keys()) - before == set()
