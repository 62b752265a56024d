"""Entity tables + graph materialization (FIXTURES.md F4).

- ``entities_distinct`` / ``entity_type_histogram``: the reference's
  entity set + type rollups (triplet_extractor.py:520-533, 649-670).
- ``auto_create_entities``: the J1 left-join + anti-join-fill idiom — for
  relations whose subject/object has no entity row, synthesize one with
  type "other" and confidence 0.7
  (/root/reference/src/knowledge_extractor/triplet_extractor.py:282-314).
- ``nodes``/``edges``: canonicalized graph, exact-normalization blocking.
  The canonical id is sha2(normalized_name, entity_type) — a PURE
  EXPRESSION of the row, so edge endpoints need NO join at all: at 10^12
  scale the only shuffles are the final groupBys. (The MinHash-LSH +
  connected-components path, which does need a band self-join, lives
  in operators/linking.py.)
- Two MERGEABLE stage tables feed every graph output: ``per_surface``
  (nodes) and ``edge_surfaces`` (edges). Each edge table — exact
  ``edges``, LSH canonical edges, streamed edges — is
  ``edges_from_surfaces`` over ``edge_surfaces`` rows with its own
  endpoint-id columns, through the one edge merge ``_merge_edges``.

``canonical_form`` populates the reference's declared-but-never-written
Entity.canonical_form field (knowledge_models.py:43-46).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pdf2ontology_spark import rules

SEP = "\x1f"


def normalize_name_col(c: Column) -> Column:
    """JVM-side twin of rules.normalize_name (lower, strip legal
    suffixes, punctuation -> space, collapse whitespace)."""
    s = F.trim(F.lower(c))
    s = F.regexp_replace(s, rules.LEGAL_SUFFIX_RE, "")
    return F.trim(F.regexp_replace(s, rules.PUNCT_RE, " "))


def mentions(triples: DataFrame) -> DataFrame:
    """All entity mentions = subjects ++ objects of the triple stream.

    Implemented as explode(array(subj_struct, obj_struct)) rather than a
    union of two selects: a union would duplicate the whole upstream
    subtree (scan + windows run twice); the explode is one pass.
    """
    return triples.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("subj_name").alias("name"),
                    F.col("subj_type").alias("entity_type"),
                    F.col("confidence"),
                    F.col("source_sentence"),
                ),
                F.struct(
                    F.col("obj_name").alias("name"),
                    F.col("obj_type").alias("entity_type"),
                    F.col("confidence"),
                    F.col("source_sentence"),
                ),
            )
        ).alias("m")
    ).select("m.name", "m.entity_type", "m.confidence", "m.source_sentence")


def entities_distinct(triples: DataFrame) -> DataFrame:
    """Unique (name, entity_type) pairs (triplet_extractor.py:520-523)."""
    return mentions(triples).select("name", "entity_type").distinct()


def entity_type_histogram(triples: DataFrame) -> DataFrame:
    """Counts per entity_type, desc (triplet_extractor.py:528-533)."""
    return (
        mentions(triples)
        .groupBy("entity_type")
        .agg(F.count("*").cast("long").alias("n"))
        .orderBy(F.desc("n"), "entity_type")
    )


def auto_create_entities(entities: DataFrame, relations: DataFrame) -> DataFrame:
    """J1: entities ∪ {names referenced by relations but missing}.

    ``relations`` needs columns (subj_name, obj_name); missing names get
    entity_type "other", confidence 0.7, auto_created=true
    (triplet_extractor.py:282-314). Existing rows pass through.
    """
    referenced = (
        relations.select(F.col("subj_name").alias("name"))
        .unionByName(relations.select(F.col("obj_name").alias("name")))
        .distinct()
    )
    missing = referenced.join(entities, "name", "left_anti").select(
        "name",
        F.lit("other").alias("entity_type"),
        F.lit(0.7).alias("confidence"),
        F.lit(True).alias("auto_created"),
    )
    return entities.select(
        "name", "entity_type", "confidence", F.lit(False).alias("auto_created")
    ).unionByName(missing)


# types whose surface forms are value-like: normalization would merge
# distinct values ("417 kg" vs "417 %"), so they link by exact trimmed name
VALUE_TYPES = ["numeric", "date"]


def canonical_key_col(name: Column, entity_type: Column) -> Column:
    return F.when(entity_type.isin(VALUE_TYPES), F.trim(name)).otherwise(
        normalize_name_col(name)
    )


def entity_id_col(name: Column, entity_type: Column) -> Column:
    """Deterministic canonical id: sha2 over (canonical key, type).
    Content-derived ids are required for idempotent resume (SURVEY §1.2;
    the reference's uuid4 at knowledge_models.py:20 is replaced)."""
    return F.sha2(F.concat_ws(SEP, canonical_key_col(name, entity_type), entity_type), 256)


def _top3(c: str) -> Column:
    """First-level top-3: the sorted distinct first three values of a
    string column — deterministic and size-capped."""
    return F.slice(F.array_sort(F.collect_set(c)), 1, 3)


def _union_merge(c: str) -> Column:
    """Sorted distinct union of an array column's groups."""
    return F.array_sort(F.array_distinct(F.flatten(F.collect_list(c))))


def _top3_merge(c: str) -> Column:
    """Re-merge of ``_top3`` arrays: top-3 of the union is distributive,
    so a two-level (or batch-by-batch) aggregation stays exact."""
    return F.slice(_union_merge(c), 1, 3)


def top_surface(c: str) -> Column:
    """``c`` of the most frequent surface form (tie -> lexicographically
    smallest name) over per-surface rows with ``n`` and ``name``;
    min_by over (-count, name) keeps it deterministic."""
    return F.min_by(c, F.struct((-F.col("n")).alias("nn"), F.col("name")))


def edge_id_col(subject_id: Column, predicate: Column, object_id: Column) -> Column:
    return F.sha2(F.concat_ws(SEP, subject_id, predicate, object_id), 256)


def per_surface(triples: DataFrame) -> DataFrame:
    """Per-surface-form statistics — the MERGEABLE node stage: every
    column combines additively across document subsets (n sums,
    max_conf maxes, mention_ex is a distributive top-3), so the
    streaming path can upsert batch-local rows into a surfaces stage
    table and derive identical nodes (tests/test_stream_graph.py).
    LSH canonicalization reads its (name, entity_type, n, max_conf)
    columns; Catalyst prunes the rest."""
    # aggregate FIRST on the raw surface form, then derive the canonical id
    # on the (tiny) distinct set — sha2+normalization run per distinct name,
    # not per mention (60k vs 1.35M evaluations at sf0.1)
    return (
        mentions(triples)
        .groupBy("name", "entity_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.max("confidence").alias("max_conf"),
            _top3("source_sentence").alias("mention_ex"),
        )
        .withColumn("entity_id", entity_id_col(F.col("name"), F.col("entity_type")))
    )


def combine_surfaces(a: DataFrame, b: DataFrame) -> DataFrame:
    """Merge two per_surface tables over the SAME key space exactly:
    counts add, confidences max, example mentions re-take the top-3 of
    the union (distributive, so combine(per_surface(X), per_surface(Y))
    == per_surface(X ++ Y))."""
    return (
        a.unionByName(b)
        .groupBy("name", "entity_type", "entity_id")
        .agg(
            F.sum("n").cast("long").alias("n"),
            F.max("max_conf").alias("max_conf"),
            _top3_merge("mention_ex").alias("mention_ex"),
        )
    )


def nodes_from_surfaces(per_surface_df: DataFrame) -> DataFrame:
    """Second-level node aggregation over a per_surface stage table;
    canonical_form is the ``top_surface`` name."""
    out = per_surface_df.groupBy("entity_id", "entity_type").agg(
        top_surface("name").alias("canonical_form"),
        F.array_sort(F.collect_set("name")).alias("aliases"),
        F.sum("n").cast("long").alias("mention_count"),
        F.max("n").cast("long").alias("top_surface_count"),
        F.max("max_conf").alias("confidence"),
        _top3_merge("mention_ex").alias("mentions"),
    )
    # uri / external_ids populate the reference's declared-but-never-set
    # Entity.uri / Entity.external_ids (knowledge_models.py:47-55) with
    # real content: a deterministic URN derived from the canonical id
    uri = F.concat_ws(":", F.lit("urn"), F.lit("entity"), "entity_type", "entity_id")
    # properties fills Entity.properties (knowledge_models.py:37-40,
    # LLM-populated Dict in the reference) with real surface statistics
    properties = F.create_map(
        F.lit("n_surfaces"),
        F.size("aliases").cast("string"),
        F.lit("top_surface_count"),
        F.col("top_surface_count").cast("string"),
    )
    return out.select(
        "entity_id",
        F.col("canonical_form").alias("name"),
        "canonical_form",
        "entity_type",
        "aliases",
        "mention_count",
        "confidence",
        "mentions",
        uri.alias("uri"),
        F.create_map(F.lit("urn"), uri).alias("external_ids"),
        properties.alias("properties"),
    )


def nodes(triples: DataFrame) -> DataFrame:
    """Canonicalized node table (schemas.NODES), exact blocking.
    Two hash aggregations, no joins."""
    return nodes_from_surfaces(per_surface(triples))


EDGE_SURFACE_KEYS = ["subj_name", "subj_type", "predicate", "obj_name", "obj_type"]


def edge_surfaces(triples: DataFrame) -> DataFrame:
    """One row per surface-keyed edge (``EDGE_SURFACE_KEYS``) — the
    MERGEABLE edge stage: weight = co-occurrence count (Relation.weight
    semantics, knowledge_models.py:77-81), confidence = max over the
    merged triples, evidence = Relation.evidence (knowledge_models.py:
    94-97) as a top-3 of supporting sentences, _methods = the sorted
    extraction methods. Every edge table re-keys these groups by two
    endpoint-id columns through ``edges_from_surfaces``: exact ids in
    ``edges``, component ids in LSH canonicalization."""
    # aggregating on the RAW surface keys keeps the fact-stream shuffle
    # narrow: names/predicate (tens of bytes), not two 64-char sha2 hex
    # ids (128 bytes/row). This was a measured 1.38-1.58x CPU-seconds
    # inflation lever at rising thread counts — the aggregation is
    # DRAM-bound and row width is the knob.
    return triples.groupBy(*EDGE_SURFACE_KEYS).agg(
        F.count("*").cast("double").alias("weight"),
        F.max("confidence").alias("confidence"),
        _top3("source_sentence").alias("evidence"),
        F.array_sort(F.collect_set("extraction_method")).alias("_methods"),
    )


def _merge_edges(rows: DataFrame, keys: list[str]) -> DataFrame:
    """The one edge merge, over rows that already carry weight /
    confidence / evidence / _methods: weights sum, confidences max,
    evidence re-takes the top-3, _methods a distinct union — each the
    exact distributive combine, so merging partial groups equals
    grouping the raw triples at once."""
    return rows.groupBy(*keys).agg(
        F.sum("weight").alias("weight"),
        F.max("confidence").alias("confidence"),
        _top3_merge("evidence").alias("evidence"),
        _union_merge("_methods").alias("_methods"),
    )


def combine_edge_surfaces(a: DataFrame, b: DataFrame) -> DataFrame:
    """Merge two edge_surfaces tables exactly: combine(edge_surfaces(X),
    edge_surfaces(Y)) == edge_surfaces(X ++ Y)."""
    return _merge_edges(a.unionByName(b), EDGE_SURFACE_KEYS)


def edges_from_surfaces(
    edge_surfaces_df: DataFrame, subject_id: Column, object_id: Column
) -> DataFrame:
    """Edge table (schemas.EDGES) from surface-keyed edge groups: the
    groups re-key by the two endpoint-id columns and merge once more,
    since distinct surfaces can share an id. A caller that selects only
    some columns pays for no more: the optimizer prunes the unread
    evidence/_methods aggregates at both levels."""
    merged = _merge_edges(
        edge_surfaces_df.withColumns({"subject_id": subject_id, "object_id": object_id}),
        ["subject_id", "predicate", "object_id"],
    )
    # metadata fills Relation.metadata (knowledge_models.py:59-62) with
    # real provenance: evidence count + contributing extraction methods
    metadata = F.create_map(
        F.lit("n_evidence"),
        F.size("evidence").cast("string"),
        F.lit("methods"),
        F.array_join("_methods", ","),
    )
    return merged.select(
        edge_id_col(F.col("subject_id"), F.col("predicate"), F.col("object_id")).alias(
            "edge_id"
        ),
        "subject_id",
        "predicate",
        "object_id",
        "weight",
        "confidence",
        # negated/modality are declared on the reference Relation model
        # (knowledge_models.py:86-93) but never set by its extractor; the
        # schema carries them with the reference defaults
        F.lit(False).alias("negated"),
        F.lit(None).cast("string").alias("modality"),
        "evidence",
        metadata.alias("metadata"),
    )


def edges(triples: DataFrame) -> DataFrame:
    """Canonicalized edge table (schemas.EDGES), exact blocking."""
    # endpoint ids are pure expressions of the group keys, so they are
    # computed on the collapsed rows (edge-surface cardinality) instead
    # of through a surface-id dimension join, which costs a second pass
    # over the triples (measured 1.39 -> 0.87s at sf0.1)
    return edges_from_surfaces(
        edge_surfaces(triples),
        entity_id_col(F.col("subj_name"), F.col("subj_type")),
        entity_id_col(F.col("obj_name"), F.col("obj_type")),
    )


# --------------------------------------------------------------- ontology
# The reference declares an OntologyClass model (knowledge_models.py:
# 148-170: name/label/parent_classes/instances) and a KnowledgeGraph.
# ontology_classes list but never constructs them; the engine
# materializes the dimension: one class per reference EntityType
# (enums.py:28-40), value-like types under a 'value' superclass, all
# under the 'entity' root. Full per-class instance LISTS would be a
# scale-killer (millions of ids per class at corpus scale), so the
# table carries exact counts + top-5 example ids.
ENTITY_CLASS_PARENTS = {
    "person": "entity",
    "organization": "entity",
    "location": "entity",
    "date": "value",
    "product": "entity",
    "concept": "entity",
    "numeric": "value",
    "event": "entity",
    "technology": "entity",
    "document": "entity",
    "other": "entity",
    "value": "entity",
    "entity": "",
}


def ontology_class_dim(spark) -> DataFrame:
    """The (tiny, broadcastable) ontology class dimension."""
    rows = [
        (name, name.capitalize(), parent)
        for name, parent in sorted(ENTITY_CLASS_PARENTS.items())
    ]
    dim = spark.createDataFrame(rows, "name string, label string, parent_class string")
    return dim.withColumn("class_id", F.sha2(F.concat(F.lit("class:"), "name"), 256))


def ontology_classes(spark, nodes_df: DataFrame) -> DataFrame:
    """Class dimension + entity->class inversion stats: exact instance
    counts and top-5 example entity ids per class. One groupBy over the
    node table; the class dim joins broadcast."""
    stats = nodes_df.groupBy("entity_type").agg(
        F.count("*").cast("long").alias("n_instances"),
        F.slice(F.array_sort(F.collect_set("entity_id")), 1, 5).alias("instance_examples"),
    )
    # broadcast must hint the RIGHT (non-preserved) side of a left join —
    # hinting the preserved side is a silent no-op
    return (
        ontology_class_dim(spark)
        .join(F.broadcast(stats.withColumnRenamed("entity_type", "name")), "name", "left")
        .select(
            "class_id",
            "name",
            "label",
            "parent_class",
            F.coalesce("n_instances", F.lit(0).cast("long")).alias("n_instances"),
            F.coalesce("instance_examples", F.array().cast("array<string>")).alias(
                "instance_examples"
            ),
        )
    )


def graph_stats(
    triples: DataFrame, nodes_df: DataFrame, edges_df: DataFrame
) -> DataFrame:
    """The ``KnowledgeGraph.statistics`` / ``quality_metrics`` rollup
    (knowledge_models.py:190-198 — declared dicts the reference never
    fills) materialized as one (stat, value) key/value table:
    triple/entity/edge/predicate/doc counts, confidence
    mean (floor-1e-4, the established float-compare contract) and max,
    per-extraction-method triple counts (``n_method_<m>``), and the
    relation-derived fraction — entities that appear ONLY as objects,
    the exact set the reference auto-creates with entity_type=other
    (triplet_extractor.py:282-314).

    Scale shape: every branch is a tiny aggregate over the checkpointed
    triples stage or the already-derived node/edge tables — no corpus
    rescans, each union leg collapses to a handful of rows."""
    f4 = lambda c: F.floor(c * 10000.0) / 10000.0  # noqa: E731

    def kv(df: DataFrame) -> DataFrame:
        return df.select(
            F.col("stat").cast("string"), F.col("value").cast("double")
        )

    t = triples.agg(
        F.count("*").alias("n_triples"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.countDistinct("predicate").alias("n_predicates"),
        f4(F.avg("confidence")).alias("mean_confidence"),
        F.max("confidence").alias("max_confidence"),
    )
    t_kv = kv(
        t.selectExpr(
            "stack(5, 'n_triples', double(n_triples), 'n_docs', double(n_docs), "
            "'n_predicates', double(n_predicates), "
            "'mean_confidence', mean_confidence, "
            "'max_confidence', max_confidence) AS (stat, value)"
        )
    )
    methods = kv(
        triples.groupBy("extraction_method")
        .count()
        .select(
            F.concat(F.lit("n_method_"), "extraction_method").alias("stat"),
            F.col("count").alias("value"),
        )
    )
    subj = triples.select(
        F.col("subj_name").alias("name"), F.col("subj_type").alias("entity_type")
    ).distinct()
    obj = triples.select(
        F.col("obj_name").alias("name"), F.col("obj_type").alias("entity_type")
    ).distinct()
    auto = kv(
        obj.join(subj, ["name", "entity_type"], "left_anti")
        .agg(F.count("*").alias("n_obj_only"))
        .crossJoin(obj.unionByName(subj).distinct().agg(F.count("*").alias("n_ent")))
        .select(
            F.lit("auto_created_fraction").alias("stat"),
            f4(F.col("n_obj_only") / F.col("n_ent")).alias("value"),
        )
    )
    n_nodes = kv(
        nodes_df.agg(F.count("*").alias("value")).select(
            F.lit("n_entities").alias("stat"), "value"
        )
    )
    n_edges = kv(
        edges_df.agg(F.count("*").alias("value")).select(
            F.lit("n_edges").alias("stat"), "value"
        )
    )
    return t_kv.unionByName(methods).unionByName(auto).unionByName(n_nodes).unionByName(
        n_edges
    )


def integrity_violations(nodes_df: DataFrame, edges_df: DataFrame) -> DataFrame:
    """Prompt-contract invariant (triplet_extractor.py:205-209): every
    edge endpoint exists in nodes. Returns the violating endpoint ids
    (must be empty)."""
    ids = nodes_df.select("entity_id")
    subj_missing = edges_df.select(F.col("subject_id").alias("entity_id")).join(
        ids, "entity_id", "left_anti"
    )
    obj_missing = edges_df.select(F.col("object_id").alias("entity_id")).join(
        ids, "entity_id", "left_anti"
    )
    return subj_missing.unionByName(obj_missing).distinct()
