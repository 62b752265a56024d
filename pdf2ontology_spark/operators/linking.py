"""Entity linking beyond exact-name match (SURVEY.md §1.4/§7.2): name
normalization, MinHash-LSH blocking over character 3-gram shingles,
exact-Jaccard verification, connected-components canonicalization, and
graph rebuild on canonical ids.

This populates the reference's declared-but-never-written
Entity.canonical_form / entity dedup beyond exact name
(/root/reference/src/pydantic_models/knowledge_models.py:43-46; exact
name map at triplet_extractor.py:253-272).

Pipeline (all DataFrame ops):
1. surfaces: graph.per_surface's (name, entity_type, n, max_conf)
   rows with a normalized key (graph.canonical_key_col) — value-like
   types (numeric/date) keep exact keys and never enter fuzzy blocking.
2. exact-key contraction: every (key, entity_type) group is collapsed to
   its min-surface_id representative with ONE window (``rep_id``); the
   representatives are then the narrow filter surface_id == rep_id.
   Exact-key pairs form cliques, so contracting them first yields
   identical connected components while CC only ever sees the (tiny)
   fuzzy bridge edges between group representatives. This removed the
   O(group²) exact self-join pairs and most CC work.
3. fuzzy pairs between representatives = MinHash-LSH band match AND
   char-3-gram Jaccard >= threshold. LSH bounds the self-join; the
   Jaccard check removes banding false positives. Signatures are
   computed once per distinct key, in the row (one ``array_min`` per
   slot over the key's gram array, no shuffle), and the band join
   carries the gram arrays, so ``dedup.jaccard_at_least`` (size prefilter
   + exact Jaccard, as in dedup_clusters) runs on its output inline.
4. connected components (components.connected_components) over the
   bridge edges — one lazy single-task union-find, exact; AQE picks the
   label join at run time.
5. canonical_nodes/canonical_edges: groupBy component, representative =
   most frequent surface form (graph.top_surface); graph.edge_surfaces'
   surface-keyed edge groups take their endpoints' component ids via a
   surface -> component dimension join and merge through
   graph.edges_from_surfaces, the same edge stage the exact and
   streamed edge tables use.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pdf2ontology_spark.operators import components, dedup, graph

JACCARD_THRESHOLD = 0.6
LSH_K = 12
LSH_BANDS = 6


def _char_shingles_expr(col_name: str, n: int = 3) -> Column:
    """Distinct character n-grams of a (normalized) string."""
    c = F.col(col_name)
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(c) - (n - 1), F.lit(1))),
            lambda i: c.substr(i, F.lit(n)),
        )
    )


def exact_contract(surf: DataFrame) -> DataFrame:
    """surf + rep_id: min surface_id over each exact (key, entity_type)
    group. Exact-key candidate pairs are cliques by construction, so this
    single window aggregation replaces the exact self-join AND shrinks
    the connected-components input to one node per distinct key."""
    w = Window.partitionBy("key", "entity_type")
    return surf.withColumn("rep_id", F.min("surface_id").over(w))


def _fuzzy_base(reps: DataFrame) -> DataFrame:
    """Non-value-type reps with their char-3-gram arrays."""
    s = reps.select("surface_id", "entity_type", "key")
    return s.filter(~F.col("entity_type").isin(graph.VALUE_TYPES)).withColumn(
        "grams", _char_shingles_expr("key")
    )


def _band_join(fuzzy_base: DataFrame) -> DataFrame:
    """Every LSH band collision (id_a < id_b) between reps, one row per
    colliding band, carrying both sides' gram arrays (ga, gb) so the
    size prefilter and the exact Jaccard run inline on the join output.
    The MinHash signature is computed in the row: ``grams`` is already a
    distinct array, so each slot is an ``array_min`` over it — no
    explode and no groupBy(surface_id) shuffle. LSH_K independent
    md5('i:'||gram) digests per gram — NOT the document dedup's
    one-digest mix family: the surfaces input is tiny (distinct
    normalized keys, ~8 grams each) so the digest cost is immaterial,
    while the recall of specific near-dup name pairs is fixture-pinned
    (tests/test_linking.py) and the banding draw of this family is the
    one those pins encode. SQL strings: one parse per band instead of
    ~6 py4j round-trips per slot (see dedup.simhash)."""
    r = LSH_K // LSH_BANDS
    slot = "array_min(transform(grams, x -> substring(md5(concat('{}:', x)), 1, 16)))"
    band_keys = ", ".join(
        f"named_struct('band', {b}, 'band_key', md5(concat_ws('|', "
        + ", ".join(slot.format(b * r + j) for j in range(r))
        + ")))"
        for b in range(LSH_BANDS)
    )
    bands = fuzzy_base.select(
        "surface_id", "entity_type", "grams", F.expr(f"explode(array({band_keys}))").alias("bb")
    ).select("surface_id", "entity_type", "grams", "bb.*")

    def side(s: str) -> DataFrame:
        return bands.select(
            F.col("surface_id").alias(f"id_{s}"), F.col("grams").alias(f"g{s}"),
            "entity_type", "band", "band_key",
        )

    return side("a").join(side("b"), ["entity_type", "band", "band_key"]).filter(
        F.col("id_a") < F.col("id_b")
    )


def banded_candidates(fuzzy_base: DataFrame) -> DataFrame:
    """Raw LSH band-collision pairs (id_a < id_b) between reps — the
    blocking stage only, before any verification."""
    return _band_join(fuzzy_base).select("id_a", "id_b").distinct()


def candidate_pairs(reps: DataFrame) -> DataFrame:
    """Fuzzy (id_a, id_b) bridge links between exact-group reps, within
    entity_type. Only non-value types; minhash over char-3-grams of the
    key, banded (LSH_BANDS bands of LSH_K/LSH_BANDS rows). The band join
    carries the gram arrays, so the size prefilter and the exact
    Jaccard >= threshold check run inline on its output, followed by
    ONE pair ``distinct`` — no dimension joins back to the grams.

    ``reps`` needs (surface_id, entity_type, key) — one row per distinct
    key (the exact-group representative).
    """
    return (
        _band_join(_fuzzy_base(reps))
        .filter(dedup.jaccard_at_least("ga", "gb", JACCARD_THRESHOLD))
        .select("id_a", "id_b")
        .distinct()
    )


def canonicalize(triples: DataFrame) -> dict[str, DataFrame]:
    """Full LSH + connected-components canonicalization.

    Returns {surfaces, mapping, nodes, edges}: mapping is
    (surface_id -> canonical_id); nodes/edges are the canonical graph.
    Output is identical to running CC over exact ∪ fuzzy surface pairs:
    component labels are min surface_id, and each group rep IS the min
    surface_id of its exact group.
    """
    surf = (
        graph.per_surface(triples)
        .select("name", "entity_type", "n", "max_conf")
        .withColumn("key", graph.canonical_key_col(F.col("name"), F.col("entity_type")))
        .withColumn("surface_id", F.sha2(F.concat_ws(graph.SEP, "name", "entity_type"), 256))
    )
    surf = exact_contract(surf).cache()
    # rep_id IS the min surface_id of the exact (key, entity_type) group,
    # so the rep rows are a narrow filter — no second aggregation
    reps = surf.filter(F.col("surface_id") == F.col("rep_id")).select(
        "surface_id", "entity_type", "key"
    )
    pairs = candidate_pairs(reps)
    comp = components.connected_components(pairs, "id_a", "id_b")
    mapping = (
        surf.join(comp.withColumnRenamed("node", "rep_id"), "rep_id", "left")
        .withColumn("canonical_id", F.coalesce("component", "rep_id"))
        .select("surface_id", "name", "entity_type", "n", "max_conf", "canonical_id")
    )
    nodes = mapping.groupBy("canonical_id").agg(
        graph.top_surface("name").alias("canonical_form"),
        graph.top_surface("entity_type").alias("entity_type"),
        F.array_sort(F.collect_set("name")).alias("aliases"),
        F.sum("n").cast("long").alias("mention_count"),
        F.max("max_conf").alias("confidence"),
    )

    m_subj = mapping.select(
        F.col("name").alias("subj_name"),
        F.col("entity_type").alias("subj_type"),
        F.col("canonical_id").alias("subject_id"),
    )
    m_obj = mapping.select(
        F.col("name").alias("obj_name"),
        F.col("entity_type").alias("obj_type"),
        F.col("canonical_id").alias("object_id"),
    )
    # join at edge-surface cardinality, then the one edge merge
    edges = graph.edges_from_surfaces(
        graph.edge_surfaces(triples)
        .join(m_subj, ["subj_name", "subj_type"])
        .join(m_obj, ["obj_name", "obj_type"]),
        F.col("subject_id"),
        F.col("object_id"),
    ).select("edge_id", "subject_id", "predicate", "object_id", "weight", "confidence")
    return {"surfaces": surf, "pairs": pairs, "mapping": mapping, "nodes": nodes, "edges": edges}
