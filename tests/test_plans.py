"""Plan-regression guards: the physical properties that matter at
100 TB must not silently regress — predicate pushdown reaching scans,
broadcast on dimension joins, no row-at-a-time Python in core plans."""

import contextlib
import io
import re

import __spark_entry__ as entry

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_triples_plan_single_scan_and_no_python(spark):
    """Every extraction-derived query is one per-document projection:
    ONE corpus scan, no shuffle beyond the small-scan spread of the
    documents (tables.spread_small_scan), no window or aggregation (all
    table/sentence state is in-row), and no Python in the hot path.
    (There are no row-level predicates to push: every document is
    consumed; the kind routing is in-array.)"""
    for q in [
        entry.q_triples_all,
        entry.q_triples_table,
        entry.q_triples_table_strict,
        entry.q_triples_text,
        entry.q_table_cells,
        entry.q_relationship_entries,
        entry.q_merged_sentences,
    ]:
        plan = plan_of(q(spark, SF))
        name = q.__name__
        # formatted explain prints each node twice (tree + detail): count
        # the "(n) Scan parquet" detail headers, one per physical scan node
        assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, (
            f"{name} must scan the corpus once"
        )
        assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 1, (
            f"{name}: only the small-scan spread may shuffle"
        )
        assert "Window" not in plan and "HashAggregate" not in plan, name
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, (
            f"{name} must stay JVM-side"
        )


def test_shipping_priority_broadcasts_and_prunes(spark):
    plan = plan_of(entry.q_shipping_priority(spark, SF))
    assert "BroadcastHashJoin" in plan, "filtered dims should broadcast"
    # column pruning: lineitem scan must not read unused columns
    m = re.search(r"ReadSchema: (struct<l_[^\n]+)", plan)
    assert m and "l_quantity" not in m.group(1), "lineitem scan should prune l_quantity"


def test_embedding_pairs_has_no_cartesian(spark):
    plan = plan_of(entry.q_embedding_cosine_pairs(spark, SF))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan, (
        "near-dup pairs must come from the banded LSH equi-join, not all-pairs"
    )


def test_media_features_is_arrow_batched(spark):
    plan = plan_of(entry.q_media_features(spark, SF))
    assert "MapInPandas" in plan, "media decode must be the Arrow-batched path"
    assert "BatchEvalPython" not in plan, "no row-at-a-time Python UDFs"


def test_media_stages_salt_on_composite_key(spark):
    """Every media decode stage must repartition on xxhash64(doc_id,
    media_ref) — the skew salt that keeps a 500-media-span gallery doc
    from pinning one partition (north rule; the row histogram it buys is
    pinned by tests/test_media_streaming.py::
    test_media_salt_balances_gallery_docs). A doc_id-only hash would put
    a whole doc's media in one bucket. The list covers every operator
    that runs through media._media_stage."""
    for q in [
        entry.q_media_quality,
        entry.q_media_features,
        entry.q_assess_media_real,
        entry.q_content_layout,
        entry.q_skew_rotation,
        entry.q_preprocessed_media,
    ]:
        plan = plan_of(q(spark, SF))
        assert re.search(r"hashpartitioning\(xxhash64\(doc_id#\d+, media_ref", plan), (
            f"{q.__name__} lost the composite-key salt exchange"
        )


def test_graph_queries_read_checkpointed_stage(spark):
    """nodes/edges must consume the extraction as a materialized stage
    (lazy localCheckpoint), not re-expand the fused plan — edges alone
    re-ran extraction 3x (surface dim x2 + fact stream) before round 5.
    Zero parquet scans: the only input is the checkpointed stage."""
    for q in [entry.q_edges, entry.q_nodes, entry.q_entities_distinct]:
        plan = plan_of(q(spark, SF))
        assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 0, (
            f"{q.__name__} must read the triples stage, not re-scan the corpus"
        )
        assert "ExistingRDD" in plan


def test_grid_family_single_logical_pass(spark):
    """The fused grid family (round 7) must read the detections parquet
    exactly ONCE with the bucket filter pushed to the scan, shuffle once
    (the per-table aggregation) and run the per-table logic in ONE
    Arrow-batched kernel — no windows, no joins. The pre-round-5
    composition re-expanded the detections subtree 17x in
    q_grid_row_maps; the round-5/6 staged path still scanned 3x and
    shuffled 4x."""
    for q in [
        entry.q_grid_row_maps,
        entry.q_grid_spanning_cells,
        entry.q_grid_assign_cells,
    ]:
        plan = plan_of(q(spark, SF))
        n = len(re.findall(r"\(\d+\) Scan parquet", plan))
        assert n == 1, f"{q.__name__}: {n} scans != 1"
        assert re.search(r"PushedFilters: \[[^\]]*In\(bucket", plan), (
            "bucket filter must push to the scan"
        )
        assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 1, (
            f"{q.__name__}: only the per-table aggregation may shuffle"
        )
        assert "MapInPandas" in plan and "Window" not in plan


def test_shingle_stage_materializes_words_once(spark):
    """The shingle transform must read a MATERIALIZED words array, not
    re-inline the split+filter tokenization into every slice() — the
    O(n_words^2) interpreted amplification that was the entire minhash
    wall time at sf0.1. One split() in the plan = one tokenization."""
    from pdf2ontology_spark.operators import dedup

    docs = spark.createDataFrame(
        [("d1", "eins zwei drei vier fünf")], "doc_id string, text string"
    )
    plan = plan_of(dedup.shingles(docs, "doc_id", "text"))
    assert plan.count("split(") == 1, plan


def test_canonicalize_surfaces_prune_node_columns(spark):
    """LSH canonicalization builds its surface table from
    graph.per_surface, whose mention_ex top-3 (collect_set) and
    entity_id (sha2 over the canonical key) it does not read: the
    optimized plan must prune both, leaving one mention explode and one
    two-column count/max aggregation. Its edges go through the shared
    edge merge (graph.edges_from_surfaces) but keep only weight and
    confidence, so no evidence or _methods array is collected."""
    from pdf2ontology_spark.operators import linking
    from pdf2ontology_spark.plans.pipeline import run_kg_pipeline

    trips = run_kg_pipeline(spark, SF)["triples"].localCheckpoint()
    out = linking.canonicalize(trips)
    surf = out["surfaces"]
    surf.unpersist()
    edges_plan = out["edges"].select("*")._jdf.queryExecution().optimizedPlan().toString()
    for agg in ("collect_set", "collect_list"):
        assert agg not in edges_plan, edges_plan
    # a fresh frame, so the dropped cache entry does not stand in for the plan
    plan = surf.select("*")._jdf.queryExecution().optimizedPlan().toString()
    assert "collect_set" not in plan, plan
    hashed = re.findall(r"sha2\((.*?), 256\)", plan)
    assert len(hashed) == 1 and "regexp_replace" not in hashed[0], (
        "only surface_id (over name, entity_type) may be hashed"
    )
    assert plan.count("Generate explode(") == 1, plan
