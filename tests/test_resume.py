"""Idempotent checkpoint/resume (FIXTURES.md F5, SURVEY.md §5 item 4):
delete downstream checkpoints, re-run, outputs byte-identical."""

import os
import shutil

from pdf2ontology_spark.plans.pipeline import run_kg_pipeline
from pdf2ontology_spark.sources.checkpoint import CheckpointStore

HASH_EXPR = (
    "sum(cast(conv(substr(sha2(concat_ws('\\u001f', doc_id, coalesce(table_id,''),"
    " subj_name, predicate, obj_name, source_sentence), 256), 1, 15), 16, 10)"
    " as decimal(38,0))) as h"
)


def test_resume_identical(spark, tmp_path):
    d = str(tmp_path / "ckpt")
    out1 = run_kg_pipeline(spark, "/root/testdata/sf0.001", ckpt=CheckpointStore(spark, d, "r1"))
    h1 = out1["triples"].selectExpr(HASH_EXPR).collect()[0][0]
    n_nodes1 = out1["nodes"].count()

    # simulate mid-pipeline failure: last two stages lost
    shutil.rmtree(os.path.join(d, "nodes"))
    shutil.rmtree(os.path.join(d, "edges"))

    ck2 = CheckpointStore(spark, d, "r2")
    out2 = run_kg_pipeline(spark, "/root/testdata/sf0.001", ckpt=ck2)
    h2 = out2["triples"].selectExpr(HASH_EXPR).collect()[0][0]
    assert h1 == h2
    assert out2["nodes"].count() == n_nodes1

    m = ck2.metrics()
    reused = {r.stage for r in m.filter("reused AND run_id='r2'").select("stage").distinct().collect()}
    assert {"spans", "triples"} <= reused
    recomputed = {
        r.stage for r in m.filter("NOT reused AND run_id='r2'").select("stage").distinct().collect()
    }
    assert {"nodes", "edges"} <= recomputed


def _stages(ck, run_id, reused):
    m = ck.metrics().filter(f"run_id = '{run_id}' AND reused = {reused}")
    return {r.stage for r in m.select("stage").distinct().collect()}


def test_partial_checkpoint_recomputes_stage(spark, tmp_path):
    """A stage directory without _SUCCESS (a write that died mid-way) is
    not complete: the next run recomputes that stage instead of reading
    its partial files, and the result equals the first run's."""
    d = str(tmp_path / "ckpt")
    out1 = run_kg_pipeline(spark, "/root/testdata/sf0.001", ckpt=CheckpointStore(spark, d, "r1"))
    h1 = out1["triples"].selectExpr(HASH_EXPR).collect()[0][0]

    os.remove(os.path.join(d, "triples", "_SUCCESS"))

    ck2 = CheckpointStore(spark, d, "r2")
    out2 = run_kg_pipeline(spark, "/root/testdata/sf0.001", ckpt=ck2)
    assert out2["triples"].selectExpr(HASH_EXPR).collect()[0][0] == h1
    assert "triples" in _stages(ck2, "r2", reused=False)
    assert "triples" not in _stages(ck2, "r2", reused=True)
    assert "spans" in _stages(ck2, "r2", reused=True)


def test_lineage_covers_all_docs(spark, tmp_path):
    """K4: per-(doc-range, stage) lineage — every doc-keyed checkpoint
    file is accounted for with its covered key range and row count."""
    from pdf2ontology_spark.plans.pipeline import run_kg_pipeline
    from pdf2ontology_spark.sources.checkpoint import CheckpointStore

    ckpt = CheckpointStore(spark, str(tmp_path / "ck"), run_id="lineage-test")
    out = run_kg_pipeline(spark, "/root/testdata/sf0.001", ckpt=ckpt)
    lin = ckpt.lineage()
    spans_lineage = lin.filter("stage = 'spans'")
    assert spans_lineage.count() >= 1
    total = sum(r.n_rows for r in spans_lineage.collect())
    assert total == out["spans"].count()
    # node/edge stages have no doc key -> no lineage rows, metrics only
    assert lin.filter("stage = 'nodes'").count() == 0
    assert ckpt.metrics().filter("stage = 'nodes'").count() >= 1
