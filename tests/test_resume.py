"""Idempotent checkpoint/resume (FIXTURES.md F5, SURVEY.md §5 item 4):
delete downstream checkpoints, re-run, outputs byte-identical."""

import os
import shutil

from pyspark.sql import functions as F

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
    # the footer-derived key range of every file equals a scan's
    for stage in ("spans", "triples"):
        scan = (
            spark.read.parquet(str(tmp_path / "ck" / stage))
            .groupBy(F.input_file_name().alias("file"))
            .agg(F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi"))
        )
        want = {r.file: (r.lo, r.hi) for r in scan.collect()}
        got = lin.filter(f"stage = '{stage}' AND n_rows > 0").collect()
        assert want and {r.file: (r.key_min, r.key_max) for r in got} == want


def test_metrics_row_for_every_stage(spark, tmp_path):
    """_metrics is read from the written files' footers: every stage gets
    rows, the empty quarantine stage included (an explicit rows_out = 0),
    and each stage's rows_out sums to its row count."""
    ckpt = CheckpointStore(spark, str(tmp_path / "ck"), run_id="m1")
    out = run_kg_pipeline(spark, "/root/testdata/sf0.001", ckpt=ckpt)
    per_stage = ckpt.metrics().groupBy("stage").agg(F.sum("rows_out").alias("n")).collect()
    rows = {r.stage: r.n for r in per_stage}
    assert set(rows) == {"spans", "quarantine_spans", "triples", "nodes", "edges"}
    assert rows["quarantine_spans"] == out["quarantine"].count()
    for stage in ("triples", "nodes", "edges"):
        assert rows[stage] == out[stage].count(), stage
