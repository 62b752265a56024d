"""Table IO helpers (spread rule, merge upsert), binaryFile media source
and CSV diagnostics sink (S4/K2 analogs)."""

import re

import pytest

from pdf2ontology_spark.operators import segment
from pdf2ontology_spark.sources import binary, tables


def test_binary_dir_source(spark, tmp_path):
    d = tmp_path / "imgs"
    d.mkdir()
    (d / "page_2.png").write_bytes(b"\x89PNG-fake-2")
    (d / "page_1.png").write_bytes(b"\x89PNG-fake-1")
    (d / "notes.txt").write_text("ignored")

    files = binary.load_media_dir(spark, str(d))
    rows = files.collect()
    assert [r.path.rsplit("/", 1)[1] for r in rows] == ["page_1.png", "page_2.png"]
    assert rows[0].length == 11

    man = {r.path.rsplit("/", 1)[1]: r.content_md5 for r in binary.media_manifest(files).collect()}
    import hashlib

    assert man["page_1.png"] == hashlib.md5(b"\x89PNG-fake-1").hexdigest()


def test_spans_csv_sink(spark, tmp_path):
    docs = tables.load_documents_spans(spark, "/root/testdata/sf0.001")
    spans = segment.explode_spans(docs)
    out = str(tmp_path / "csv")
    binary.write_spans_csv(spans, out)
    back = spark.read.option("header", True).csv(out)
    assert back.count() == spans.count()
    assert set(back.columns) == {"doc_id", "kind", "offset", "n_chars", "media_ref"}


def test_merge_upsert_semantics(spark, tmp_path):
    """Iceberg MERGE analog: matched keys update, unmatched keys keep,
    new keys insert; the rewrite is atomic (temp dir + rename)."""
    from pdf2ontology_spark.sources import tables

    path = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [("a", 1, "old"), ("b", 2, "old")], "k string, v int, tag string"
    )
    tables.merge_upsert(spark, path, base, ["k"])
    upd = spark.createDataFrame(
        [("b", 20, "new"), ("c", 30, "new")], "k string, v int, tag string"
    )
    tables.merge_upsert(spark, path, upd, ["k"])
    got = {r.k: (r.v, r.tag) for r in spark.read.parquet(path).collect()}
    assert got == {"a": (1, "old"), "b": (20, "new"), "c": (30, "new")}

    # crash recovery: simulate dying between the two commit renames
    import os
    import shutil

    old_dir = path + "._merge_old"
    shutil.move(path, old_dir)  # table vanished mid-commit, backup present
    upd2 = spark.createDataFrame([("d", 40, "new2")], "k string, v int, tag string")
    tables.merge_upsert(spark, path, upd2, ["k"])
    got2 = {r.k: r.v for r in spark.read.parquet(path).collect()}
    # previous data restored from the backup, new key merged in
    assert got2 == {"a": 1, "b": 20, "c": 30, "d": 40}
    assert not os.path.exists(old_dir)


@pytest.mark.parametrize("case", ["one_split", "wide_scan", "untuned_conf"])
def test_spread_small_scan_both_sides(spark, tmp_path, case):
    """Both sides of the one spread switch: a scan narrower than
    ``spread_width`` is hashed on the key to exactly that width; a scan
    at least that wide is left alone (no Exchange); and an untuned
    shuffle conf (spark-submit's 200) is capped at 4 waves of cores."""
    conf = "spark.sql.shuffle.partitions"
    before = spark.conf.get(conf)
    if case == "untuned_conf":
        spark.conf.set(conf, "200")
    try:
        width = tables.spread_width(spark)
        if case == "untuned_conf":
            assert width == 4 * spark.sparkContext.defaultParallelism < 200
        rows = spark.range(4 * width).selectExpr("id AS k", "id * 2 AS v")
        path = str(tmp_path / case)
        if case == "wide_scan":
            rows.repartition(width).write.parquet(path)
        else:
            rows.coalesce(1).write.parquet(path)
        df = spark.read.parquet(path)
        n_scan = df.rdd.getNumPartitions()
        assert n_scan >= width if case == "wide_scan" else n_scan == 1
        plan = tables.spread_small_scan(df, "k")._jdf.queryExecution().executedPlan().toString()
        exchanges = re.findall(r"Exchange hashpartitioning\(k#\d+L?, (\d+)\)", plan)
        assert exchanges == ([] if case == "wide_scan" else [str(width)]), plan
        assert plan.count("Exchange") == len(exchanges), plan
    finally:
        spark.conf.set(conf, before)
