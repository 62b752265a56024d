"""Round-3 robustness fixes: directory-safe scan sizing, merge-commit
crash completion, shingle-width threading, embedding-dim guard."""

import os

import pytest
from pyspark.sql import functions as F

from pdf2ontology_spark.operators import dedup, similarity
from pdf2ontology_spark.sources import tables


def test_scan_bytes_directory(spark, tmp_path):
    """A Spark-written parquet DIRECTORY must size as the sum of its data
    files, not the ~4KB directory inode (which made the small-scan test
    always pass and shuffled the full corpus)."""
    out = str(tmp_path / "tbl")
    spark.range(0, 20000).withColumn("pad", F.sha2(F.col("id").cast("string"), 256)) \
        .repartition(4).write.parquet(out)
    total = tables._scan_bytes(out)
    files = sum(
        os.path.getsize(os.path.join(out, f))
        for f in os.listdir(out)
        if f.endswith(".parquet")
    )
    assert total == files
    assert total > os.path.getsize(out)  # inode size would under-report
    # single files keep the old behavior
    one = next(f for f in os.listdir(out) if f.endswith(".parquet"))
    p = os.path.join(out, one)
    assert tables._scan_bytes(p) == os.path.getsize(p)


def test_merge_crash_completion_from_tmp(spark, tmp_path):
    """A crash BETWEEN the two commit renames leaves the finished merge
    in ._merge_tmp — recovery must COMMIT it (not discard it), and the
    read-path helper must repair without requiring another merge."""
    import shutil

    path = str(tmp_path / "tbl")
    base = spark.createDataFrame([("a", 1), ("b", 2)], "k string, v int")
    tables.merge_upsert(spark, path, base, ["k"])
    upd = spark.createDataFrame([("b", 20), ("c", 30)], "k string, v int")
    tables.merge_upsert(spark, path, upd, ["k"])
    # simulate dying after rename(path, old) but before rename(tmp, path):
    # re-stage the committed table as tmp, move the original to old
    shutil.copytree(path, path + "._merge_tmp")
    shutil.move(path, path + "._merge_old")
    got = {r.k: r.v for r in tables.read_merged(spark, path).collect()}
    assert got == {"a": 1, "b": 20, "c": 30}
    assert not os.path.exists(path + "._merge_tmp")
    assert not os.path.exists(path + "._merge_old")


def test_dedup_clusters_threads_shingle_width(spark):
    """Candidates and verification must use the SAME shingle set: these
    texts clear the 0.7 Jaccard bar at w=2 (6/8) but not at w=3 (4/8),
    so clustering succeeds only if w=2 reaches the MinHash stage too."""
    df = spark.createDataFrame(
        [
            ("d1", "alpha beta gamma delta epsilon zeta eta theta"),
            ("d2", "alpha beta gamma delta epsilon zeta eta OMEGA"),
            ("d3", "completely unrelated text about something else entirely"),
        ],
        "doc_id string, text string",
    )
    out = {
        r.id: r.cluster_id
        for r in dedup.dedup_clusters(df, "doc_id", "text", threshold=0.7, w=2).collect()
    }
    assert out["d1"] == out["d2"] == "d1"
    assert out["d3"] == "d3"


def test_signature_dim_mismatch_raises(spark):
    """Heterogeneous vector lengths must fail loudly, not silently bias
    signature bits to 0 via null-padded zip_with."""
    ok = spark.createDataFrame(
        [(1, [0.1, 0.2, 0.3]), (2, [0.3, 0.1, 0.2])], "vec_id int, embedding array<double>"
    )
    # collect, not count: a count prunes the band-key kernel away
    assert len(similarity.banded_keys(ok).collect()) == 2
    bad = spark.createDataFrame(
        [(1, [0.1, 0.2, 0.3]), (2, [0.3, 0.1])], "vec_id int, embedding array<double>"
    )
    with pytest.raises(Exception, match="dimension mismatch"):
        similarity.banded_keys(bad).collect()
