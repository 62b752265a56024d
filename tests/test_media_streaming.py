"""Media plumbing (mapInPandas real PNG decode) + streaming micro-batch
equivalence with the batch pipeline."""

import os
import time

import pytest
from pyspark.sql import functions as F

from pdf2ontology_spark import png_codec, raster
from pdf2ontology_spark.operators import media, segment, triples
from pdf2ontology_spark.sources import tables
from pdf2ontology_spark.streaming import incremental
from pdf2ontology_spark.streaming.incremental import stream_triples


def test_media_features_real_decode(spark):
    docs = tables.load_documents_spans(spark, "/root/testdata/sf0.001")
    spans = segment.explode_spans(docs)
    blobs = tables.load_media_blobs(spark, "/root/testdata/sf0.001")
    feats = media.media_features(spans, blobs).cache()
    n_media = spans.filter("kind = 'media'").count()
    assert feats.count() == n_media
    assert feats.filter("NOT decode_ok").count() == 0
    r = feats.orderBy("doc_id", "offset").first()
    # dims/format come from the actual PNG header, phash from the
    # decoded pixels — identical across runs (deterministic store)
    r2 = media.media_features(spans, blobs).orderBy("doc_id", "offset").first()
    assert r == r2
    assert (r.width, r.height, r.format) == (raster.GRID_W, raster.GRID_H, "png")
    assert r.phash == media.ahash_batch(raster.synth_raster(r.media_ref)[None])[0]
    stats = media.media_stats(feats)
    assert stats.count() == spans.filter("kind='media'").select("doc_id").distinct().count()


def test_media_features_corrupt_blob_quarantined(spark):
    """Per-item tolerance (F11): a corrupt blob, or a ref with no blob
    in the store, yields decode_ok=false with zeroed metadata instead of
    failing the Arrow stage or dropping the row."""
    good = png_codec.encode_png_gray(raster.synth_raster("media://d1/0.png"))
    rows = [
        ("d1", "media", "", "media://d1/0.png", 0),
        ("d1", "media", "", "media://d1/1.png", 1),
        ("d1", "media", "", "media://d1/2.png", 2),  # not in the blob store
    ]
    spans = spark.createDataFrame(rows, "doc_id string, kind string, text string, media_ref string, offset int")
    blobs = spark.createDataFrame(
        [("media://d1/0.png", bytearray(good)), ("media://d1/1.png", bytearray(b"NOTAPNG" + good))],
        "media_ref string, png binary",
    )
    out = {r.media_ref: r for r in media.media_features(spans, blobs).collect()}
    assert out["media://d1/0.png"].decode_ok
    for ref in ("media://d1/1.png", "media://d1/2.png"):
        bad = out[ref]
        assert not bad.decode_ok and bad.width == 0 and bad.phash == ""
    stats = media.media_stats(media.media_features(spans, blobs)).first()
    assert (stats.n_media, stats.n_ok) == (3, 1)


@pytest.mark.parametrize("store", ["parquet", "memory"])
def test_media_salt_balances_gallery_docs(spark, fixture_blobs, store):
    """The composite salt spreads a gallery doc's media: 2 docs x 400
    media spans plus 400 docs x 2, at 8 shuffle partitions. The rows of
    media_quality's Arrow stage stay within 1.3x of the mean partition,
    while the same rows keyed by doc_id alone reach >= 2x (each gallery
    doc lands whole in one bucket) — the deterministic row histogram
    behind BENCH/SKEW_r6.md. A parquet store is broadcast onto the
    salted rows; an in-memory store built from a Python list has no
    size estimate, so its join shuffles on media_ref and the salt must
    survive that join."""
    rows = [(f"g{d}", i) for d in range(2) for i in range(400)]
    rows += [(f"d{d}", i) for d in range(400) for i in range(2)]
    spans = spark.createDataFrame(
        [(doc, "media", "", f"media://{doc}/{i}.png", i) for doc, i in rows],
        "doc_id string, kind string, text string, media_ref string, offset int",
    )
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert n_part == 8

    def max_over_mean(df):
        sizes = [r["count"] for r in df.groupBy(F.spark_partition_id()).count().collect()]
        assert sum(sizes) == len(rows)
        return max(sizes) * n_part / len(rows)

    refs = [f"media://{doc}/{i}.png" for doc, i in rows]
    if store == "parquet":
        blobs = fixture_blobs(refs)
    else:
        blobs = spark.createDataFrame(
            [(r, bytearray(png_codec.encode_png_gray(raster.synth_raster(r)))) for r in refs],
            "media_ref string, png binary",
        )
    assert max_over_mean(media.media_quality(spans, blobs)) <= 1.3
    assert max_over_mean(spans.repartition(n_part, F.xxhash64("doc_id"))) >= 2


def test_corrupt_png_fails_non_tolerant_operators(spark, tmp_path):
    """Only media_features quarantines bad bytes (F11). The other
    operators must fail loudly on a truncated PNG, and on a ref missing
    from the blob store, and write nothing."""
    from pdf2ontology_spark.operators import condition

    ref = "media://d1/0.png"
    good = png_codec.encode_png_gray(raster.synth_raster(ref))
    spans = spark.createDataFrame(
        [("d1", "media", "", ref, 0)],
        "doc_id string, kind string, text string, media_ref string, offset int",
    )
    stores = {
        "truncated": [(ref, bytearray(good[:-8]))],
        "missing": [("media://d1/other.png", bytearray(good))],
    }
    for case, store in stores.items():
        blobs = spark.createDataFrame(store, "media_ref string, png binary")
        for name, df in [
            ("media_quality", media.media_quality(spans, blobs)),
            ("apply_actions", media.apply_actions(condition.assess_media(spans), blobs)),
        ]:
            out = tmp_path / case / name
            with pytest.raises(Exception, match="PngFormatError"):
                df.write.parquet(str(out))
            assert not list(out.glob("*.parquet")), f"{name} wrote rows ({case})"


def test_stream_matches_batch(spark, tmp_path):
    docs = tables.load_documents_spans(spark, "/root/testdata/sf0.001")
    in_dir, out_dir, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    docs.write.parquet(in_dir)

    q = stream_triples(spark, in_dir, out_dir, ckpt, available_now=True)
    q.awaitTermination(120)

    streamed = spark.read.parquet(out_dir)
    golden = tables.load_golden_triples(spark, "/root/testdata/sf0.001")
    cols = golden.columns
    assert streamed.select(*cols).exceptAll(golden).count() == 0
    assert golden.exceptAll(streamed.select(*cols)).count() == 0

    # resume: nothing new in the directory -> no duplicate output rows
    n1 = streamed.count()
    q2 = stream_triples(spark, in_dir, out_dir, ckpt, available_now=True)
    q2.awaitTermination(120)
    time.sleep(0.5)
    assert spark.read.parquet(out_dir).count() == n1


def test_stream_three_chunks_matches_batch(spark, tmp_path):
    """Incremental parity for the FUSED single-scan plan: the same
    corpus arriving as 3 separate micro-batch drops must produce
    exactly the batch all_triples_fused output over the full corpus."""
    docs = tables.load_documents_spans(spark, "/root/testdata/sf0.001").cache()
    in_dir, out_dir, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    from pyspark.sql import functions as F

    chunk = F.pmod(F.xxhash64("doc_id"), F.lit(3))
    for i in range(3):
        docs.filter(chunk == i).write.mode("append").parquet(in_dir)
        q = stream_triples(spark, in_dir, out_dir, ckpt, available_now=True)
        q.awaitTermination(120)

    streamed = spark.read.parquet(out_dir)
    batch = triples.all_triples_fused(docs)
    cols = batch.columns
    assert streamed.count() == batch.count()
    assert streamed.select(*cols).exceptAll(batch).count() == 0
    assert batch.exceptAll(streamed.select(*cols)).count() == 0
    docs.unpersist()


def test_apply_actions_passthrough_and_chain(spark, fixture_blobs):
    """Skip-predicate rows keep the ORIGINAL byte token (byte-identical
    pass-through); processed rows fold each planned action into the
    state chain in plan order."""
    import hashlib

    from pyspark.sql import Row

    from pdf2ontology_spark.operators import condition, media

    spans = spark.createDataFrame(
        [
            Row(doc_id="d", kind="media", text="", media_ref=f"media://d/{i}.png", offset=i)
            for i in range(40)
        ]
    )
    assessed = condition.assess_media(spans)
    blobs = fixture_blobs(f"media://d/{i}.png" for i in range(40))
    out = {r.media_ref: r for r in media.apply_actions(assessed, blobs).collect()}
    planned = {r.media_ref: r for r in assessed.collect()}
    assert len(out) == 40
    skipped = [r for r in out.values() if r.n_applied == 0]
    processed = [r for r in out.values() if r.n_applied > 0]
    assert skipped and processed, "fixture must exercise both paths"
    for r in skipped:
        assert r.processed_ref == hashlib.sha256(r.media_ref.encode()).hexdigest()
        assert r.changed is False
    for r in processed:
        state = hashlib.sha256(r.media_ref.encode()).hexdigest()
        for a in planned[r.media_ref].actions:
            state = hashlib.sha256(f"{state}:{a}".encode()).hexdigest()
        assert r.processed_ref == state and r.changed is True
        if "rotate" in planned[r.media_ref].actions:
            assert r.rotation_deg_after == 0


def test_apply_actions_pixels_match_per_image_chain(spark, fixture_blobs):
    """Every row's out_checksum and mean_after equal the per-image chain
    recomputed from its own raster, rotation and skew — the action-tuple
    groups mix every rotation quadrant and many skews."""
    import numpy as np

    from pdf2ontology_spark.operators import condition, imaging

    refs = [f"media://a{i % 37}/{i}.png" for i in range(300)]
    spans = spark.createDataFrame(
        [(r.split("/")[2], "media", "", r, i) for i, r in enumerate(refs)],
        "doc_id string, kind string, text string, media_ref string, offset int",
    )
    assessed = condition.assess_media(spans)
    plans = {r.media_ref: r for r in assessed.collect()}
    out = media.apply_actions(assessed, fixture_blobs(refs)).collect()
    assert len(out) == len(refs)
    assert len({p.rotation_deg for p in plans.values() if "rotate" in p.actions}) == 3
    assert len({p.skew_deg for p in plans.values() if "deskew" in p.actions}) > 10
    for r in out:
        p = plans[r.media_ref]
        g = imaging.apply_chain(
            raster.synth_raster(r.media_ref), list(p.actions), p.skew_deg, p.rotation_deg
        )
        assert r.out_checksum == imaging.raster_checksum(g), r.media_ref
        assert r.mean_after == np.floor(g.sum() / g.size * 10000.0) / 10000.0


def test_apply_actions_on_real_skew(spark):
    """Pixel-derived skew is fractional: rows without a deskew action
    pass it through unchanged, and rows with one report 0."""
    import __spark_entry__ as entry
    from pdf2ontology_spark.operators import condition, media

    sf = "/root/testdata/sf0.001"
    blobs = entry._blobs(spark, sf)
    assessed = condition.assess_media_real(entry._spans(spark, sf), blobs)
    skew = {(r.doc_id, r.offset): r.skew_deg for r in assessed.collect()}
    out = media.apply_actions(assessed, blobs).collect()
    assert len(out) == len(skew)
    n_fractional = 0
    for r in out:
        before = skew[(r.doc_id, r.offset)]
        if "deskew" in r.applied_joined.split("|"):
            assert r.skew_deg_after == 0.0
        else:
            assert r.skew_deg_after == before
            n_fractional += before != int(before)
    assert n_fractional, "fixture must pass fractional skew through"


def test_stream_dedup_first_seen_stateful(spark, tmp_path):
    """applyInPandasWithState dedup: duplicates are dropped within a
    batch, and state survives a RESTART so re-crawled docs are dropped
    across runs too."""
    from pyspark.sql import Row

    from pdf2ontology_spark.schemas import DOCUMENTS
    from pdf2ontology_spark.streaming.incremental import stream_dedup_first_seen

    def doc(i, text):
        return Row(doc_id=f"d{i}", spans=[Row(kind="text", text=text, media_ref="", offset=0)])

    in_dir, out_dir, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    a = spark.createDataFrame([doc(0, "alpha."), doc(1, "beta."), doc(2, "alpha.")], DOCUMENTS)
    a.write.mode("append").parquet(in_dir)
    q = stream_dedup_first_seen(spark, in_dir, out_dir, ckpt, available_now=True)
    q.awaitTermination(120)
    out1 = spark.read.parquet(out_dir)
    # d0/d2 share content -> exactly one of them emitted, plus d1
    assert out1.count() == 2
    assert out1.select("content_hash").distinct().count() == 2

    # restart with new files: one true duplicate of batch A, one new doc
    b = spark.createDataFrame([doc(3, "alpha."), doc(4, "gamma.")], DOCUMENTS)
    b.write.mode("append").parquet(in_dir)
    q2 = stream_dedup_first_seen(spark, in_dir, out_dir, ckpt, available_now=True)
    q2.awaitTermination(120)
    out2 = spark.read.parquet(out_dir)
    assert out2.count() == 3  # only gamma was new
    assert out2.select("content_hash").distinct().count() == 3


def test_stream_windowed_watermark_drops_late(spark, tmp_path):
    """Watermarked event-time windows: a window emits exactly once when
    the watermark passes its end, and a row arriving BEHIND the
    watermark is dropped instead of mutating the emitted window."""
    from datetime import datetime

    from pyspark.sql import Row

    from pdf2ontology_spark.streaming.incremental import (
        TIMED_DOCUMENTS,
        stream_windowed_doc_stats,
    )

    def doc(i, ts):
        return Row(
            doc_id=f"w{i}",
            spans=[Row(kind="text", text="x.", media_ref="", offset=0)],
            ingest_ts=datetime(2026, 1, 1, 10, 0, 0).replace(
                minute=ts // 60, second=ts % 60
            ),
        )

    in_dir, out_dir, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")

    # run 1: two events in window [10:00:00, 10:00:10) plus an advancer
    # at 10:05:00 that pushes the watermark (delay 30s) past that window
    a = spark.createDataFrame([doc(0, 1), doc(1, 5), doc(2, 300)], TIMED_DOCUMENTS)
    a.write.mode("append").parquet(in_dir)
    q = stream_windowed_doc_stats(spark, in_dir, out_dir, ckpt)
    q.awaitTermination(120)

    # run 2 (restart, watermark recovered from checkpoint): one LATE
    # event for the already-finalized window — must be dropped — plus a
    # second advancer whose batch flushes the finalized window if run 1
    # did not already
    b = spark.createDataFrame([doc(3, 7), doc(4, 301)], TIMED_DOCUMENTS)
    b.write.mode("append").parquet(in_dir)
    q2 = stream_windowed_doc_stats(spark, in_dir, out_dir, ckpt)
    q2.awaitTermination(120)

    out = spark.read.parquet(out_dir).collect()
    assert len(out) == 1, out  # only the finalized window; advancers still open
    r = out[0]
    assert r.window_start == datetime(2026, 1, 1, 10, 0, 0)
    assert r.n_docs == 2 and r.n_spans == 2  # late w3 NOT counted


# the three writers on Spark's parquet file sink; each reads its columns
# of the timed halves below (triples and dedup ignore ingest_ts)
FILE_SINK_WRITERS = {
    "triples": incremental.stream_triples,
    "dedup": incremental.stream_dedup_first_seen,
    "windowed": incremental.stream_windowed_doc_stats,
}


def _timed_halves(spark, tmp_path):
    """sf0.001 split in two input dirs by xxhash64(doc_id) % 2, each doc
    stamped with an event time in a 290 s span so windows close."""
    docs = tables.load_documents_spans(spark, "/root/testdata/sf0.001").withColumn(
        "ingest_ts",
        F.timestamp_seconds(F.lit(1_767_225_600) + F.pmod(F.xxhash64("doc_id"), F.lit(290))),
    )
    dirs = []
    for half in range(2):
        d = str(tmp_path / f"in{half}")
        docs.filter(F.pmod(F.xxhash64("doc_id"), F.lit(2)) == half).write.parquet(d)
        dirs.append(d)
    return dirs


def _files(root):
    return sorted(os.path.join(d, n) for d, _, names in os.walk(root) for n in names)


@pytest.mark.parametrize("name", sorted(FILE_SINK_WRITERS))
def test_stream_fresh_checkpoint_into_committed_output_refused(spark, tmp_path, name):
    """The file sink skips every batch id already in its output log, so
    a second stream with a FRESH checkpoint (batch ids restart at 0)
    into an output another stream committed to would drop its data
    without an error. It must be refused and write nothing."""
    writer = FILE_SINK_WRITERS[name]
    in_a, in_b = _timed_halves(spark, tmp_path)
    out = str(tmp_path / "out")
    writer(spark, in_a, out, str(tmp_path / "ck_a")).awaitTermination(120)
    before = _files(out)
    assert any("_spark_metadata" in f for f in before)
    with pytest.raises(ValueError, match="ck_b"):
        writer(spark, in_b, out, str(tmp_path / "ck_b"))
    assert _files(out) == before


def test_stream_replay_after_lost_commit(spark, tmp_path):
    """A crash after the sink's write and before the checkpoint's commit
    replays the batch on restart: with the checkpoint's ``commits``
    entries removed, a rerun must leave the output unchanged."""
    in_a, _ = _timed_halves(spark, tmp_path)
    for name in ("triples", "dedup"):
        writer = FILE_SINK_WRITERS[name]
        out, ckpt = str(tmp_path / name / "out"), str(tmp_path / name / "ck")
        writer(spark, in_a, out, ckpt).awaitTermination(120)
        n = spark.read.parquet(out).count()
        assert n > 0
        commits = os.path.join(ckpt, "commits")
        for f in os.listdir(commits):
            os.remove(os.path.join(commits, f))
        writer(spark, in_a, out, ckpt).awaitTermination(120)
        assert spark.read.parquet(out).count() == n, name
