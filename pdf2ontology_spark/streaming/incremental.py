"""Incremental triple extraction via Structured Streaming.

The reference is strictly batch (SURVEY.md §2.9); the target's
incremental story is checkpointed batch resume. This module adds the
natural streaming extension anyway: new document parquet files landing
in a directory are picked up per micro-batch and extracted with the
SAME operator functions. The extraction is the FUSED single-scan plan
(``triples.all_triples_fused``): per-document array expressions, no
window functions and no shuffle — a stateless projection of the stream,
so each micro-batch is one narrow map-side pass, exactly the shape you
want for continuous ingest, and the incremental surface exercises the
same flagship plan as batch (equivalence pinned by
tests/test_media_streaming.py, including a 3-chunk incremental run).

Delivery semantics:

- ``stream_triples``, ``stream_windowed_doc_stats`` and
  ``stream_dedup_first_seen`` write through Spark's parquet file sink
  (``_parquet_sink``) and are EXACTLY-ONCE: the sink logs each batch id
  it committed in ``output_dir/_spark_metadata`` and skips a replayed
  batch it already holds, and readers see only the files that log
  names. A fresh checkpoint into an output another stream committed to
  raises ``ValueError``.
- ``stream_graph_upsert`` keeps ``foreachBatch`` (its keyed merge needs
  the batch as a DataFrame), which delivers at-least-once; its handler
  is REPLAY-IDEMPOTENT (see ``graph_batch_handler``).

``stream_dedup_first_seen`` is the stateful extension: streaming
exact-dedup with applyInPandasWithState — the custom stateful operator
shape a training-data ingest pipeline needs (drop re-crawled duplicates
the moment they arrive, across micro-batches and restarts).
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupStateTimeout

from pdf2ontology_spark.operators import graph, triples
from pdf2ontology_spark.schemas import DOCUMENTS
from pdf2ontology_spark.sources import tables

# documents + an event-time column, for the watermarked windowed stats
TIMED_DOCUMENTS = T.StructType(
    list(DOCUMENTS.fields) + [T.StructField("ingest_ts", T.TimestampType())]
)


def _start(writer, checkpoint_dir: str, available_now: bool):
    """Start ``writer`` on ``checkpoint_dir``: with ``available_now`` the
    query drains everything currently in the input directory and stops
    — the testable micro-batch mode; without it, it runs continuously."""
    writer = writer.option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _has_entries(path: str) -> bool:
    # a streaming log dir: one file per batch id, plus hidden .crc files
    return os.path.isdir(path) and any(not n.startswith(".") for n in os.listdir(path))


def _parquet_sink(df: DataFrame, output_dir: str, checkpoint_dir: str, available_now: bool):
    """Append the streaming ``df`` to ``output_dir`` through Spark's
    exactly-once parquet file sink.

    Raises ``ValueError`` when ``output_dir`` already holds committed
    batches but ``checkpoint_dir`` has planned none: the fresh stream's
    batch ids would restart at 0 and the sink would skip each one it
    finds in its log, dropping the new data without an error. The check
    reads ``offsets``, not ``commits``: ``offsets/N`` is written before
    batch N runs, so a resume after a crash between the sink's write and
    the checkpoint's commit still runs, and the sink skips the batch it
    already holds."""
    log = os.path.join(output_dir, "_spark_metadata")
    offsets = os.path.join(checkpoint_dir, "offsets")
    if _has_entries(log) and not _has_entries(offsets):
        raise ValueError(
            f"output {output_dir} already holds batches committed by another "
            f"stream, and checkpoint {checkpoint_dir} is fresh: resume that "
            "stream's checkpoint or write to a new output directory"
        )
    writer = df.writeStream.format("parquet").option("path", output_dir).outputMode("append")
    return _start(writer, checkpoint_dir, available_now)


def stream_triples(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """readStream(documents parquet dir) -> triples parquet sink: the
    flagship fused plan (FileScan -> Project -> Generate, zero
    exchanges), so per micro-batch the whole extraction is one narrow
    map-side pass over the new files only."""
    docs = spark.readStream.schema(DOCUMENTS).parquet(input_dir)
    return _parquet_sink(
        triples.all_triples_fused(docs), output_dir, checkpoint_dir, available_now
    )


def stream_windowed_doc_stats(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    window_duration: str = "10 seconds",
    watermark_delay: str = "30 seconds",
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Event-time windowed ingest statistics with a WATERMARK for late
    data — the windowed-aggregation shape a continuous ingest pipeline
    monitors: tumbling event-time windows over the document stream
    (schema ``TIMED_DOCUMENTS``: documents + ``ingest_ts``), counting
    docs and spans per window.

    Semantics (append mode): a window row is emitted exactly ONCE, when
    the watermark (max seen event time - ``watermark_delay``) passes
    the window end; rows arriving behind the watermark are DROPPED by
    the aggregation. That bounds state to the open windows only — no
    keep-everything aggregation at any scale — and the watermark itself
    is recovered from the checkpoint across restarts. The watermark a
    micro-batch uses is the one established by the PREVIOUS batch, so
    emission lags arrival by one batch (standard Structured Streaming
    behavior; tests/test_media_streaming.py demonstrates both the
    one-shot emission and the late-row drop).

    ``max_files_per_trigger`` splits an availableNow drain into one
    batch per N files — the knob the driver-oracle harness uses to
    stage watermark advancement deterministically."""
    reader = spark.readStream.schema(TIMED_DOCUMENTS)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    docs = reader.parquet(input_dir)
    agg = (
        docs.withWatermark("ingest_ts", watermark_delay)
        .groupBy(F.window("ingest_ts", window_duration).alias("w"))
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(F.size("spans")).cast("long").alias("n_spans"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_docs",
            "n_spans",
        )
    )
    return _parquet_sink(agg, output_dir, checkpoint_dir, available_now)


def stream_graph_upsert(
    spark: SparkSession,
    input_dir: str,
    out_base: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Incremental KG materialization — the streaming form of the graph
    stage: per micro-batch, run the fused triple extraction, aggregate
    the batch's MERGEABLE graph stages (graph.per_surface /
    graph.edge_surfaces — counts sum, confidences max, evidence/mentions
    are distributive top-3s), and upsert the touched keys into the
    ``surfaces`` / ``edge_surfaces`` stage tables under ``out_base`` via
    ``tables.merge_upsert`` (the crash-recoverable MERGE analog). These
    are the batch graph's own stage tables, so the final node/edge
    tables are the batch derivations over them (``read_stream_nodes`` /
    ``read_stream_edges``) and equal the batch graph exactly
    (tests/test_stream_graph.py pins 3-chunk equivalence).

    Scale shape: the batch's aggregation is sized by the batch, but
    every micro-batch REWRITES both stage tables in full
    (``merge_upsert`` is a left-anti join, a union and an overwrite), so
    a batch costs the accumulated stage size. The stage tables are
    entity/edge-surface cardinality (orders of magnitude under the
    triple stream).

    An ``out_base`` from before the surface-keyed edge stage holds an
    id-keyed ``edge_aggs`` table instead of ``edge_surfaces``; neither
    the handler nor ``read_stream_edges`` reads it: rebuild it (no
    migration).

    Replay-idempotent: see ``graph_batch_handler``.
    """
    docs = spark.readStream.schema(DOCUMENTS).parquet(input_dir)
    process_batch = graph_batch_handler(spark, out_base, checkpoint_dir)
    return _start(docs.writeStream.foreachBatch(process_batch), checkpoint_dir, available_now)


def graph_batch_handler(spark: SparkSession, out_base: str, checkpoint_dir: str):
    """The foreachBatch handler behind ``stream_graph_upsert``, exposed
    so replay semantics are directly testable.

    foreachBatch is AT-LEAST-ONCE: after a crash between the surfaces
    merge and the streaming commit log, the same (batch_id, data) is
    delivered again — and the counts-summing combine would double-add.
    Each stage therefore records ``(checkpoint, batch_id)`` via
    ``merge_upsert``'s ``commit_meta`` (written into the merge's staging
    dir, so it commits atomically with the data) and a replayed batch
    whose id is <= the stage's recorded id is a no-op FOR THAT STAGE —
    a crash between the two stage merges replays into "skip surfaces,
    apply edge_surfaces", exactly completing the interrupted batch. The
    checkpoint identity guards the other direction: a FRESH stream
    (batch ids restart at 0) pointed at an existing out_base must not
    skip its early batches on the old stream's high-water mark.

    Stages: ``surfaces`` (name, entity_type) and ``edge_surfaces``
    (``graph.EDGE_SURFACE_KEYS``)."""
    surf_path = os.path.join(out_base, "surfaces")
    edge_path = os.path.join(out_base, "edge_surfaces")

    def _applied(path, batch_id: int) -> bool:
        meta = tables.merge_meta(path)
        return (
            meta is not None
            and meta.get("checkpoint") == checkpoint_dir
            and meta.get("batch_id") is not None
            and batch_id <= meta["batch_id"]
        )

    def _merge_stage(path, new_rows, keys, combine, meta):
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            tables.merge_upsert(spark, path, new_rows, keys, commit_meta=meta)
            return
        existing = tables.read_merged(spark, path)
        touched = existing.join(new_rows.select(*keys).distinct(), keys, "leftsemi")
        tables.merge_upsert(spark, path, combine(touched, new_rows), keys, commit_meta=meta)

    def process_batch(batch_df, batch_id: int) -> None:
        need_surf = not _applied(surf_path, batch_id)
        need_edge = not _applied(edge_path, batch_id)
        if not (need_surf or need_edge):
            return
        meta = {"checkpoint": checkpoint_dir, "batch_id": batch_id}
        # the extraction output feeds both stage updates: persist it so
        # the fused plan runs once per micro-batch, not per stage, and
        # release it when the batch is done
        trips = triples.all_triples_fused(batch_df).persist()
        try:
            if need_surf:
                _merge_stage(
                    surf_path,
                    graph.per_surface(trips),
                    ["name", "entity_type"],
                    graph.combine_surfaces,
                    meta,
                )
            if need_edge:
                _merge_stage(
                    edge_path,
                    graph.edge_surfaces(trips),
                    graph.EDGE_SURFACE_KEYS,
                    graph.combine_edge_surfaces,
                    meta,
                )
        finally:
            trips.unpersist()

    return process_batch


def read_stream_nodes(spark: SparkSession, out_base: str):
    """Derive the node table from the incrementally-upserted surfaces
    stage (repairing a crashed merge commit first)."""
    return graph.nodes_from_surfaces(
        tables.read_merged(spark, os.path.join(out_base, "surfaces"))
    )


def read_stream_edges(spark: SparkSession, out_base: str):
    """Derive the edge table from the incrementally-upserted
    ``edge_surfaces`` stage through ``graph.edges_from_surfaces`` with
    exact endpoint ids — the same derivation as batch ``graph.edges``."""
    return graph.edges_from_surfaces(
        tables.read_merged(spark, os.path.join(out_base, "edge_surfaces")),
        graph.entity_id_col(F.col("subj_name"), F.col("subj_type")),
        graph.entity_id_col(F.col("obj_name"), F.col("obj_type")),
    )


def content_hash_col() -> "F.Column":
    """Canonical document content hash: md5 over a field-delimited
    serialization of the span list (US/RS separators, null-safe). Used
    by the streaming dedup state key; the serialization is closed-form
    so the DuckDB twin recomputes the identical hash
    (md5 agrees across both engines, operators/dedup.py:4-6)."""
    return F.md5(
        F.array_join(
            F.transform(
                "spans",
                lambda s: F.concat_ws(
                    "\x1f",
                    F.coalesce(s["kind"], F.lit("")),
                    F.coalesce(s["text"], F.lit("")),
                    F.coalesce(s["media_ref"], F.lit("")),
                    F.coalesce(s["offset"].cast("string"), F.lit("")),
                ),
            ),
            "\x1e",
        )
    )


def stream_dedup_first_seen(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Stateful streaming exact-dedup: emit each distinct document
    content hash the FIRST time it is ever seen; duplicates — within a
    micro-batch, across micro-batches, and across RESTARTS (state lives
    in the streaming checkpoint) — are dropped.

    Built on ``applyInPandasWithState``: state is the seen-hash set,
    partitioned by a 2-hex-char hash-prefix bucket (256 groups) so no
    single group's state grows with the whole corpus and groups spread
    across executors. At real scale the state store backs onto RocksDB
    and the bucket width widens with the corpus; re-crawl dedup also
    usually adds a TTL (state timeout) — both are config, not plan,
    changes.
    """
    docs = spark.readStream.schema(DOCUMENTS).parquet(input_dir)
    hashed = docs.select("doc_id", content_hash_col().alias("content_hash")).withColumn(
        "bucket", F.substring("content_hash", 1, 2)
    )

    def first_seen(key, pdfs, state):
        seen = set(state.get[0]) if state.exists else set()
        out_ids, out_hashes = [], []
        for pdf in pdfs:
            for d, h in zip(pdf["doc_id"], pdf["content_hash"]):
                if h not in seen:
                    seen.add(h)
                    out_ids.append(d)
                    out_hashes.append(h)
        state.update((sorted(seen),))
        yield pd.DataFrame({"doc_id": out_ids, "content_hash": out_hashes})

    deduped = hashed.groupBy("bucket").applyInPandasWithState(
        first_seen,
        outputStructType="doc_id string, content_hash string",
        stateStructType="seen array<string>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return _parquet_sink(deduped, output_dir, checkpoint_dir, available_now)
