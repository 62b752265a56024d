"""Checkpointed stage runner with per-file lineage/metrics.

The Spark-native analog of the reference's per-stage JSON archival
(/root/reference/src/table_processors/table_content_extractor.py:401-434
and triplet_extractor.py:386-415 — its "resume" substrate: triplets are
re-derived from saved JSONs at triplet_extractor.py:542-676) and of
StageResult (/root/reference/src/pydantic_models/pipeline_models.py:25-48).

Semantics:
- ``stage(...)`` computes a DataFrame, writes it to
  ``<root>/<name>`` (parquet; see ``tables`` on Iceberg), and
  appends one _metrics row per output file. If the checkpoint is
  already complete (``_SUCCESS``), it is READ instead of recomputed —
  that is the idempotent resume path: all ids are deterministic content
  hashes, so resumed and fresh runs are byte-identical (tested in
  tests/test_resume.py).
- run_id is caller-supplied and deterministic (hash of config), never a
  wall-clock value.
"""

from __future__ import annotations

import os
import pathlib
import time

from pyspark.sql import DataFrame, SparkSession

from pdf2ontology_spark.sources import tables

METRICS_SCHEMA = (
    "stage string, run_id string, partition_id int, rows_out long, wall_ms long, "
    "output_checkpoint string, reused boolean"
)
LINEAGE_SCHEMA = (
    "stage string, run_id string, key string, file string, "
    "n_rows long, key_min string, key_max string"
)
LINEAGE_KEY = "doc_id"


class CheckpointStore:
    def __init__(self, spark: SparkSession, root: str, run_id: str = "run0"):
        self.spark = spark
        self.root = root
        self.run_id = run_id

    def _path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def exists(self, name: str) -> bool:
        return os.path.exists(os.path.join(self._path(name), "_SUCCESS"))

    def stage(self, name: str, compute) -> DataFrame:
        """Run (or resume) one stage. ``compute`` is a zero-arg callable
        returning the stage DataFrame. Stages keyed by ``LINEAGE_KEY``
        also record per-file lineage rows (see ``_record``)."""
        path = self._path(name)
        if self.exists(name):
            self._record(name, path, wall_ms=0, reused=True)
            return self.spark.read.parquet(path)
        t0 = time.monotonic()
        tables.write_table(compute(), path)  # 16MB groups: resumes split at any width
        wall_ms = int((time.monotonic() - t0) * 1000)
        self._record(name, path, wall_ms=wall_ms, reused=False)
        return self.spark.read.parquet(path)

    def _record(self, name: str, path: str, wall_ms: int, reused: bool) -> None:
        """Stage accounting from the parquet FOOTERS of the files just
        written (or reused) — a driver-side metadata read, no Spark job
        over the checkpoint; on Iceberg this is the snapshot manifest.

        - ``_metrics`` (FIXTURES.md F5): one row per output file, in
          sorted file order (``partition_id`` is the file's index) with
          the footer row count, so an empty stage still gets an explicit
          ``rows_out = 0`` row.
        - ``_lineage`` (fresh writes of stages that have a
          ``LINEAGE_KEY`` column): one row per file with its row count
          and covered key range from the row-group min/max statistics —
          the audit substrate for idempotent resume (which docs does
          this checkpoint file cover?). Node/edge tables have no doc key
          and get _metrics rows only."""
        import pyarrow.parquet as pq

        metrics, lineage = [], []
        for i, f in enumerate(tables._data_files(path)):
            md = pq.ParquetFile(f).metadata
            metrics.append((name, self.run_id, i, md.num_rows, wall_ms, path, reused))
            cols = [md.schema.column(j).path for j in range(md.num_columns)]
            if reused or LINEAGE_KEY not in cols:
                continue
            stats = [
                md.row_group(g).column(cols.index(LINEAGE_KEY)).statistics
                for g in range(md.num_row_groups)
                if md.row_group(g).num_rows
            ]
            # a row group without min/max leaves the file's range unknown
            known = stats and all(st is not None and st.has_min_max for st in stats)
            lineage.append((
                name, self.run_id, LINEAGE_KEY, pathlib.Path(f).absolute().as_uri(),
                md.num_rows,
                min(st.min for st in stats) if known else None,
                max(st.max for st in stats) if known else None,
            ))
        self.spark.createDataFrame(metrics, METRICS_SCHEMA).write.mode("append").parquet(
            os.path.join(self.root, "_metrics")
        )
        if lineage:
            self.spark.createDataFrame(lineage, LINEAGE_SCHEMA).write.mode("append").parquet(
                os.path.join(self.root, "_lineage")
            )

    def metrics(self) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.root, "_metrics"))

    def lineage(self) -> DataFrame:
        """Empty (typed) frame when no doc-keyed stage has written yet —
        unlike _metrics, _lineage only exists after a fresh keyed write."""
        path = os.path.join(self.root, "_lineage")
        if not os.path.exists(path):
            return self.spark.createDataFrame([], LINEAGE_SCHEMA)
        return self.spark.read.parquet(path)
