"""Raw media sources/sinks.

- ``load_media_dir``: the reference's batch image-directory source
  (sorted glob of page PNGs, /root/reference/src/analyzers/
  layout_analyzer.py:70-78) as Spark's binaryFile format — path, length,
  modificationTime, content(binary); ordering by path replaces the
  sorted() glob. At scale this is how raw media bytes enter the engine
  when re-deriving spans; inside the span pipeline media stays
  out-of-row behind media_ref pointers.
- ``write_spans_csv``: the reference's region-CSV diagnostics sink
  (document_analyzer.py:342-368) — flatten spans to CSV rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def load_media_dir(spark: SparkSession, path: str, glob: str = "*.png") -> DataFrame:
    """(path, length, content) for media files under ``path``, in
    deterministic path order."""
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
        .select("path", "length", "content")
        .orderBy("path")
    )


def write_spans_csv(spans: DataFrame, path: str) -> None:
    """Diagnostics CSV of exploded spans (K2 sink analog)."""
    spans.select(
        "doc_id", "kind", "offset", F.length("text").alias("n_chars"), "media_ref"
    ).write.mode("overwrite").option("header", True).csv(path)
