"""Quarantine side-outputs for input guards (SURVEY.md F2).

The reference DROPS invalid regions with a log line
(/root/reference/src/core/region_detector.py:182-198) or raises
(/root/reference/src/utils/validation.py:56-57). At corpus scale
neither is acceptable: a bad row must not kill the job, and it must not
silently vanish. Every guard here splits the stream into (good, bad)
with a machine-readable reason on the bad side; the pipeline writes the
bad side to a quarantine table (CheckpointStore stage -> _metrics row)
and continues on the good side. good + bad == input by construction
(the two filters are complementary on the same validity expression).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Region kinds mirror the reference's RegionType (src/pydantic_models/enums.py:3-15)
SPAN_KINDS = ["text", "title", "header", "footer", "caption", "table", "media"]
DET_BUCKETS = ["row", "column", "header", "spanning_cell", "cell"]


def _split(df: DataFrame, reason: Column) -> tuple[DataFrame, DataFrame]:
    """reason is NULL for valid rows; bad rows carry it as q_reason."""
    tagged = df.withColumn("q_reason", reason)
    good = tagged.filter(F.col("q_reason").isNull()).drop("q_reason")
    bad = tagged.filter(F.col("q_reason").isNotNull())
    return good, bad


def span_guard_reason() -> Column:
    """First failed input-hint invariant, NULL if the span is valid.
    NULL inputs get explicit arms: a bare ``col < 0`` or ``isin`` check
    evaluates to NULL for NULL inputs — i.e. "not flagged" — and the bad
    row would sail through as valid."""
    return (
        F.when(F.col("kind").isNull(), F.lit("null_kind"))
        .when(~F.col("kind").isin(SPAN_KINDS), F.lit("unknown_kind"))
        .when(F.col("offset").isNull(), F.lit("null_offset"))
        .when(F.col("offset") < 0, F.lit("negative_offset"))
        .when(
            (F.col("kind") == "media") & (F.coalesce("media_ref", F.lit("")) == ""),
            F.lit("missing_media_ref"),
        )
    )


def split_spans(spans: DataFrame) -> tuple[DataFrame, DataFrame]:
    return _split(spans, span_guard_reason())


def detection_guard_reason() -> Column:
    """Detection-bbox validity (absolute coords: positive extent,
    known bucket — region_detector.py:215-234 semantics)."""
    return (
        F.when(F.col("bucket").isNull(), F.lit("null_bucket"))
        .when(~F.col("bucket").isin(DET_BUCKETS), F.lit("unknown_bucket"))
        .when(
            F.col("w").isNull() | F.col("h").isNull() | F.col("x").isNull()
            | F.col("y").isNull(),
            F.lit("null_geometry"),
        )
        .when((F.col("w") <= 0) | (F.col("h") <= 0), F.lit("degenerate_box"))
        .when((F.col("x") < 0) | (F.col("y") < 0), F.lit("negative_origin"))
    )


def split_detections(dets: DataFrame) -> tuple[DataFrame, DataFrame]:
    return _split(dets, detection_guard_reason())


def accounting(good: DataFrame, bad: DataFrame, stage: str) -> DataFrame:
    """(stage, status, n) — both sides always present (n may be 0), so
    the quarantine count is an explicit, monitorable fact."""
    g = good.agg(F.count("*").cast("long").alias("n")).select(
        F.lit(stage).alias("stage"), F.lit("passed").alias("status"), "n"
    )
    b = bad.agg(F.count("*").cast("long").alias("n")).select(
        F.lit(stage).alias("stage"), F.lit("quarantined").alias("status"), "n"
    )
    return g.unionByName(b)
