"""Grid-reconstruction window operators — band indexing (W1), header
levels (W3) and contour skew statistics (A8-A10) from the reference's
table-transformer post-processing (table_transformer.py) and document
analysis utilities. The corpus ships pre-gridded cells, so these
operators serve detection-style inputs (bbox rows from a layout model).

Cell assignment, spanning cells and row maps (J2/J3/J5 + W4/A11 of
SURVEY.md §2) are per-table logic and live in ``operators/grid_fused.py``
as one Arrow-batched kernel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

KEY = ["doc_id", "table_id"]


def index_bands(detections: DataFrame, bucket: str) -> DataFrame:
    """W1: sort row-bands by y (column-bands by x) within each table and
    assign 0-based indexes (table_transformer.py:154-163).

    detections: (doc_id, table_id, bucket, x, y, w, h); bucket is
    'row' | 'column' | 'header' | 'spanning_cell' (the F10 label routing
    of table_transformer.py:105-125, done upstream with one when-chain).
    """
    order = F.col("y") if bucket == "row" else F.col("x")
    w = Window.partitionBy(*KEY).orderBy(order.asc(), "x", "y")
    return (
        detections.filter(F.col("bucket") == bucket)
        .withColumn("idx", F.row_number().over(w) - 1)
    )


def header_levels(headers: DataFrame) -> DataFrame:
    """W3: discretize header y to round(y*10) and dense-rank the levels
    (table_transformer.py:344-372)."""
    w = Window.partitionBy(*KEY).orderBy(F.round(F.col("y") * 10).asc())
    return headers.withColumn("level", F.dense_rank().over(w) - 1)


def dominant_angle(contours: DataFrame) -> DataFrame:
    """A8-A10: per-image skew statistics over contour angles
    (document_analysis_utils.py:197-204, 241-244, 399-404):
    area-weighted mean, 36-bin histogram argmax bin center over [-90,90),
    exact median, stddev."""
    binned = contours.withColumn(
        "bin", F.floor((F.col("angle") + 90) / 5).cast("int")
    )
    hist = (
        binned.groupBy("image_id", "bin")
        .agg(F.count("*").alias("n"))
        .groupBy("image_id")
        .agg(F.max_by("bin", F.struct(F.col("n"), -F.col("bin"))).alias("dense_bin"))
        .select(
            "image_id", (F.col("dense_bin") * 5 - 90 + 2.5).alias("dense_bin_center")
        )
    )
    stats = contours.groupBy("image_id").agg(
        F.round(F.sum(F.col("angle") * F.col("area")) / F.sum("area"), 6).alias(
            "weighted_angle"
        ),
        F.round(F.expr("percentile(angle, 0.5)"), 6).alias("median_angle"),
        F.round(F.coalesce(F.stddev("angle"), F.lit(0.0)), 6).alias("stddev_angle"),
    )
    return stats.join(hist, "image_id")
