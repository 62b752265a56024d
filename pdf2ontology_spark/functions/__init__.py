"""Scalar function library — the reference's utility expressions
(SURVEY.md §2.8) as reusable Column builders. All JVM-side.

Citations are to /root/reference/src/... definitions these mirror.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def clamp01(c: Column) -> Column:
    """Clamp to [0,1] (document_analysis_utils.py:302,410)."""
    return F.greatest(F.lit(0.0), F.least(F.lit(1.0), c))


def priority_sorted_actions(actions: Column) -> Column:
    """Deterministic action-plan ordering (image_utils.py:261-289
    priority map 1:rotations .. 8:threshold): dedupe, then stable-sort
    by priority. array-native, no join needed."""
    prio = F.create_map(
        *[
            F.lit(v)
            for pair in [
                ("rotate", 1), ("deskew", 2), ("crop", 3), ("remove_shadows", 4),
                ("enhance_contrast", 5), ("gamma_correction", 5),
                ("denoise", 6), ("sharpen", 7), ("threshold", 8),
            ]
            for v in pair
        ]
    )
    tagged = F.transform(
        F.array_distinct(actions),
        lambda a: F.struct(F.coalesce(prio[a], F.lit(99)).alias("p"), a.alias("a")),
    )
    return F.transform(F.array_sort(tagged), lambda s: s["a"])
