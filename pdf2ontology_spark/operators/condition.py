"""Per-media-span condition assessment + repair action plan — the
Spark-native form of the reference's document-condition stage:

- CV metric extraction (RotationDetector/SkewDetector/QualityAssessor,
  /root/reference/src/utils/document_analysis_utils.py:103-528) — in
  ``assess_media`` the metrics are sha256-derived DETERMINISTIC STUBS;
  ``assess_media_real`` reads the real pixel metrics from
  ``media.assess_media_full`` instead, and everything downstream is
  unchanged.
- quality composite 0.3*contrast + 0.2*brightness + 0.3*sharpness +
  0.2*(1-noise) (document_analysis_utils.py:467-473, SURVEY A14);
- condition -> action mapping + fixed priority ordering 1:rotate ..
  8:threshold (image_utils.py:261-289, SURVEY O6);
- skip predicate: good-quality spans pass through untouched
  (document_preprocessing_chain.py:164-171 — the when/otherwise
  short-circuit, SURVEY §3.2).

All JVM-side; hash math is digit-wise so the DuckDB oracle reproduces it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SKIP_QUALITY = 0.8  # document_preprocessing_chain.py:164-171


def _hexval(h: Column, start: int, n: int) -> Column:
    return F.conv(F.substring(h, start, n), 16, 10).cast("long")


def _raw_actions(
    rotation: Column,
    skew: Column,
    contrast: Column,
    brightness: Column,
    sharpness: Column,
    noise: Column,
) -> Column:
    """Condition -> action rules with the REFERENCE's exact thresholds
    (document_analysis_utils.py:450-464 + :768): rotation != 0 ->
    rotate, abs(skew) >= 2.0 -> deskew, contrast < 0.4 ->
    enhance_contrast, brightness < 0.3 -> gamma_correction (its own
    action, not a contrast clause), noise > 0.6 -> denoise, sharpness
    < 0.3 -> sharpen.

    The concat emits the actions in the O6 priority order (rotate 1,
    deskew 2, enhance_contrast/gamma 5 — alphabetical tie — denoise 6,
    sharpen 7) with no duplicates, so ``fn.priority_sorted_actions``
    is the identity on it and the per-row interpreted sort is elided
    (pinned over every rule combination by tests/test_functions.py)."""

    def rule(cond: Column, action: str) -> Column:
        return F.when(cond, F.array(F.lit(action))).otherwise(F.array())

    return F.concat(
        rule(rotation != 0, "rotate"),
        rule(F.abs(skew) >= 2, "deskew"),
        rule(contrast < 0.4, "enhance_contrast"),
        rule(brightness < 0.3, "gamma_correction"),
        rule(noise > 0.6, "denoise"),
        rule(sharpness < 0.3, "sharpen"),
    )


def _needs(quality: Column, raw_actions: Column) -> Column:
    """Skip predicate: good-quality spans, and spans no rule fires on,
    pass through untouched."""
    return (quality <= SKIP_QUALITY) & (F.size(raw_actions) > 0)


def _actions(needs: Column, raw_actions: Column) -> Column:
    """The action plan: skipped spans keep an EMPTY plan (pass-through
    rows, same shape — the chain's copy-through at
    document_preprocessing_chain.py:169-171)."""
    return F.when(needs, raw_actions).otherwise(F.array().cast("array<string>"))


# cache of the UNRESOLVED assess columns (pure expression ASTs, no
# data/plan — see triples._FUSED_EXPR_CACHE): the withColumn-chain form
# re-built ~300 py4j expression nodes per call, pure construction time
_ASSESS_COLS: list[Column] | None = None


def _assess_cols() -> list[Column]:
    global _ASSESS_COLS
    if _ASSESS_COLS is not None:
        return _ASSESS_COLS
    h = F.sha2(F.col("media_ref"), 256)
    bi, ci = _hexval(h, 1, 4), _hexval(h, 5, 4)
    si, ni = _hexval(h, 9, 4), _hexval(h, 13, 4)
    skew_deg = (_hexval(h, 17, 4) % 21 - 10).cast("int")
    rotation_deg = ((_hexval(h, 21, 2) % 4) * 90).cast("int")
    # weighted composite (0.3/0.2/0.3/0.2, A14) computed as ONE integer
    # expression divided once — float-tie-free across engines (a chained
    # double weighted sum differs by 1 ulp between Spark and DuckDB)
    quality = F.round(
        (3 * ci + 2 * bi + 3 * si + 2 * (65535 - ni)) / 655350.0, 6
    )
    brightness = F.round(bi / 65535.0, 6)
    contrast = F.round(ci / 65535.0, 6)
    sharpness = F.round(si / 65535.0, 6)
    noise = F.round(ni / 65535.0, 6)
    raw_actions = _raw_actions(rotation_deg, skew_deg, contrast, brightness, sharpness, noise)
    needs = _needs(quality, raw_actions)
    _ASSESS_COLS = [
        F.col("doc_id"),
        F.col("offset"),
        F.col("media_ref"),
        brightness.alias("brightness"),
        contrast.alias("contrast"),
        sharpness.alias("sharpness"),
        noise.alias("noise"),
        skew_deg.alias("skew_deg"),
        rotation_deg.alias("rotation_deg"),
        quality.alias("quality"),
        needs.alias("needs_processing"),
        _actions(needs, raw_actions).alias("actions"),
    ]
    return _ASSESS_COLS


def assess_media(spans: DataFrame) -> DataFrame:
    """media spans -> condition metrics + quality + ordered action plan.

    Output: (doc_id, offset, media_ref, brightness, contrast, sharpness,
    noise, skew_deg, rotation_deg, quality, needs_processing, actions).
    """
    return spans.filter(F.col("kind") == "media").select(*_assess_cols())


def assess_media_real(spans: DataFrame, blobs: DataFrame) -> DataFrame:
    """``assess_media`` with EVERY metric family real: quality scores
    from the QualityAssessor kernels (Laplacian variance, 5x5 median
    filter) AND — since round 5 — pixel-derived skew/rotation from the
    SkewDetector/RotationDetector port (operators/orientation.py: ink
    mask -> morphological-gradient edges -> Hough accumulation -> angle
    statistics; document_analysis_utils.py:103-412). All metrics come
    from ONE Arrow stage over one raster decode
    (``media.assess_media_full``), over rasters decoded from the real
    PNG bytes of the blob store by ``png_codec``. Thresholds, the
    0.3/0.2/0.3/0.2 composite (inside ``overall_score``), the skip
    predicate, and the
    priority-ordered plan are identical to ``assess_media``; skew_deg
    is now a double (the reference's SkewAnalysisResult.skew_angle is a
    float).

    Output: (doc_id, offset, media_ref, contrast_score,
    brightness_score, sharpness_score, noise_level, quality, skew_deg,
    skew_conf, rotation_deg, rotation_conf, line_count,
    needs_processing, actions)."""
    from pdf2ontology_spark.operators import media

    df = (
        media.assess_media_full(spans, blobs)
        .withColumnRenamed("overall_score", "quality")
        .drop("text_orientation", "edge_orientation")
    )
    raw_actions = _raw_actions(
        F.col("rotation_deg"),
        F.col("skew_deg"),
        F.col("contrast_score"),
        F.col("brightness_score"),
        F.col("sharpness_score"),
        F.col("noise_level"),
    )
    return (
        df.withColumn("needs_processing", _needs(F.col("quality"), raw_actions))
        .withColumn("actions", _actions(F.col("needs_processing"), raw_actions))
        .drop("issues_joined")
    )


def condition_rollup(assessed: DataFrame) -> DataFrame:
    """Corpus-level issue/action frequency (A13 —
    document_preprocessing_chain.py:329-347): counts per action."""
    return (
        assessed.select(F.explode("actions").alias("action"))
        .groupBy("action")
        .agg(F.count("*").cast("long").alias("n"))
    )
