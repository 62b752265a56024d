"""The real (non-stub) quality-metric family: the reference
QualityAssessor math in numpy (media.assess_quality_gray), its kernel
helpers, and the mapInPandas operator around them."""

import numpy as np
import pytest

from pdf2ontology_spark import raster
from pdf2ontology_spark.operators import imaging, media


def _naive_laplacian(g):
    h, w = g.shape
    out = np.zeros_like(g)

    def ref101(i, n):
        return -i if i < 0 else (2 * (n - 1) - i if i >= n else i)

    for y in range(h):
        for x in range(w):
            out[y, x] = (
                g[ref101(y - 1, h), x]
                + g[ref101(y + 1, h), x]
                + g[y, ref101(x - 1, w)]
                + g[y, ref101(x + 1, w)]
                - 4 * g[y, x]
            )
    return out


def _naive_median5(g):
    h, w = g.shape
    out = np.zeros(g.shape, dtype=float)
    for y in range(h):
        for x in range(w):
            vals = [
                g[min(max(y + dy, 0), h - 1), min(max(x + dx, 0), w - 1)]
                for dy in range(-2, 3)
                for dx in range(-2, 3)
            ]
            out[y, x] = sorted(vals)[12]
    return out


def test_kernels_match_naive_loops():
    rng = np.random.RandomState(5)
    g = rng.randint(0, 256, size=(11, 13)).astype(np.int64)
    assert np.array_equal(media._laplacian_reflect101(g), _naive_laplacian(g))
    assert np.array_equal(imaging.denoise_median5(g), _naive_median5(g))


def test_assess_quality_flat_image():
    """A constant image: zero contrast/sharpness/noise; brightness is
    the piecewise band function of the level."""
    for level, expected_b in [(60, 0.5), (150, 1.0), (255, 0.0)]:
        m = media.assess_quality_gray(np.full((16, 16), level, dtype=np.int64))
        assert m["contrast_score"] == 0.0
        assert m["sharpness_score"] == 0.0
        assert m["noise_level"] == 0.0
        assert m["brightness_score"] == pytest.approx(expected_b, abs=1e-4)
        assert "low_contrast" in m["issues_joined"]
        assert "blurry_image" in m["issues_joined"]
        assert "noisy_image" not in m["issues_joined"]
    assert "dark_image" in media.assess_quality_gray(
        np.full((16, 16), 20, dtype=np.int64)
    )["issues_joined"]


def test_assess_quality_reference_formulas():
    """Spot-check each score against the reference normalizations
    (document_analysis_utils.py:487-528) computed independently."""
    g = raster.synth_raster("some-media-ref")
    m = media.assess_quality_gray(g)
    assert m["contrast_score"] == pytest.approx(min(g.std() / 80.0, 1.0), abs=1e-4)
    lap = media._laplacian_reflect101(g)
    assert m["sharpness_score"] == pytest.approx(min(lap.var() / 1000.0, 1.0), abs=1e-4)
    sad = np.abs(g - imaging.denoise_median5(g)).mean()
    assert m["noise_level"] == pytest.approx(min(sad / 20.0, 1.0), abs=1e-4)
    assert m["overall_score"] == pytest.approx(
        0.3 * m["contrast_score"]
        + 0.2 * m["brightness_score"]
        + 0.3 * m["sharpness_score"]
        + 0.2 * (1 - m["noise_level"]),
        abs=2e-4,
    )


def _reference_detect_columns(gray):
    """The reference's float implementation verbatim-in-structure
    (document_analysis_utils.py:636-671) — np.convolve smoothing and
    float threshold — used to prove the engine's integer reformulation
    branches identically."""
    vertical_proj = np.sum(gray < 128, axis=0)
    kernel_size = max(5, min(20, len(vertical_proj) // 50))
    kernel = np.ones(kernel_size) / kernel_size
    smoothed = np.convolve(vertical_proj, kernel, mode="same")
    threshold = np.mean(smoothed) * 0.3
    valleys = smoothed < threshold
    column_regions = []
    in_valley = False
    start_col = 0
    min_column_width = len(vertical_proj) // 10
    for i, is_valley in enumerate(valleys):
        if not in_valley and is_valley:
            if i - start_col > min_column_width:
                column_regions.append((start_col, i))
            in_valley = True
        elif in_valley and not is_valley:
            start_col = i
            in_valley = False
    if not in_valley and len(vertical_proj) - start_col > min_column_width:
        column_regions.append((start_col, len(vertical_proj)))
    return max(1, len(column_regions))


def test_detect_columns_matches_reference_float_impl():
    rng = np.random.RandomState(11)
    for _ in range(60):
        g = rng.randint(0, 256, size=(16, 16)).astype(np.int64)
        assert media.detect_columns_gray(g) == _reference_detect_columns(g)
    # synthetic refs too (what the operator actually sees)
    for i in range(60):
        g = raster.synth_raster(f"ref{i}")
        assert media.detect_columns_gray(g) == _reference_detect_columns(g)


def test_detect_columns_two_column_page():
    g = np.full((16, 16), 255, dtype=np.int64)
    g[:, 0:6] = 0  # left text column
    g[:, 10:16] = 0  # right text column
    assert media.detect_columns_gray(g) == 2
    assert media.detect_columns_gray(np.zeros((16, 16), dtype=np.int64)) == 1


def test_content_layout_operator(spark, fixture_blobs):
    spans = spark.createDataFrame(
        [
            ("d1", "media", "", "m/ref1", 0),
            ("d1", "text", "Ein Satz.", "", 10),
            ("d2", "media", "", "m/ref2", 0),
        ],
        "doc_id string, kind string, text string, media_ref string, offset int",
    )
    blobs = fixture_blobs(["m/ref1", "m/ref2"])
    rows = {r.media_ref: r for r in media.content_layout(spans, blobs).collect()}
    assert set(rows) == {"m/ref1", "m/ref2"}
    for ref, r in rows.items():
        g = raster.synth_raster(ref)
        assert r.column_count == media.detect_columns_gray(g)
        assert r.multi_column == (r.column_count > 1)
        assert abs(r.dark_ratio - (g < 128).mean()) < 1e-4


def test_batch_paths_match_per_image_reference():
    """The vectorized batch kernels must equal the per-image reference
    implementations exactly — rasters, every quality score, the issues
    string, and the column count."""
    refs = [f"batch-ref-{i}" for i in range(300)]
    G = np.stack([raster.synth_raster(r) for r in refs])
    batch = media.assess_quality_batch(G)
    cols = media.detect_columns_batch(G)
    for i, ref in enumerate(refs):
        g = G[i]
        single = media.assess_quality_gray(g)
        for k in ("contrast_score", "brightness_score", "sharpness_score",
                  "noise_level", "overall_score"):
            assert batch[k][i] == single[k], (k, ref)
        assert batch["issues_joined"][i] == single["issues_joined"]
        assert cols[i] == _reference_detect_columns(g), ref


def test_media_quality_operator(spark, fixture_blobs):
    spans = spark.createDataFrame(
        [
            ("d1", "media", "", "m/ref1", 0),
            ("d1", "text", "Ein Satz.", "", 10),
            ("d2", "media", "", "m/ref2", 0),
            ("d2", "media", "", "m/ref1", 5),
        ],
        "doc_id string, kind string, text string, media_ref string, offset int",
    )
    rows = media.media_quality(spans, fixture_blobs(["m/ref1", "m/ref2"])).collect()
    assert len(rows) == 3  # text spans excluded
    byref = {(r.doc_id, r.media_ref): r for r in rows}
    # same ref in different docs -> identical metrics (deterministic)
    a, b = byref[("d1", "m/ref1")], byref[("d2", "m/ref1")]
    assert (a.contrast_score, a.sharpness_score, a.noise_level) == (
        b.contrast_score,
        b.sharpness_score,
        b.noise_level,
    )
    for r in rows:
        assert 0.0 <= r.overall_score <= 1.0
