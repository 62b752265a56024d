"""RotationDetector/SkewDetector port: the batch kernels against slow
per-image scalar recomputations and the reference's decision bands
(/root/reference/src/utils/document_analysis_utils.py:103-412)."""

import math

import numpy as np

from pdf2ontology_spark.operators import orientation as O
from pdf2ontology_spark.raster import synth_raster


def _scalar_hough(edge_img):
    """Literal per-pixel, per-theta accumulation (the textbook loop)."""
    votes = np.zeros((len(O.THETA_DEG), O.RHO_BINS), dtype=np.int64)
    h, w = edge_img.shape
    for y in range(h):
        for x in range(w):
            if edge_img[y, x]:
                for ti in range(len(O.THETA_DEG)):
                    rho = x * O.COS[ti] + y * O.SIN[ti]
                    votes[ti, int(math.floor(rho + 0.5)) + O.RHO_OFF] += 1
    return votes


def test_hough_votes_match_scalar_loop():
    refs = [f"t/{i}" for i in range(24)]
    G = np.stack([synth_raster(r) for r in refs])
    _, edge = O.ink_and_edges(G)
    votes = O.hough_votes(edge)
    for i in (0, 7, 23):
        assert (votes[i] == _scalar_hough(edge[i])).all()


def test_ink_is_exact_adaptive_mean():
    G = np.stack([synth_raster(r) for r in ["t/a", "t/b"]])
    ink, _ = O.ink_and_edges(G)
    # scalar: mean of 5x5 replicate window minus C, strictly greater
    g = G[0]
    p = np.pad(g, 2, mode="edge")
    for y in range(0, 16, 5):
        for x in range(0, 16, 5):
            s = p[y : y + 5, x : x + 5].sum()
            assert ink[0, y, x] == (25 * g[y, x] < s - 25 * O.ADAPT_C)


def test_rotation_bands_reference_logic():
    # the exact elif chain of _determine_rotation_angle(:269-291)
    assert O._determine_rotation(0.0, 0.0) == (0, 0.9 + 0.05)
    rot, conf = O._determine_rotation(40.0, 40.0)  # combined 40 -> 270
    assert rot == 270 and abs(conf - 0.9) < 1e-12  # 0.85 + 0.05 consistent
    rot, conf = O._determine_rotation(-40.0, -40.0)
    assert rot == 90
    rot, conf = O._determine_rotation(120.0, 120.0)  # out of every band
    assert rot == 180
    # inconsistent measurements are penalized
    _, conf_far = O._determine_rotation(44.0, -44.0)
    assert conf_far < 0.9


def test_skew_stats_median_std():
    v = np.zeros((len(O.THETA_DEG), O.RHO_BINS), dtype=np.int64)
    # two qualifying lines at theta=84 (angle -6) and theta=96 (angle +6)
    ti_a = O.THETA_DEG.index(84)
    ti_b = O.THETA_DEG.index(96)
    v[ti_a, 5] = O.T_SKEW
    v[ti_b, 9] = O.T_SKEW + 3
    skew, conf, n = O._skew_from_votes(v)
    assert n == 2 and skew == 0.0
    assert conf == max(0.0, min(1.0, 1.0 - 6.0 / 10.0))  # std = 6


def test_batch_path_matches_scalar_reference():
    """The vectorized orientation_batch must be bit-identical to the
    per-image scalar helpers (which the SQL twin mirrors)."""
    refs = [f"media/par_{i}" for i in range(200)]
    G = np.stack([synth_raster(r) for r in refs])
    out = O.orientation_batch(G)
    ink, edge = O.ink_and_edges(G)
    votes = O.hough_votes(edge)
    for i in range(len(refs)):
        t = O._text_orientation_from_ink(ink[i])
        e = O._edge_orientation_from_votes(votes[i])
        rot, rconf = O._determine_rotation(t, e)
        skew, sconf, nl = O._skew_from_votes(votes[i])
        assert out["text_orientation"][i] == O.trunc4(t)
        assert out["edge_orientation"][i] == O.trunc4(e)
        assert out["rotation_deg"][i] == rot
        assert out["rotation_conf"][i] == O.trunc4(rconf)
        assert out["skew_deg"][i] == O.trunc4(skew)
        assert out["skew_conf"][i] == O.trunc4(sconf)
        assert out["line_count"][i] == nl


def test_orientation_batch_deterministic_and_bounded():
    refs = [f"media/x_{i}" for i in range(64)]
    G = np.stack([synth_raster(r) for r in refs])
    a = O.orientation_batch(G)
    b = O.orientation_batch(G)
    assert a == b
    assert all(r in (0, 90, 180, 270) for r in a["rotation_deg"])
    assert all(-45.0 <= t <= 45.0 for t in a["text_orientation"])
    assert all(abs(s) < 45.0 for s in a["skew_deg"])
    assert all(0.0 <= c <= 1.0 for c in a["rotation_conf"] + a["skew_conf"])
