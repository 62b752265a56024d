"""Image-processing ACTION kernels — real raster transforms, not
token-folding: the reference ImageProcessor's per-action operations
(/root/reference/src/utils/image_utils.py:295-481) ported to numpy over
the synthetic 16x16 raster, applied in the condition stage's priority
order. Each kernel is the reference's math wherever it is
numpy-expressible on this container; the substitutions are explicit:

- rotate      : exact 90/180/270 coordinate remap (cv2.rotate,
                image_utils.py:399-414)
- deskew      : inverse-map nearest-neighbor rotation about the
                (w//2, h//2) center with replicate border
                (image_utils.py:361-397 — INTER_CUBIC's 16-tap spline
                and the expanded canvas are presentation concerns; the
                chain reuses the assessment's skew angle rather than
                re-running Hough mid-chain)
- enhance_contrast: global min-max contrast stretch (CLAHE's 8x8 tile
                grid degenerates to 2x2-px tiles on a 16-px raster;
                image_utils.py:330-341)
- gamma_correction: the exact 256-entry LUT ((i/255)^(1/1.2))*255 with
                uint8 truncation (image_utils.py:343-349)
- denoise     : 5x5 median filter, replicate border (fastNlMeans needs
                cv2; the median filter is the classical denoise and is
                already the QualityAssessor's noise reference kernel)
- sharpen     : the exact [[-1,-1,-1],[-1,9,-1],[-1,-1,-1]] kernel with
                reflect-101 border, saturated, then the reference's
                0.3/0.7 addWeighted blend (image_utils.py:351-356;
                exact-tie rounding is shift-floor on both engines)

Every data-dependent float function goes through CPython ``math``
(libm) — verified bit-equal to DuckDB's on this host — so the
independent SQL twin (oracles_data.preprocessed_media_sql) reproduces
the full per-image action chain exactly.
"""

from __future__ import annotations

import math

import numpy as np

GAMMA = 1.2
INV_GAMMA = 1.0 / GAMMA
RAD = math.pi / 180.0
SHARP_ALPHA = 0.7  # addWeighted(image, 0.3, sharpened, 0.7)
GAMMA_LUT = [int(math.pow(i / 255.0, INV_GAMMA) * 255) for i in range(256)]


def rotate_exact(g, deg: int):
    """cv2.rotate semantics: out[y,x] = in[h-1-x, y] (90 CW),
    in[h-1-y, w-1-x] (180), in[x, w-1-y] (270 = 90 CCW).

    SQUARE rasters only for 90/270: cv2.rotate maps (h, w) -> (w, h)
    there, and this in-shape remap (and its SQL twin's row-stride
    expressions) is only the correct transpose when h == w — asserted
    instead of silently producing a wrong remap on a future non-square
    grid."""
    h, w = g.shape
    assert h == w or deg in (0, 180), f"90/270 remap needs square raster, got {h}x{w}"
    yy, xx = np.mgrid[0:h, 0:w]
    if deg == 90:
        return g[h - 1 - xx, yy]
    if deg == 180:
        return g[h - 1 - yy, w - 1 - xx]
    if deg == 270:
        return g[xx, w - 1 - yy]
    return g


def deskew_nn(g, skew_deg: float):
    """Nearest-neighbor inverse-map rotation by ``skew_deg`` about
    (w//2, h//2), replicate border: src = M^T (dst - c) + c with
    M = [[cos, sin], [-sin, cos]] (the getRotationMatrix2D convention).
    cos/sin via math.* so the SQL twin bins identical doubles."""
    if skew_deg == 0.0:
        return g
    h, w = g.shape
    al = math.cos(skew_deg * RAD)
    be = math.sin(skew_deg * RAD)
    cy, cx = h // 2, w // 2
    yy, xx = np.mgrid[0:h, 0:w]
    sx = al * (xx - cx) - be * (yy - cy) + cx
    sy = be * (xx - cx) + al * (yy - cy) + cy
    rx = np.clip(np.floor(sx + 0.5).astype(np.int64), 0, w - 1)
    ry = np.clip(np.floor(sy + 0.5).astype(np.int64), 0, h - 1)
    return g[ry, rx]


def contrast_stretch(g):
    mn = int(g.min())
    mx = int(g.max())
    if mx == mn:
        return g
    return np.floor((g - mn) * 255.0 / (mx - mn) + 0.5).astype(np.int64)


def gamma_correct(g):
    lut = np.array(GAMMA_LUT, dtype=np.int64)
    return lut[g]


def denoise_median5(g):
    """5x5 median with BORDER_REPLICATE (cv2.medianBlur(gray, 5)), exact on
    ints: the denoise action and ``media.assess_quality_gray``'s noise."""
    p = np.pad(g, 2, mode="edge")
    h, w = g.shape
    stack = np.stack(
        [p[dy : dy + h, dx : dx + w] for dy in range(5) for dx in range(5)]
    )
    return np.median(stack, axis=0).astype(np.int64)


def sharpen(g):
    p = np.pad(g, 1, mode="reflect")  # reflect-101, filter2D default
    h, w = g.shape
    conv = 9 * g - sum(
        p[dy : dy + h, dx : dx + w]
        for dy in range(3)
        for dx in range(3)
        if not (dy == 1 and dx == 1)
    )
    sharp = np.clip(conv, 0, 255)  # ddepth=-1 uint8 saturation (ints, exact)
    blend = (1.0 - SHARP_ALPHA) * g + SHARP_ALPHA * sharp
    return np.clip(np.floor(blend + 0.5).astype(np.int64), 0, 255)


def apply_chain(g, actions, skew_deg: float, rotation_deg: int):
    """Run one image's priority-ordered action plan. The plan arrives
    already sorted (fn.priority_sorted_actions); unknown actions pass
    through like the reference's _apply_single_action default."""
    for a in actions:
        if a == "rotate":
            g = rotate_exact(g, rotation_deg)
        elif a == "deskew":
            g = deskew_nn(g, skew_deg)
        elif a == "enhance_contrast":
            g = contrast_stretch(g)
        elif a == "gamma_correction":
            g = gamma_correct(g)
        elif a == "denoise":
            g = denoise_median5(g)
        elif a == "sharpen":
            g = sharpen(g)
    return g


def raster_checksum(g) -> int:
    """Exact integer position-weighted checksum: any pixel change at any
    position changes it (up to integer-weight collisions) and the SQL
    twin recomputes it as sum(v * (y*w + x + 1))."""
    h, w = g.shape
    idx = np.arange(1, h * w + 1, dtype=np.int64).reshape(h, w)
    return int((g * idx).sum())


# ---------------------------------------------------------------------------
# Batched forms — one (B, h, w) stack per ACTION-TUPLE group.
#
# Every kernel above is elementwise or a gather, so a leading batch axis
# changes NOTHING about per-element arithmetic. The per-image parameters
# (rotation quadrant, skew angle) ride along as (B,) arrays: rotation
# gathers each quadrant's rows with that quadrant's index map, and the
# deskew map takes cos/sin from the same math.* libm calls (once per
# distinct angle) and runs the scalar path's float ops (+,-,*,/ and
# floor, IEEE-exact elementwise) over the batch axis.
# tests/test_imaging.py pins batch == per-image bit equality.
# ---------------------------------------------------------------------------

_GAMMA_LUT_NP = np.array(GAMMA_LUT, dtype=np.int64)


def rotate_exact_batch(G, deg):
    """Batched ``rotate_exact``; ``deg`` is one quadrant for the whole
    stack or one per image."""
    n, h, w = G.shape
    degs = np.broadcast_to(np.asarray(deg, dtype=np.int64), (n,))
    assert h == w or not np.isin(degs, (90, 270)).any(), (
        f"90/270 remap needs square raster, got {h}x{w}"
    )
    yy, xx = np.mgrid[0:h, 0:w]
    out = G.copy()
    for d, ry, rx in (
        (90, h - 1 - xx, yy),
        (180, h - 1 - yy, w - 1 - xx),
        (270, xx, w - 1 - yy),
    ):
        ix = np.flatnonzero(degs == d)
        out[ix] = G[ix][:, ry, rx]
    return out


def deskew_nn_batch(G, skew_deg):
    """Batched ``deskew_nn``; ``skew_deg`` is one angle for the whole
    stack or one per image. A zero angle (either sign) maps every pixel
    to itself exactly (cos 1.0, sin ±0.0), as the scalar early return
    does."""
    n, h, w = G.shape
    skews = np.broadcast_to(np.asarray(skew_deg, dtype=np.float64), (n,))
    if not skews.any():
        return G
    angles, inv = np.unique(skews, return_inverse=True)
    al = np.array([math.cos(float(a) * RAD) for a in angles])[inv][:, None, None]
    be = np.array([math.sin(float(a) * RAD) for a in angles])[inv][:, None, None]
    cy, cx = h // 2, w // 2
    yy, xx = np.mgrid[0:h, 0:w]
    sx = al * (xx - cx) - be * (yy - cy) + cx
    sy = be * (xx - cx) + al * (yy - cy) + cy
    rx = np.clip(np.floor(sx + 0.5).astype(np.int64), 0, w - 1)
    ry = np.clip(np.floor(sy + 0.5).astype(np.int64), 0, h - 1)
    return G[np.arange(n)[:, None, None], ry, rx]


def contrast_stretch_batch(G):
    mn = G.min(axis=(1, 2), keepdims=True)
    mx = G.max(axis=(1, 2), keepdims=True)
    flat = mx == mn
    denom = np.where(flat, 1, mx - mn)
    out = np.floor((G - mn) * 255.0 / denom + 0.5).astype(np.int64)
    return np.where(flat, G, out)


def gamma_correct_batch(G):
    return _GAMMA_LUT_NP[G]


def _drop_extremes(work):
    """``work`` (k >= 4 same-shape arrays) minus one elementwise minimum
    and one elementwise maximum: compare-exchange the pairs, then run
    the lows' min chain and the highs' max chain, keeping every loser."""
    lows = [np.minimum(a, b) for a, b in zip(work[0::2], work[1::2])]
    highs = [np.maximum(a, b) for a, b in zip(work[0::2], work[1::2])]
    kept = []
    if len(work) % 2:  # fold the odd one out into the first pair
        odd = work[-1]
        lows[0], odd = np.minimum(lows[0], odd), np.maximum(lows[0], odd)
        highs[0], mid = np.maximum(highs[0], odd), np.minimum(highs[0], odd)
        kept.append(mid)
    lo, hi = lows[0], highs[0]
    for x in lows[1:-1]:
        kept.append(np.maximum(lo, x))
        lo = np.minimum(lo, x)
    kept.append(np.maximum(lo, lows[-1]))
    for x in highs[1:-1]:
        kept.append(np.minimum(hi, x))
        hi = np.maximum(hi, x)
    kept.append(np.minimum(hi, highs[-1]))
    return kept


def median5_uint8(G):
    """Exact 5x5 median with replicate border over a (B, h, w) stack of
    values in [0, 255], as a uint8 stack — the 13th of the 25
    edge-replicated taps, equal to ``np.median`` of them (odd count, no
    interpolation; ``denoise_median5`` is the per-image reference).

    Forgetful selection: hold one tap more than the median's rank (14
    of 25). The smallest of them lies below the median of all 25 and
    the largest above it, so dropping both leaves that median the
    median of the 23 left. Take the next tap and repeat — two values
    fewer, rank one lower — until three values remain; their median is
    the answer. Every step is an np.minimum/np.maximum over views of
    the padded raster or of earlier steps, so the working set is at
    most 14 uint8 copies of the stack, not a 25x tap stack."""
    n, h, w = G.shape
    p = np.pad(G.astype(np.uint8), ((0, 0), (2, 2), (2, 2)), mode="edge")
    taps = [p[:, dy : dy + h, dx : dx + w] for dy in range(5) for dx in range(5)]
    work = taps[:14]
    for tap in taps[14:]:
        work = _drop_extremes(work) + [tap]
    a, b, c = work
    return np.maximum(np.minimum(a, b), np.minimum(np.maximum(a, b), c))


def denoise_median5_batch(G):
    """Batched ``denoise_median5``: the chain kernels clip to [0, 255],
    so the taps fit ``median5_uint8``."""
    return median5_uint8(G).astype(np.int64)


def sharpen_batch(G):
    p = np.pad(G, ((0, 0), (1, 1), (1, 1)), mode="reflect")
    n, h, w = G.shape
    conv = 9 * G - sum(
        p[:, dy : dy + h, dx : dx + w]
        for dy in range(3)
        for dx in range(3)
        if not (dy == 1 and dx == 1)
    )
    sharp = np.clip(conv, 0, 255)
    blend = (1.0 - SHARP_ALPHA) * G + SHARP_ALPHA * sharp
    return np.clip(np.floor(blend + 0.5).astype(np.int64), 0, 255)


def raster_checksum_batch(G):
    """Batched ``raster_checksum``: one int64 per image, identical
    weights — the single home of the sum(v * (y*w + x + 1)) formula the
    SQL twin recomputes."""
    n, h, w = G.shape
    idx = np.arange(1, h * w + 1, dtype=np.int64).reshape(h, w)
    return (G * idx).sum(axis=(1, 2))


def apply_chain_batch(G, actions, skew_deg, rotation_deg):
    """Batched ``apply_chain`` for a group of images SHARING one action
    tuple. ``skew_deg`` and ``rotation_deg`` are scalars for the whole
    stack or (B,) arrays, one per image.

    PRECONDITION: pixel values in [0, 255]. Every chain kernel clips
    its output, and the decode/synth sources produce bytes, but the
    uint8 fast paths inside (denoise taps, quality medians) would
    silently wrap out-of-range values modulo 256 — so a violating
    input fails loudly here instead (ADVICE r6)."""
    if G.size:
        lo, hi = int(G.min()), int(G.max())
        if lo < 0 or hi > 255:
            raise ValueError(f"raster values outside [0, 255]: min={lo} max={hi}")
    for a in actions:
        if a == "rotate":
            G = rotate_exact_batch(G, rotation_deg)
        elif a == "deskew":
            G = deskew_nn_batch(G, skew_deg)
        elif a == "enhance_contrast":
            G = contrast_stretch_batch(G)
        elif a == "gamma_correction":
            G = gamma_correct_batch(G)
        elif a == "denoise":
            G = denoise_median5_batch(G)
        elif a == "sharpen":
            G = sharpen_batch(G)
    return G
