"""Multimodal column plumbing: media spans as opaque binary payloads
with typed metadata, decoded/feature-extracted via Arrow-batched
mapInPandas (the reference's CV stages — image_utils.py:295-481,
document_analysis_utils.py — live HERE as per-batch vectorized work).

DECODE: each operator takes the corpus blob store ``blobs``
((media_ref, png) — real encoded bytes) and decodes it with the
engine's stdlib PNG reader (``png_codec.decode_png_gray_batch``:
chunk/CRC parse, inflate, defilter 0-4). That is the genuine
byte->pixel path the reference runs through cv2.imdecode
(/root/reference/src/loader.py:18-33, image_utils.py:567-604); only
non-PNG container formats remain behind the seam (no cv2/PIL in this
container). The blob store is the ONLY pixel source: a media ref with
no bytes in it is a bad input — ``media_features`` reports it as
decode_ok=false, every other operator fails its stage. The kernel
families are oracle-checked against independent closed-form DuckDB
twins of the fixture pattern the corpus blobs encode.

The QUALITY METRIC family is real math: the reference QualityAssessor's
kernels (Laplacian variance, 5x5 median filter, std/mean
normalizations) are ported as numpy in ``assess_quality_gray`` and
verified against the independent DuckDB twin.

ONE STAGE: every operator runs through ``_media_stage`` — salt, blob
join, one mapInPandas whose loop hands row chunks of the Arrow batch
to the operator's kernel. The operators differ only in their kernel,
output schema and chunk size.

Scale notes: media bytes stay OUT of the span row (media_ref pointer;
the bytes enter through ONE co-partitioned join on media_ref straight
into the Arrow stage — at deployment scale the blob table is bucketed
by media_ref so that join is co-located, no shuffle of the bytes).
Partitioning salts on the media_ref hash — media-heavy docs are exactly
the north-rule skew case.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pdf2ontology_spark import png_codec
from pdf2ontology_spark.sources import tables


def _broadcast_if_small(blobs: DataFrame) -> DataFrame:
    """Broadcast-hint the blob side when its on-disk size is under the
    session's autoBroadcastJoinThreshold (a driver-side file stat — no
    job). The hint matters because the JOINED side must not win the
    broadcast: when the planner broadcasts the salted media side
    instead, ``_media_stage``'s Arrow stage inherits the BLOB SCAN's split
    count and the salt exchange is dead weight (round-7: media_quality
    ran its kernels on ~5 partitions instead of 32, 2x slower). A big
    blob store keeps planner choice (both sides shuffle on media_ref;
    at deployment scale the store is bucketed by media_ref and the join
    is co-located)."""
    import os

    try:
        size = sum(os.path.getsize(p) for p in tables.input_paths(blobs))
        threshold = tables._parse_byte_conf(
            blobs.sparkSession.conf.get(
                "spark.sql.autoBroadcastJoinThreshold", "33554432"
            )
        )
    except Exception:  # noqa: BLE001 — non-file sources / odd confs keep planner choice
        return blobs
    return F.broadcast(blobs) if 0 < size < threshold else blobs


def _media_spans(spans: DataFrame) -> DataFrame:
    return spans.filter(F.col("kind") == "media").select("doc_id", "media_ref", "offset")


def _media_stage(
    rows: DataFrame,
    blobs: DataFrame,
    kernel: Callable[[pd.DataFrame], pd.DataFrame],
    schema: str,
    chunk: int | None,
) -> DataFrame:
    """The one Arrow stage every media operator runs through.

    ``rows`` (keyed by doc_id, media_ref) are salt-repartitioned on
    xxhash64(doc_id, media_ref) into ``tables.spread_width`` partitions
    so a media-heavy doc cannot pin one partition, then left-joined with the blob store on media_ref: a ref
    missing from the store reaches the kernel with a null ``png``, so it
    is quarantined (``media_features``: decode_ok=false) or fails the
    stage (every other operator) — never silently dropped.
    The salt runs BEFORE the join: the exchange moves only the narrow
    rows — blob bytes, the widest column in the pipeline, never transit
    the salt shuffle. The join then either broadcasts the blob side
    onto the salted layout (small store) or shuffles both sides on
    media_ref (unique per row), which is itself uniform.

    ``kernel`` maps one pandas slice of at most ``chunk`` rows
    (``None``: the whole Arrow batch) to its output rows."""
    rows = rows.repartition(
        tables.spread_width(rows.sparkSession), F.xxhash64("doc_id", "media_ref")
    )
    rows = rows.join(
        _broadcast_if_small(blobs).select("media_ref", "png"), "media_ref", "left"
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            step = chunk or max(len(pdf), 1)
            outs = [kernel(pdf.iloc[lo : lo + step]) for lo in range(0, len(pdf), step)]
            if outs:
                yield pd.concat(outs)

    return rows.mapInPandas(run, schema=schema)


MEDIA_FEATURES_SCHEMA = (
    "doc_id string, media_ref string, offset int, width int, height int, "
    "format string, phash string, decode_ok boolean"
)


def ahash_batch(G) -> list[str]:
    """Average-hash perceptual fingerprint over a (B, h, w) pixel stack:
    2x2 average-pool to an 8x8 grid, threshold each block mean against
    the image mean, pack the 64 bits row-major MSB-first as 16 hex
    chars. All comparisons are exact-integer (block_sum * 64 vs total
    pixel sum — the /4 and /256 normalizations cancel), so the DuckDB
    twin reproduces every bit."""
    import numpy as np

    B, h, w = G.shape
    assert h % 8 == 0 and w % 8 == 0, f"aHash needs 8-divisible dims, got {h}x{w}"
    by, bx = h // 8, w // 8
    blocks = G.reshape(B, 8, by, 8, bx).sum(axis=(2, 4))  # (B, 8, 8) block sums
    total = G.sum(axis=(1, 2))[:, None, None]
    # block_sum/(by*bx) > total/(h*w) with h*w = 64*by*bx reduces to:
    bits = (blocks * 64 > total).reshape(B, 64)
    weights = 1 << np.arange(63, -1, -1, dtype=np.uint64)
    vals = (bits.astype(np.uint64) * weights).sum(axis=1)
    return [format(int(v), "016x") for v in vals]


def media_features(spans: DataFrame, blobs: DataFrame) -> DataFrame:
    """media spans -> decoded feature rows via mapInPandas: width/height
    and format from the actual PNG header (``png_codec.read_png_header``
    + magic-byte sniff), perceptual fingerprint from the decoded pixels
    (``ahash_batch``). Per-item error tolerance (F11): a blob that fails
    to parse, or a ref with no blob in the store, yields decode_ok=false
    with zeroed metadata instead of failing the stage — the quarantine
    pattern for bad bytes.

    The kernel sees the whole Arrow batch (no chunking): the batch decode
    is the fast path, and a corrupt blob re-decodes the batch per item.
    """

    def decode(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        n = len(pdf)
        out = pdf[["doc_id", "media_ref", "offset"]].copy()
        widths = np.zeros(n, dtype=np.int64)
        heights = np.zeros(n, dtype=np.int64)
        fmts = [""] * n
        hashes = [""] * n
        oks = [False] * n
        G = None  # (B, h, w) stack when every row decoded
        imgs, ok_ix = [], []
        blob_list = list(pdf["png"])
        try:
            # batch-vectorized decode — the hot path when every blob is
            # present, well-formed and one shape (the normal case)
            G = png_codec.decode_png_gray_batch([bytes(b) for b in blob_list])
        except (png_codec.PngFormatError, TypeError):
            # F11 per-item tolerance: re-decode one by one so a single
            # corrupt/mixed-shape blob, or a ref with no blob (null
            # png: TypeError), quarantines alone
            for i, blob in enumerate(blob_list):
                try:
                    b = bytes(blob)
                    fmts[i] = "png" if b[:8] == png_codec.PNG_SIG else "unknown"
                    g = png_codec.decode_png_gray(b)
                except (png_codec.PngFormatError, TypeError):
                    continue
                heights[i], widths[i] = g.shape
                oks[i] = True
                imgs.append(g)
                ok_ix.append(i)
        if G is not None:
            heights[:], widths[:] = G.shape[1], G.shape[2]
            fmts = ["png"] * n
            oks = [True] * n
            hashes = ahash_batch(G)
        elif ok_ix:
            for i, hx in zip(ok_ix, ahash_batch(np.stack(imgs))):
                hashes[i] = hx
        out["width"] = widths
        out["height"] = heights
        out["format"] = fmts
        out["phash"] = hashes
        out["decode_ok"] = oks
        return out

    return _media_stage(_media_spans(spans), blobs, decode, MEDIA_FEATURES_SCHEMA, None)


QUALITY_SCHEMA = (
    "doc_id string, media_ref string, offset int, contrast_score double, "
    "brightness_score double, sharpness_score double, noise_level double, "
    "overall_score double, issues_joined string"
)


def _laplacian_reflect101(g):
    """3x3 Laplacian [[0,1,0],[1,-4,1],[0,1,0]] with BORDER_REFLECT_101
    — the exact kernel and border mode of cv2.Laplacian(gray, CV_64F)
    at default ksize=1 (document_analysis_utils.py:512). numpy's pad
    mode 'reflect' IS reflect-101 (the edge sample is not repeated)."""
    import numpy as np

    p = np.pad(g, 1, mode="reflect")
    return p[:-2, 1:-1] + p[2:, 1:-1] + p[1:-1, :-2] + p[1:-1, 2:] - 4 * g


def _median5_replicate(g):
    """5x5 median filter with BORDER_REPLICATE — the kernel and border
    mode of cv2.medianBlur(gray, 5) (document_analysis_utils.py:523).
    Odd window (25 samples) keeps the median an exact order statistic."""
    import numpy as np

    p = np.pad(g, 2, mode="edge")
    stack = np.stack(
        [p[dy : dy + g.shape[0], dx : dx + g.shape[1]] for dy in range(5) for dx in range(5)]
    )
    return np.median(stack, axis=0)


def assess_quality_gray(gray) -> dict:
    """The reference QualityAssessor's metric math — REAL, not a stub —
    ported to pure numpy (this container has no cv2; the kernels and
    normalizations are the reference's exactly,
    /root/reference/src/utils/document_analysis_utils.py:419-528):

    - contrast  = min(std(gray)/80, 1)            (:487-494)
    - brightness: piecewise around the 120..200 ideal band  (:496-508)
    - sharpness = min(var(laplacian(gray))/1000, 1)         (:510-517)
    - noise     = min(mean|gray - median5(gray)|/20, 1)     (:519-528)
    - overall   = 0.3*contrast + 0.2*brightness + 0.3*sharpness
                  + 0.2*(1-noise), with the reference's issue
                  thresholds (0.4 / 0.3 / 0.3 / 0.6)        (:449-472)

    Aggregations go through exact integer sums (the grid is integral),
    then one fixed sequence of double ops — so an independent engine
    (the DuckDB oracle) computing the same sums reproduces every score
    bit-for-bit."""
    import math

    n = gray.size
    s1 = int(gray.sum())
    s2 = int((gray * gray).sum())
    mean = s1 / n
    # math.sqrt (not **0.5): sqrt is correctly rounded IEEE; pow(x,0.5)
    # is not guaranteed to be, and the oracle twin uses SQL sqrt
    std = math.sqrt(s2 / n - (s1 / n) * (s1 / n))
    contrast = min(std / 80.0, 1.0)
    if mean < 120:
        brightness = mean / 120.0
    elif mean > 200:
        brightness = max(0.0, 1.0 - (mean - 200) / 55.0)
    else:
        brightness = 1.0
    lap = _laplacian_reflect101(gray)
    l1 = int(lap.sum())
    l2 = int((lap * lap).sum())
    lap_var = l2 / n - (l1 / n) * (l1 / n)
    sharpness = min(lap_var / 1000.0, 1.0)
    sad = int(abs(gray - _median5_replicate(gray)).sum())
    noise = min((sad / n) / 20.0, 1.0)
    overall = contrast * 0.3 + brightness * 0.2 + sharpness * 0.3 + (1.0 - noise) * 0.2
    issues = []
    if contrast < 0.4:
        issues.append("low_contrast")
    if brightness < 0.3:
        issues.append("dark_image")
    if sharpness < 0.3:
        issues.append("blurry_image")
    if noise > 0.6:
        issues.append("noisy_image")
    # floor-truncation to 4 decimals instead of round(): the integer
    # grid makes exact decimal round-half ties COMMON (e.g. mean/120
    # with n=256), and round-half resolution differs between engines;
    # floor(x*1e4)/1e4 is the identical IEEE op sequence on both sides
    def trunc4(x: float) -> float:
        return math.floor(x * 10000.0) / 10000.0

    return {
        "contrast_score": trunc4(contrast),
        "brightness_score": trunc4(brightness),
        "sharpness_score": trunc4(sharpness),
        "noise_level": trunc4(noise),
        "overall_score": trunc4(overall),
        "issues_joined": "|".join(issues),
    }


LAYOUT_SCHEMA = (
    "doc_id string, media_ref string, offset int, column_count int, "
    "dark_ratio double, multi_column boolean"
)


def detect_columns_gray(gray) -> int:
    """The reference ContentAnalyzer's column detector — REAL math, not
    a stub (/root/reference/src/utils/document_analysis_utils.py:
    636-671): vertical ink projection (count of pixels < 128 per
    column), box-kernel smoothing (k = max(5, min(20, w//50))), valleys
    where the smoothed profile drops under 0.3x its mean, and maximal
    non-valley runs wider than w//10 counted as columns.

    Numerics: the reference compares float profiles; this port compares
    the EQUIVALENT integer form — S_i * w < (sum_i S_i) * 0.3, where
    S_i is the un-normalized window sum (the 1/k and 1/(w*k) factors
    cancel) — so the engine and the DuckDB twin branch identically on
    every pixel pattern with a single deterministic float multiply."""
    return detect_columns_batch(gray[None, :, :])[0]


def detect_columns_batch(G) -> list:
    """Column counts for a (B, h, w) raster stack — the ONE home of the
    smoothing/valley math, shared by the per-image reference wrapper
    above and the content_layout operator.

    Window bounds are exactly where np.convolve 'same' places a k-tap
    kernel (for even k it extends one EARLIER): out[i] covers
    proj[i-(k-1)+m .. i+m], zero-padded at the edges."""
    import numpy as np

    B, h, w = G.shape
    proj = (G < 128).sum(axis=1)  # (B, w) ink per column, ints
    k = max(5, min(20, w // 50))
    m = (k - 1) // 2
    s = np.stack(
        [proj[:, max(0, i - (k - 1) + m) : i + m + 1].sum(axis=1) for i in range(w)],
        axis=1,
    )
    valley = (s * w) < (s.sum(axis=1, keepdims=True) * 0.3)
    return [_count_runs(valley[i], w) for i in range(B)]


def _count_runs(valley, w: int) -> int:
    """The reference's column-region counting loop over a valley mask
    (document_analysis_utils.py:653-671): maximal non-valley runs wider
    than w//10, minimum 1."""
    min_w = w // 10
    regions = 0
    in_valley = False
    start_col = 0
    for i, is_v in enumerate(valley):
        if not in_valley and is_v:
            if i - start_col > min_w:
                regions += 1
            in_valley = True
        elif in_valley and not is_v:
            start_col = i
            in_valley = False
    if not in_valley and w - start_col > min_w:
        regions += 1
    return max(1, regions)


def content_layout(spans: DataFrame, blobs: DataFrame) -> DataFrame:
    """media spans -> content-layout rows (column count, ink ratio) via
    the same mapInPandas seam as the quality metrics: the raster comes
    from the real PNG decode, the layout analysis is the reference
    ContentAnalyzer's real projection math (``detect_columns_gray``).
    Handwriting / layout-complexity need contour extraction
    (cv2.findContours) and stay behind the format seam until a real
    image stack is present."""

    def layout(part: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        G = png_codec.decode_png_gray_batch(list(part["png"]))
        _B, hh, ww = G.shape
        cols = detect_columns_batch(G)
        dark = (G < 128).sum(axis=(1, 2))
        out = part[["doc_id", "media_ref", "offset"]].copy()
        out["column_count"] = cols
        out["dark_ratio"] = np.floor(dark / (hh * ww) * 10000.0) / 10000.0
        out["multi_column"] = [c > 1 for c in cols]
        return out

    return _media_stage(_media_spans(spans), blobs, layout, LAYOUT_SCHEMA, 4096)


def assess_quality_batch(G) -> dict:
    """Vectorized ``assess_quality_gray`` over a (B, h, w) raster stack
    — identical numbers (integer sums per image, then the same scalar
    double formula applied elementwise), measured ~4x faster than the
    per-image loop at bench scale (the 16x16 arrays are too small to
    amortize per-call numpy overhead one image at a time). Returns a
    dict of per-image arrays plus ``issues_joined`` strings."""
    import numpy as np

    B, hh, ww = G.shape
    n = hh * ww
    # narrow-dtype hot path: every intermediate is exact in int32
    # (pixels <= 255, laplacian in [-1020, 1020], squares < 2^31) and
    # the 25-tap median runs as a uint8 partition — an int64 median
    # stack alone was 8x this whole kernel's cost at a 10k batch
    g32 = G.astype(np.int32)
    s1 = g32.sum(axis=(1, 2), dtype=np.int64)
    s2 = (g32 * g32).sum(axis=(1, 2), dtype=np.int64)
    mean = s1 / n
    std = np.sqrt(s2 / n - (s1 / n) * (s1 / n))
    contrast = np.minimum(std / 80.0, 1.0)
    brightness = np.where(
        mean < 120,
        mean / 120.0,
        np.where(mean > 200, np.maximum(0.0, 1.0 - (mean - 200) / 55.0), 1.0),
    )
    p = np.pad(g32, ((0, 0), (1, 1), (1, 1)), mode="reflect")
    lap = (
        p[:, :-2, 1:-1] + p[:, 2:, 1:-1] + p[:, 1:-1, :-2] + p[:, 1:-1, 2:] - 4 * g32
    )
    l1 = lap.sum(axis=(1, 2), dtype=np.int64)
    l2 = (lap * lap).sum(axis=(1, 2), dtype=np.int64)
    sharpness = np.minimum((l2 / n - (l1 / n) * (l1 / n)) / 1000.0, 1.0)
    pe = np.pad(G.astype(np.uint8), ((0, 0), (2, 2), (2, 2)), mode="edge")
    stack = np.stack(
        [pe[:, dy : dy + hh, dx : dx + ww] for dy in range(5) for dx in range(5)]
    )
    # median of 25 = the 13th order statistic exactly (odd count, no
    # interpolation) — np.partition on uint8, bit-equal to np.median
    med = np.partition(stack, 12, axis=0)[12].astype(np.int32)
    sad = np.abs(g32 - med).sum(axis=(1, 2), dtype=np.int64)
    noise = np.minimum((sad / n) / 20.0, 1.0)
    overall = contrast * 0.3 + brightness * 0.2 + sharpness * 0.3 + (1.0 - noise) * 0.2

    def trunc4(arr):
        return np.floor(arr * 10000.0) / 10000.0

    issues = [
        "|".join(
            name
            for flag, name in [
                (contrast[i] < 0.4, "low_contrast"),
                (brightness[i] < 0.3, "dark_image"),
                (sharpness[i] < 0.3, "blurry_image"),
                (noise[i] > 0.6, "noisy_image"),
            ]
            if flag
        )
        for i in range(B)
    ]
    return {
        "contrast_score": trunc4(contrast),
        "brightness_score": trunc4(brightness),
        "sharpness_score": trunc4(sharpness),
        "noise_level": trunc4(noise),
        "overall_score": trunc4(overall),
        "issues_joined": issues,
    }


def media_quality(spans: DataFrame, blobs: DataFrame) -> DataFrame:
    """media spans -> per-image quality assessment via mapInPandas: the
    bytes decode through the stdlib PNG reader, the METRICS over the
    pixels are the reference's real math, vectorized across each chunk
    (``assess_quality_batch``; ``assess_quality_gray`` is the
    per-image reference implementation the batch path is tested
    against).

    Chunks of 256 rows: the 25-tap median materializes 25*B*h*w
    samples — keep the working set cache-resident (32 concurrent
    Python workers share one socket's DRAM; a 100MB stack per worker
    turns the stage memory-bound)."""

    def assess(part: pd.DataFrame) -> pd.DataFrame:
        G = png_codec.decode_png_gray_batch(list(part["png"]))
        return part[["doc_id", "media_ref", "offset"]].assign(**assess_quality_batch(G))

    return _media_stage(_media_spans(spans), blobs, assess, QUALITY_SCHEMA, 256)


CONDITION_SCHEMA = (
    QUALITY_SCHEMA + ", text_orientation double, edge_orientation double, "
    "rotation_deg int, rotation_conf double, skew_deg double, "
    "skew_conf double, line_count int"
)


def assess_media_full(spans: DataFrame, blobs: DataFrame) -> DataFrame:
    """media spans -> quality metrics (QualityAssessor kernels) PLUS
    rotation/skew analysis (RotationDetector + SkewDetector pipelines,
    operators/orientation.py) in ONE Arrow stage: the raster decodes
    once and both metric families read the same stack — the plan a real
    CV pass wants (1 scan, 1 Python stage, no join of two decode
    stages). Same chunking as ``media_quality``."""
    from pdf2ontology_spark.operators import orientation

    def assess(part: pd.DataFrame) -> pd.DataFrame:
        G = png_codec.decode_png_gray_batch(list(part["png"]))
        return part[["doc_id", "media_ref", "offset"]].assign(
            **assess_quality_batch(G), **orientation.orientation_batch(G)
        )

    return _media_stage(_media_spans(spans), blobs, assess, CONDITION_SCHEMA, 256)


PREPROCESSED_SCHEMA = (
    "doc_id string, offset int, media_ref string, processed_ref string, "
    "applied_joined string, n_applied int, rotation_deg_after int, "
    "skew_deg_after double, changed boolean, out_checksum long, mean_after double"
)


def _apply_token(media_ref: str, actions: list[str]) -> str:
    """Deterministic processed-bytes POINTER: sha256 state folded per
    applied action, starting from sha256(media_ref) — a no-op plan keeps
    the original token (byte-identical pass-through). The pixel-level
    proof of the transforms is out_checksum/mean_after, recomputed by
    the DuckDB twin over the actual action chain."""
    state = hashlib.sha256(media_ref.encode()).hexdigest()
    for a in actions:
        state = hashlib.sha256(f"{state}:{a}".encode()).hexdigest()
    return state


def apply_actions(assessed: DataFrame, blobs: DataFrame) -> DataFrame:
    """Consume the condition stage's prioritized action plan — the
    preprocessing chain's apply pass (document_preprocessing_chain.py:
    227-261): actions run in plan order inside the Arrow-batched
    mapInPandas stage, each as a REAL raster kernel
    (operators/imaging.py — rotate remap, NN deskew, contrast stretch,
    gamma LUT, 5x5 median denoise, sharpen convolution + blend) over
    the decoded raster; skip-predicate rows (needs_processing=false /
    empty plan) pass through with the original pixels and byte token
    untouched. rotation/skew are zeroed when their corrective action
    ran; out_checksum/mean_after expose the transformed pixels for the
    independent SQL twin."""
    from pdf2ontology_spark.operators import imaging

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        acts = [list(a) for a in pdf["actions"]]
        G = png_codec.decode_png_gray_batch(list(pdf["png"]))
        n, h, w = G.shape
        n_px = h * w
        # Group rows by CHAIN SIGNATURE — the action tuple plus the
        # only parameters the kernels read (rotation iff the chain
        # rotates, skew iff it deskews) — and run each group's chain
        # once over a (B, h, w) stack. The signature space is
        # BOUNDED, not data-sized: rotation is quadrant-valued and
        # skew is the median of 3-degree-stepped Hough angles (half-
        # step lattice), so groups only get denser as the corpus
        # grows (~1.2k signatures over 138k rows at sf0.1).
        # Bit-identical to the per-image path (pinned by
        # tests/test_imaging.py): parameter-pinned kernels are pure
        # elementwise/gather ops under a batch axis.
        groups: dict = {}
        for i, (a, sk, rot) in enumerate(
            zip(acts, pdf["skew_deg"], pdf["rotation_deg"])
        ):
            key = (
                tuple(a),
                int(rot) if "rotate" in a else 0,
                float(sk) if "deskew" in a else 0.0,
            )
            groups.setdefault(key, []).append(i)
        checksums = np.zeros(n, dtype=np.int64)
        means = np.zeros(n, dtype=np.float64)
        for (a, rot, sk), rows in groups.items():
            ix = np.array(rows, dtype=np.int64)
            g = imaging.apply_chain_batch(G[ix], a, sk, rot)
            checksums[ix] = imaging.raster_checksum_batch(g)
            sums = g.reshape(len(ix), -1).sum(axis=1)
            means[ix] = np.floor(sums / n_px * 10000.0) / 10000.0
        out = pdf[["doc_id", "offset", "media_ref"]].copy()
        out["processed_ref"] = [
            _apply_token(r, a) for r, a in zip(pdf["media_ref"], acts)
        ]
        out["applied_joined"] = ["|".join(a) for a in acts]
        out["n_applied"] = [len(a) for a in acts]
        out["rotation_deg_after"] = [
            0 if "rotate" in a else r for r, a in zip(pdf["rotation_deg"], acts)
        ]
        # double: assess_media_real's skew is fractional, and an int
        # column would reject (or truncate) the pass-through values
        out["skew_deg_after"] = [
            0.0 if "deskew" in a else float(s) for s, a in zip(pdf["skew_deg"], acts)
        ]
        out["changed"] = [len(a) > 0 for a in acts]
        out["out_checksum"] = checksums
        out["mean_after"] = means
        return out

    # whole Arrow batch, not chunks: the chain-signature groups get
    # denser (fewer kernel calls per row) as the batch grows
    plans = assessed.select(
        "doc_id", "offset", "media_ref", "actions", "skew_deg", "rotation_deg"
    )
    return _media_stage(plans, blobs, run, PREPROCESSED_SCHEMA, None)


def frame_samples(spans: DataFrame, interval_s: int = 2, max_frames: int = 32) -> DataFrame:
    """Video/animation frame-sampling plumbing: one row per sampled
    frame with a deterministic timestamp and an addressable frame_ref.

    The sampling SCHEDULE is pure JVM expressions (explode over a
    sequence — no Python in the fan-out); only the media duration is a
    clearly-marked sha256-derived STUB (no codecs in this container; a
    real deployment probes the container header in the same
    mapInPandas stage as the decode). ``max_frames`` caps the fan-out so
    a pathological 10h asset cannot explode a partition."""
    h = F.sha2(F.col("media_ref"), 256)
    duration_s = (
        F.conv(F.substring(h, 25, 3), 16, 10).cast("int") % 600 + 1
    )  # STUB: 1..600s derived from the ref hash
    media = (
        spans.filter(F.col("kind") == "media")
        .select("doc_id", "offset", "media_ref")
        .withColumn("duration_s", duration_s)
        .withColumn(
            "n_frames",
            F.least(
                (F.col("duration_s") / interval_s).cast("int") + 1, F.lit(max_frames)
            ),
        )
    )
    return media.select(
        "doc_id",
        "offset",
        "media_ref",
        "duration_s",
        F.explode(F.sequence(F.lit(0), F.col("n_frames") - 1)).alias("frame_idx"),
    ).select(
        "doc_id",
        "offset",
        "media_ref",
        "duration_s",
        "frame_idx",
        (F.col("frame_idx") * interval_s).alias("t_s"),
        F.concat_ws("#", "media_ref", F.col("frame_idx").cast("string")).alias(
            "frame_ref"
        ),
    )


def media_stats(features: DataFrame) -> DataFrame:
    """Per-document media rollup (A2-style aggregate over media)."""
    return features.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_media"),
        F.sum(F.when(F.col("decode_ok"), 1).otherwise(0)).cast("long").alias("n_ok"),
        F.round(F.avg(F.col("width") * F.col("height")), 2).alias("avg_pixels"),
        F.countDistinct("format").cast("long").alias("n_formats"),
    )
