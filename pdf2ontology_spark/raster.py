"""The deterministic corpus raster pattern — the generator-side
definition of what each media blob's PIXELS are.

This is FIXTURE knowledge, not engine knowledge: ``synth.py`` renders
this pattern and encodes it as real PNG bytes (``png_codec``); the
engine's media operators decode those bytes back without ever seeing
this module. The same closed-form expression is what the independent
DuckDB twins (oracles_data.media_quality_sql etc.) evaluate in SQL —
pixels are ``lo + (a*x + b*y + c*x*y + d) % (rng + 1)`` with per-ref
sha256-derived parameters, a bilinear ramp wrapped mod a per-image
dynamic range so it has genuine edges/contrast structure.

Kept pyspark-free so synth's process-pool encoder workers import it
cheaply.
"""

from __future__ import annotations

import hashlib

GRID_H = 16
GRID_W = 16


def synth_raster(media_ref: str, h: int = GRID_H, w: int = GRID_W):
    """One (h, w) int64 raster for a media ref (values in [0, 255])."""
    import numpy as np

    hx = hashlib.sha256(media_ref.encode()).hexdigest()
    a, b, c, d, e, f = (int(hx[i * 2 : i * 2 + 2], 16) for i in range(6))
    a %= 8
    b %= 8
    c %= 3
    rng = 16 + e % 180
    lo = f % (256 - rng)
    y, x = np.mgrid[0:h, 0:w]
    return (lo + (a * x + b * y + c * x * y + d) % (rng + 1)).astype(np.int64)

