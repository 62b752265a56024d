"""Image-action kernels (/root/reference/src/utils/image_utils.py:
295-481 port): exact per-pixel expectations on hand-built rasters."""

import math

import numpy as np

from pdf2ontology_spark.operators import imaging as I


def _ramp():
    return np.arange(256, dtype=np.int64).reshape(16, 16)


def test_rotate_exact_is_cv2_semantics():
    g = _ramp()
    r90 = I.rotate_exact(g, 90)
    # cv2 ROTATE_90_CLOCKWISE: first column (top->bottom) becomes first
    # row (right->left): out[0, 15] = in[0, 0]
    assert r90[0, 15] == g[0, 0]
    assert r90[0, 0] == g[15, 0]
    assert (I.rotate_exact(I.rotate_exact(g, 90), 270) == g).all()
    assert (I.rotate_exact(I.rotate_exact(g, 180), 180) == g).all()


def test_deskew_zero_is_identity_and_small_angle_moves_pixels():
    g = _ramp()
    assert (I.deskew_nn(g, 0.0) == g).all()
    d = I.deskew_nn(g, 5.0)
    assert d.shape == g.shape
    assert (d != g).any()
    # center pixel is a fixed point of rotation about (8, 8)
    assert d[8, 8] == g[8, 8]


def test_contrast_stretch_full_range():
    g = np.full((16, 16), 100, dtype=np.int64)
    g[0, 0] = 50
    g[15, 15] = 150
    s = I.contrast_stretch(g)
    assert s[0, 0] == 0 and s[15, 15] == 255
    assert s[1, 1] == math.floor((100 - 50) * 255.0 / 100 + 0.5)
    flat = np.full((16, 16), 7, dtype=np.int64)
    assert (I.contrast_stretch(flat) == flat).all()


def test_gamma_lut_matches_reference_formula():
    # ((i/255)^(1/1.2))*255 truncated to uint8 (image_utils.py:345-348)
    for i in (0, 1, 64, 128, 254, 255):
        assert I.GAMMA_LUT[i] == int(((i / 255.0) ** (1.0 / 1.2)) * 255)
    assert I.GAMMA_LUT[0] == 0 and I.GAMMA_LUT[255] == 255
    g = _ramp() % 256
    assert (I.gamma_correct(g) == np.array(I.GAMMA_LUT)[g]).all()


def test_sharpen_kernel_on_impulse():
    g = np.zeros((16, 16), dtype=np.int64)
    g[8, 8] = 100
    s = I.sharpen(g)
    # center: conv = 9*100 = 900 -> clipped 255; blend 0.3*100 + 0.7*255
    expect_c = math.floor((1.0 - 0.7) * 100 + 0.7 * 255 + 0.5)
    assert s[8, 8] == expect_c
    # neighbor: conv = -100 -> clipped 0; blend 0.3*0 + 0.7*0 = 0
    assert s[8, 7] == 0
    flat = np.full((16, 16), 80, dtype=np.int64)
    assert (I.sharpen(flat) == 80).all()  # conv = 80, blend = 80


def test_denoise_median_removes_impulse():
    g = np.full((16, 16), 60, dtype=np.int64)
    g[5, 5] = 255
    assert (I.denoise_median5(g) == 60).all()


def test_chain_order_and_checksum():
    g = _ramp()
    out = I.apply_chain(g, ["rotate", "sharpen"], 0.0, 180)
    manual = I.sharpen(I.rotate_exact(g, 180))
    assert (out == manual).all()
    assert I.raster_checksum(out) == int(
        (manual * np.arange(1, 257).reshape(16, 16)).sum()
    )


def test_batched_chain_bit_identical_to_scalar():
    """The grouped (B, h, w) chain path must equal the per-image path
    bit-for-bit for every kernel and parameter mix — the invariant that
    lets apply_actions run one batched chain per signature group."""
    from pdf2ontology_spark.raster import synth_raster

    refs = [f"media://doc{i}/img{i % 7}" for i in range(23)]
    G = np.stack([synth_raster(r) for r in refs])
    # include a FLAT image so contrast_stretch_batch's mx==mn branch is
    # exercised in the same stack as stretchable images
    G = np.concatenate([G, np.full((1, 16, 16), 7, dtype=np.int64)])
    chains = [
        (("rotate", "deskew", "enhance_contrast"), 3.7, 90),
        (("rotate", "denoise"), 0.0, 180),
        (("deskew", "sharpen"), -11.25, 0),
        (("gamma_correction", "denoise"), 0.0, 0),
        (("rotate", "denoise", "sharpen", "gamma_correction"), 0.0, 270),
        (("enhance_contrast",), 0.0, 0),
        ((), 0.0, 0),
    ]
    for actions, sk, rot in chains:
        got = I.apply_chain_batch(G.copy(), actions, sk, rot)
        for i in range(G.shape[0]):
            want = I.apply_chain(G[i].copy(), list(actions), sk, rot)
            assert (got[i] == want).all(), (actions, sk, rot, i)
        assert (
            I.raster_checksum_batch(got)
            == np.array([I.raster_checksum(got[i]) for i in range(G.shape[0])])
        ).all()


def _median_of_taps(G):
    """np.median of the 25 edge-replicated taps, image by image."""
    out = np.empty(G.shape, dtype=np.float64)
    for i, g in enumerate(G):
        h, w = g.shape
        p = np.pad(g, 2, mode="edge")
        taps = [p[dy : dy + h, dx : dx + w] for dy in range(5) for dx in range(5)]
        out[i] = np.median(np.stack(taps), axis=0)
    return out


def test_median5_uint8_equals_np_median_of_taps():
    """The forgetful-selection median is exact on every input class:
    random bytes, constant and two-valued images (ties), the 0 and 255
    extremes, rasters narrower or shorter than the window, and stacks
    of 0 and 1 images."""
    rng = np.random.default_rng(14)
    stacks = [
        rng.integers(0, 256, (64, 16, 16)),
        rng.integers(0, 256, (1, 16, 16)),
        np.zeros((0, 16, 16), dtype=np.int64),
        np.full((3, 16, 16), 93),
        np.zeros((2, 16, 16), dtype=np.int64),
        np.full((2, 16, 16), 255),
        rng.choice([0, 255], (16, 16, 16)),
        rng.choice([40, 41], (16, 16, 16)),
        rng.integers(0, 3, (16, 16, 16)),
    ]
    stacks += [rng.integers(0, 256, (5, h, w)) for h, w in [(1, 1), (2, 9), (4, 4), (9, 3), (5, 5)]]
    for G in stacks:
        G = G.astype(np.int64)
        got = I.median5_uint8(G)
        assert got.dtype == np.uint8 and got.shape == G.shape
        assert (got == _median_of_taps(G)).all(), G.shape
        assert (I.denoise_median5_batch(G) == got).all()
        for i in range(G.shape[0]):
            assert (I.denoise_median5(G[i]) == got[i]).all()


def test_per_image_parameters_in_one_action_group():
    """One action tuple, many parameters: every rotation quadrant and
    skews that repeat, are zero of either sign or fractional run as one
    batch and match the per-image chain image by image."""
    from pdf2ontology_spark.raster import synth_raster

    rots = [0, 90, 180, 270] * 6
    skews = [0.0, -0.0, 3.7, 3.7, -11.25, 2.0, -2.0, 0.5] * 3
    G = np.stack([synth_raster(f"media://p{i}/x.png") for i in range(len(rots))])
    for actions in [
        ("rotate",),
        ("deskew",),
        ("rotate", "deskew"),
        ("rotate", "deskew", "enhance_contrast", "gamma_correction", "denoise", "sharpen"),
    ]:
        got = I.apply_chain_batch(G.copy(), actions, np.array(skews), np.array(rots))
        for i in range(G.shape[0]):
            want = I.apply_chain(G[i].copy(), list(actions), skews[i], rots[i])
            assert (got[i] == want).all(), (actions, skews[i], rots[i])
