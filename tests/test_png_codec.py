"""The stdlib PNG codec behind the media decode seam: byte-level
round-trip, filter coverage, corruption handling, and the
blobs-vs-fixture pixel identity the oracle design rests on."""

import struct
import zlib

import numpy as np
import pytest

from pdf2ontology_spark import png_codec, raster


def _refs(n):
    return [f"media://codec-doc{i}/{i}.png" for i in range(n)]


def test_round_trip_corpus_rasters():
    for ref in _refs(100):
        g = raster.synth_raster(ref)
        b = png_codec.encode_png_gray(g)
        assert b[:8] == png_codec.PNG_SIG
        assert (png_codec.decode_png_gray(b) == g).all()


def test_round_trip_random_and_degenerate():
    rng = np.random.RandomState(7)
    cases = [
        rng.randint(0, 256, size=(16, 16)),
        rng.randint(0, 256, size=(5, 3)),  # non-square, odd dims
        rng.randint(0, 256, size=(1, 1)),
        np.zeros((4, 4), dtype=np.int64),
        np.full((4, 4), 255),
        np.arange(64).reshape(8, 8),  # smooth gradient (Sub/Up territory)
    ]
    for g in cases:
        assert (png_codec.decode_png_gray(png_codec.encode_png_gray(g)) == g).all()


def test_all_five_filters_exercised_and_decoded():
    """The writer's min-SAD heuristic must actually emit every filter
    type across the corpus (else the reader's defilter paths are dead
    code), and each emitted stream must decode back exactly."""
    seen = set()
    for ref in _refs(400):
        b = png_codec.encode_png_gray(raster.synth_raster(ref))
        idat = b""
        for tag, payload in png_codec._parse_chunks(b):
            if tag == b"IDAT":
                idat += payload
        raw = zlib.decompress(idat)
        seen |= set(raw[:: raster.GRID_W + 1])
        if seen >= {0, 1, 2, 3, 4}:
            break
    # ramp-like corpus rasters strongly favor Sub/Up/Paeth; require at
    # least the recurrence filters plus one of None/Average
    assert {1, 2, 4} <= seen, f"filter coverage too narrow: {sorted(seen)}"
    # force the remaining types on crafted inputs
    rng = np.random.RandomState(0)
    noisy = rng.randint(0, 256, size=(16, 16))  # noise -> filter 0 rows
    smooth = (np.add.outer(np.arange(16), np.arange(16)) // 2) % 256  # avg-friendly
    for g in (noisy, smooth):
        assert (png_codec.decode_png_gray(png_codec.encode_png_gray(g)) == g).all()


def test_header_probe_no_inflate():
    g = raster.synth_raster("media://p/1.png", h=16, w=16)
    w, h, depth, color = png_codec.read_png_header(png_codec.encode_png_gray(g))
    assert (w, h, depth, color) == (16, 16, 8, png_codec.COLOR_GRAY)


@pytest.mark.parametrize(
    "mutate",
    [
        lambda b: b"JUNK" + b[4:],  # bad signature
        lambda b: b[:-8],  # truncated (IEND lost)
        lambda b: b[:33] + bytes([b[33] ^ 0xFF]) + b[34:],  # CRC break in IDAT
    ],
)
def test_corrupt_bytes_raise(mutate):
    b = png_codec.encode_png_gray(raster.synth_raster("media://c/1.png"))
    with pytest.raises(png_codec.PngFormatError):
        png_codec.decode_png_gray(mutate(b))


def test_null_blob_raises_in_both_decoders():
    # a media ref with no bytes in the blob store
    with pytest.raises(png_codec.PngFormatError):
        png_codec.decode_png_gray(None)
    with pytest.raises(png_codec.PngFormatError):
        png_codec.decode_png_gray_batch([None])


def test_unsupported_profile_raises():
    # hand-build an RGB (color type 2) IHDR — reader must refuse, not
    # silently misread
    ihdr = struct.pack(">IIBBBBB", 4, 4, 8, 2, 0, 0, 0)
    raw = b"".join(b"\x00" + bytes(12) for _ in range(4))
    bad = (
        png_codec.PNG_SIG
        + png_codec._chunk(b"IHDR", ihdr)
        + png_codec._chunk(b"IDAT", zlib.compress(raw))
        + png_codec._chunk(b"IEND", b"")
    )
    with pytest.raises(png_codec.PngFormatError):
        png_codec.decode_png_gray(bad)


def test_batch_decode_matches_fixture_stack():
    refs = _refs(32)
    blobs = [png_codec.encode_png_gray(raster.synth_raster(r)) for r in refs]
    G = png_codec.decode_png_gray_batch(blobs)
    assert (G == np.stack([raster.synth_raster(r) for r in refs])).all()
    with pytest.raises(png_codec.PngFormatError):
        png_codec.decode_png_gray_batch(
            [png_codec.encode_png_gray(np.zeros((4, 4))), blobs[0]]
        )


def test_blob_store_generation_cached(tmp_path):
    from pdf2ontology_spark import synth

    p1 = synth.ensure_blobs("sf0.001")
    p2 = synth.ensure_blobs("sf0.001")  # cache hit, no rewrite
    assert p1 == p2
    import pyarrow.parquet as pq

    t = pq.read_table(p1["media_blobs"])
    assert t.column_names == ["media_ref", "png"]
    ref = t.column("media_ref")[0].as_py()
    blob = t.column("png")[0].as_py()
    assert (png_codec.decode_png_gray(blob) == raster.synth_raster(ref)).all()


def test_batch_decode_bitequal_to_single_across_filters():
    """The batch-vectorized defilter (decode_png_gray_batch) must be
    bit-identical to the per-image reference decoder on a batch whose
    rows mix ALL five filter types — the masked recurrence paths are
    only exercised when different images pick different filters for the
    same row index."""
    rng = np.random.RandomState(3)
    imgs = []
    for i in range(64):
        k = i % 5
        if k == 0:
            g = np.full((16, 16), i % 256)  # flat -> Up/None
        elif k == 1:
            g = np.tile((np.arange(16) * (i % 13 + 1)) % 256, (16, 1))  # Sub
        elif k == 2:
            g = (np.add.outer(np.arange(16), np.arange(16)) * (i % 7 + 1)) % 256
        elif k == 3:
            g = rng.randint(0, 256, size=(16, 16))  # noise -> None
        else:
            g = (np.arange(256).reshape(16, 16) * (i % 11 + 1)) % 256
        imgs.append(g.astype(np.int64))
    blobs = [png_codec.encode_png_gray(g) for g in imgs]
    seen = set()
    for b in blobs:
        _w, _h, raw = png_codec._inflate_scanlines(b)
        seen |= set(raw[:: 16 + 1])
    assert seen >= {0, 1, 2, 3, 4}, (
        f"filter mix too narrow for the pin (every defilter branch must "
        f"be live, incl. Average): {sorted(seen)}"
    )
    single = np.stack([png_codec.decode_png_gray(b) for b in blobs])
    batch = png_codec.decode_png_gray_batch(blobs)
    assert (single == batch).all()
    assert (single == np.stack(imgs)).all()
