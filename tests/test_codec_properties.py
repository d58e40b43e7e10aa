"""Property tests for the pure-stdlib media codecs (no Spark)."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from name_match_latest_spark.operators.multimodal import decode_bmp, encode_bmp

dims = st.tuples(st.integers(1, 40), st.integers(1, 40))


@settings(max_examples=30, deadline=None)
@given(dims, st.integers(0, 2**32 - 1))
def test_bmp_roundtrip_any_size(wh, seed):
    w, h = wh
    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    assert np.array_equal(decode_bmp(encode_bmp(img)), img)


@settings(max_examples=30, deadline=None)
@given(dims, st.integers(0, 2**32 - 1))
def test_png_adam7_equals_plain_any_size(wh, seed):
    """Interlaced and non-interlaced encodings of the same image
    decode identically at arbitrary sizes (empty Adam7 passes, ragged
    pass grids)."""
    from name_match_latest_spark.operators.multimodal import (
        decode_png,
        encode_png,
    )

    w, h = wh
    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    assert np.array_equal(decode_png(encode_png(img)), img)
    assert np.array_equal(decode_png(encode_png(img, interlace=True)), img)


@settings(max_examples=25, deadline=None)
@given(dims, st.integers(0, 2**32 - 1), st.booleans())
def test_jpeg_roundtrip_any_size(wh, seed, restarts):
    """quant=1 4:4:4 JPEG loses only DCT rounding at ANY size (ragged
    MCU edges, 1-pixel dims, restart markers)."""
    from name_match_latest_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )

    w, h = wh
    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    enc = encode_jpeg(img, quant=1, restart_interval=2 if restarts else 0)
    dec = decode_jpeg(enc)
    assert dec.shape == img.shape
    assert np.abs(dec.astype(np.int64) - img.astype(np.int64)).max() <= 3


@settings(max_examples=40, deadline=None)
@given(st.binary(max_size=200))
def test_jpeg_decode_total_on_garbage(payload):
    """Arbitrary bytes (with or without the JPEG magic prepended)
    either decode or raise ValueError/NotImplementedError — never an
    unguarded IndexError/struct.error."""
    from name_match_latest_spark.operators.jpeg import decode_jpeg

    for candidate in (payload, b"\xff\xd8\xff" + payload):
        try:
            out = decode_jpeg(candidate)
            assert out.dtype == np.uint8 and out.ndim == 3
        except (ValueError, NotImplementedError):
            pass


@settings(max_examples=20, deadline=None)
@given(dims, st.integers(0, 2**32 - 1), st.booleans())
def test_jpeg_progressive_equals_baseline_any_size(wh, seed, sub):
    """The SOF2 scan script carries the same quantized coefficients
    as the baseline stream at ANY size (ragged MCUs, 1-pixel dims,
    4:2:0), so decoded pixels are bit-identical."""
    from name_match_latest_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )

    w, h = wh
    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    base = decode_jpeg(encode_jpeg(img, quant=1, subsample=sub))
    prog = decode_jpeg(
        encode_jpeg(img, quant=1, subsample=sub, progressive=True)
    )
    assert np.array_equal(base, prog)


def test_jpeg_zigzag_matches_spec_table():
    """The generated zigzag order must equal the PUBLISHED JPEG scan
    order (ITU-T T.81 Figure A.6) — a roundtrip test alone cannot
    catch a same-author inverse error here."""
    from name_match_latest_spark.operators.jpeg import _ZZ

    spec = [
        0, 1, 8, 16, 9, 2, 3, 10,
        17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34,
        27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36,
        29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46,
        53, 60, 61, 54, 47, 55, 62, 63,
    ]
    assert list(_ZZ) == spec


def test_jpeg_canonical_huffman_annex_k_dc_luma():
    """Canonical table construction against the public Annex K DC
    luminance vector: varied code lengths, known code assignments."""
    from name_match_latest_spark.operators.jpeg import _canonical_table

    bits = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
    values = bytes(range(12))
    t = _canonical_table(bits, values)
    expected = {
        (2, 0b00): 0,
        (3, 0b010): 1,
        (3, 0b011): 2,
        (3, 0b100): 3,
        (3, 0b101): 4,
        (3, 0b110): 5,
        (4, 0b1110): 6,
        (5, 0b11110): 7,
        (6, 0b111110): 8,
        (7, 0b1111110): 9,
        (8, 0b11111110): 10,
        (9, 0b111111110): 11,
    }
    assert t == expected


def test_jpeg_dct_basis_is_orthonormal():
    from name_match_latest_spark.operators.jpeg import _DCT_T

    assert np.allclose(_DCT_T @ _DCT_T.T, np.eye(8), atol=1e-12)
    # DC basis row: constant 1/sqrt(8)
    assert np.allclose(_DCT_T[0], np.sqrt(1 / 8))
