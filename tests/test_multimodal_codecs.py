"""Real stdlib media kernels: BMP, PNG, GIF and JPEG codecs (no
PIL/ffmpeg — struct/zlib + numpy), plus RIFF form-type sniffing."""

from __future__ import annotations

import struct

import numpy as np
import pytest
from pyspark.sql.types import BinaryType, LongType, StructField, StructType

from name_match_latest_spark.operators.multimodal import (
    decode_bmp,
    encode_bmp,
)

MEDIA_SCHEMA = StructType(
    [StructField("media_id", LongType(), False), StructField("payload", BinaryType(), True)]
)


def _wav(rate=8000, seconds=0.5, freq=440.0):
    n = int(rate * seconds)
    t = np.arange(n) / rate
    samples = (np.sin(2 * np.pi * freq * t) * 20000).astype("<i2")
    data = samples.tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _avi(n_frames=10, w=4, h=3, fps=5):
    """Minimal uncompressed RIFF/AVI: avih + strf + movi/00db frames."""
    frames = []
    for i in range(n_frames):
        img = np.full((h, w, 3), i * 20 % 256, dtype=np.uint8)
        bmp = encode_bmp(img)
        frames.append(bmp[54:])  # DIB bits only, like a real '00db'

    def chunk(fourcc, payload):
        out = fourcc + struct.pack("<I", len(payload)) + payload
        return out + (b"\x00" if len(payload) % 2 else b"")

    avih = chunk(b"avih", struct.pack("<I", int(1e6 / fps)) + b"\x00" * 52)
    strf_hdr = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, 0, 0, 0, 0, 0)
    strf = chunk(b"strf", strf_hdr)
    hdrl = chunk(b"LIST", b"hdrl" + avih + strf)
    movi = chunk(b"LIST", b"movi" + b"".join(chunk(b"00db", f) for f in frames))
    return b"RIFF" + struct.pack("<I", 4 + len(hdrl) + len(movi)) + b"AVI " + hdrl + movi


def test_bmp_roundtrip():
    img = np.arange(5 * 7 * 3, dtype=np.uint8).reshape(5, 7, 3)
    assert np.array_equal(decode_bmp(encode_bmp(img)), img)


def test_avi_media_kind(spark):
    from name_match_latest_spark.operators.multimodal import attach_media_metadata

    df = spark.createDataFrame([(1, _avi()), (2, _wav())], MEDIA_SCHEMA)
    got = {r.media_id: r.media_kind for r in attach_media_metadata(df).collect()}
    assert got[1] == "video/avi"
    assert got[2] == "audio/wav"


# --- PNG (stdlib zlib kernel, new r4) ---------------------------------------


def _png_chunk_raw(ctype, data):
    import struct
    import zlib

    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def _handmade_png(color, w, h, raw_scanlines, plte=None):
    """Craft a PNG with explicit per-row filter bytes (tests the
    unfilter paths our encoder never emits)."""
    import struct
    import zlib

    sig = b"\x89PNG\r\n\x1a\n"
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    out = sig + _png_chunk_raw(b"IHDR", ihdr)
    if plte is not None:
        out += _png_chunk_raw(b"PLTE", plte)
    out += _png_chunk_raw(b"IDAT", zlib.compress(raw_scanlines))
    return out + _png_chunk_raw(b"IEND", b"")


def test_png_roundtrip():
    import numpy as np

    from name_match_latest_spark.operators.multimodal import (
        decode_png,
        encode_png,
    )

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, (13, 9, 3), dtype=np.uint8)  # BGR
    assert (decode_png(encode_png(img)) == img).all()


def test_png_all_filter_types():
    """Sub/Up/Average/Paeth unfiltering, hand-checked against the
    PNG spec recurrences on a 4x2 RGB image."""
    import numpy as np

    from name_match_latest_spark.operators.multimodal import decode_png

    # reference image rows (RGB bytes), stride 6, bpp 3
    r0 = np.array([10, 20, 30, 40, 50, 60], dtype=np.int64)
    r1 = np.array([15, 25, 35, 45, 55, 65], dtype=np.int64)
    r2 = np.array([100, 110, 120, 130, 140, 150], dtype=np.int64)
    r3 = np.array([200, 210, 220, 230, 240, 250], dtype=np.int64)

    def sub_filter(row):
        out = row.copy()
        out[3:] = (row[3:] - row[:-3]) % 256
        return out

    def up_filter(row, prev):
        return (row - prev) % 256

    def avg_filter(row, prev):
        out = row.copy()
        for x in range(6):
            left = row[x - 3] if x >= 3 else 0
            out[x] = (row[x] - (left + prev[x]) // 2) % 256
        return out

    def paeth_filter(row, prev):
        out = row.copy()
        for x in range(6):
            a = row[x - 3] if x >= 3 else 0
            b = prev[x]
            c = prev[x - 3] if x >= 3 else 0
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            out[x] = (row[x] - pred) % 256
        return out

    raw = (
        b"\x01" + bytes(sub_filter(r0).astype(np.uint8))
        + b"\x02" + bytes(up_filter(r1, r0).astype(np.uint8))
        + b"\x03" + bytes(avg_filter(r2, r1).astype(np.uint8))
        + b"\x04" + bytes(paeth_filter(r3, r2).astype(np.uint8))
    )
    img = decode_png(_handmade_png(2, 2, 4, raw))  # BGR out
    want_rgb = np.stack([r0, r1, r2, r3]).reshape(4, 2, 3).astype(np.uint8)
    assert (img == want_rgb[:, :, ::-1]).all()


def test_png_color_types():
    import numpy as np

    from name_match_latest_spark.operators.multimodal import decode_png

    # grayscale 2x2
    g = decode_png(_handmade_png(0, 2, 2, b"\x00\x10\x20\x00\x30\x40"))
    assert (g[:, :, 0] == [[0x10, 0x20], [0x30, 0x40]]).all()
    assert (g[:, :, 0] == g[:, :, 1]).all() and (g[:, :, 1] == g[:, :, 2]).all()

    # gray+alpha: alpha dropped
    ga = decode_png(
        _handmade_png(4, 2, 1, b"\x00\x10\xff\x20\x80")
    )
    assert (ga[0, :, 0] == [0x10, 0x20]).all()

    # RGBA: alpha dropped, channels preserved (BGR out)
    rgba = decode_png(
        _handmade_png(6, 1, 1, b"\x00\x0a\x0b\x0c\xff")
    )
    assert tuple(rgba[0, 0]) == (0x0C, 0x0B, 0x0A)

    # palette
    plte = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255])  # red, green, blue
    pal = decode_png(_handmade_png(3, 3, 1, b"\x00\x00\x01\x02", plte=plte))
    assert tuple(pal[0, 0]) == (0, 0, 255)  # red in BGR
    assert tuple(pal[0, 1]) == (0, 255, 0)
    assert tuple(pal[0, 2]) == (255, 0, 0)


def test_png_adam7_interlaced_roundtrip():
    """Adam7 de-interlace (round-5 closure of the r4 honest-raise):
    interlaced fixtures decode bit-identical to their non-interlaced
    twins, across sizes that exercise empty passes (w or h < 8) and
    ragged pass grids."""
    import numpy as np

    from name_match_latest_spark.operators.multimodal import (
        decode_png,
        encode_png,
    )

    rng = np.random.default_rng(77)
    for h, w in [(1, 1), (2, 2), (3, 3), (5, 7), (8, 8), (9, 10), (16, 16), (13, 4)]:
        img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        plain = encode_png(img)
        inter = encode_png(img, interlace=True)
        assert plain != inter  # genuinely different wire layout
        got_plain = decode_png(plain)
        got_inter = decode_png(inter)
        assert (got_plain == img).all()
        assert (got_inter == got_plain).all(), f"Adam7 mismatch at {h}x{w}"


def test_png_adam7_truncated_raises():
    import struct

    import numpy as np
    import pytest

    from name_match_latest_spark.operators.multimodal import (
        decode_png,
        encode_png,
    )

    img = np.arange(16 * 16 * 3, dtype=np.uint8).reshape(16, 16, 3)
    payload = bytearray(encode_png(img, interlace=True))
    # rebuild with a truncated (but valid-zlib) pixel stream: drop the
    # last pass's scanlines entirely
    import zlib as _z

    sig = payload[:8]
    ihdr = struct.pack(">IIBBBBB", 16, 16, 8, 2, 0, 0, 1)
    short = _z.compress(b"\x00" + b"\x01" * 48)  # one pass-1 scanline only
    trunc = (
        bytes(sig)
        + _png_chunk_raw(b"IHDR", ihdr)
        + _png_chunk_raw(b"IDAT", short)
        + _png_chunk_raw(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="truncated"):
        decode_png(trunc)


# --- GIF (stdlib LZW kernel, new r4) ----------------------------------------


def test_gif_roundtrip_small_palette():
    import numpy as np

    from name_match_latest_spark.operators.multimodal import (
        decode_gif,
        encode_gif,
    )

    rng = np.random.default_rng(3)
    palette = rng.integers(0, 256, (17, 3), dtype=np.uint8)
    img = palette[rng.integers(0, 17, (23, 31))]  # BGR
    assert (decode_gif(encode_gif(img)) == img).all()


def test_gif_roundtrip_code_width_growth_and_clear():
    """A large 250-color frame grows the LZW table past every code
    width up to the 4096 cap, exercising the clear/reset path in both
    encoder and decoder."""
    import numpy as np

    from name_match_latest_spark.operators.multimodal import (
        decode_gif,
        encode_gif,
    )

    rng = np.random.default_rng(9)
    palette = rng.integers(0, 256, (250, 3), dtype=np.uint8)
    img = palette[rng.integers(0, 250, (120, 150))]
    enc = encode_gif(img)
    assert (decode_gif(enc) == img).all()


def test_gif_interlaced_decode():
    """Interlaced frames store rows in 4 passes (8/8, 4/8, 2/4, 1/2
    offsets); the decoder must de-multiplex them."""
    import struct

    import numpy as np

    from name_match_latest_spark.operators.multimodal import (
        _GIF_INTERLACE_PASSES,
        decode_gif,
        encode_gif,
    )

    rng = np.random.default_rng(5)
    palette = rng.integers(0, 256, (8, 3), dtype=np.uint8)
    img = palette[rng.integers(0, 8, (13, 7))]
    h = img.shape[0]
    order = []
    for start, step in _GIF_INTERLACE_PASSES:
        order.extend(range(start, h, step))
    permuted = img[order]  # rows in pass (storage) order
    raw = bytearray(encode_gif(permuted))
    # image descriptor starts after header(6)+LSD(7)+GCT; set interlace
    n_pal = 2 << ((raw[10] & 0x07))
    desc = 13 + 3 * n_pal
    assert raw[desc] == 0x2C
    raw[desc + 9] |= 0x40
    assert (decode_gif(bytes(raw)) == img).all()


def test_gif_png_roundtrip_properties():
    """Property fuzz: random palette sizes (incl. the 2-color floor
    and 256 ceiling), random dims, both codecs roundtrip exactly."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from name_match_latest_spark.operators.multimodal import (
        decode_gif,
        decode_png,
        encode_gif,
        encode_png,
    )

    @settings(max_examples=25, deadline=None)
    @given(
        seed=st.integers(0, 2**31 - 1),
        n_colors=st.sampled_from([1, 2, 3, 16, 17, 64, 255, 256]),
        w=st.integers(1, 40),
        h=st.integers(1, 40),
    )
    def run(seed, n_colors, w, h):
        rng = np.random.default_rng(seed)
        palette = rng.integers(0, 256, (n_colors, 3), dtype=np.uint8)
        img = palette[rng.integers(0, n_colors, (h, w))]
        assert (decode_gif(encode_gif(img)) == img).all()
        assert (decode_png(encode_png(img)) == img).all()

    run()


def test_gif_lzw_stream_fuzz():
    """Raw LZW layer fuzz: arbitrary index streams over arbitrary
    alphabet sizes encode/decode to the identical sequence."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from name_match_latest_spark.operators.multimodal import (
        _gif_lzw_decode,
        _gif_lzw_encode,
    )

    @settings(max_examples=40, deadline=None)
    @given(
        min_cs=st.integers(2, 8),
        seed=st.integers(0, 2**31 - 1),
        n=st.integers(1, 5000),
    )
    def run(min_cs, seed, n):
        rng = np.random.default_rng(seed)
        idx = rng.integers(0, 1 << min_cs, n, dtype=np.int64)
        enc = _gif_lzw_encode(min_cs, idx)
        dec = _gif_lzw_decode(min_cs, enc, n)
        assert np.array_equal(np.frombuffer(dec, np.uint8), idx.astype(np.uint8))

    run()


def test_png_out_of_range_palette_index_clamped():
    """A corrupt palette PNG whose pixel index exceeds the PLTE must
    clamp (like decode_gif), not raise IndexError."""
    from name_match_latest_spark.operators.multimodal import decode_png

    plte = bytes([255, 0, 0, 0, 255, 0])  # 2 entries
    bad = _handmade_png(3, 2, 1, b"\x00\x00\x07", plte=plte)  # index 7
    img = decode_png(bad)
    assert img.shape == (1, 2, 3)
    assert tuple(img[0, 1]) == (0, 255, 0)  # clamped to last entry


# --- baseline JPEG (operators/jpeg.py, round 5) -------------------------------


class TestJpegCodec:
    @pytest.mark.parametrize(
        "shape,kw",
        [
            ((8, 8), {}),
            ((17, 13), {}),  # non-multiple-of-8 edges
            ((24, 24), {"restart_interval": 2}),
            ((1, 1), {}),
            ((9, 1), {}),
        ],
    )
    def test_roundtrip_444(self, shape, kw):
        from name_match_latest_spark.operators.jpeg import (
            decode_jpeg,
            encode_jpeg,
        )

        rng = np.random.default_rng(shape[0] * 100 + shape[1])
        img = rng.integers(0, 256, (*shape, 3), dtype=np.uint8)
        dec = decode_jpeg(encode_jpeg(img, quant=1, **kw))
        assert dec.shape == img.shape and dec.dtype == np.uint8
        # quant=1 4:4:4 loses only DCT rounding
        assert np.abs(dec.astype(int) - img.astype(int)).max() <= 3

    def test_roundtrip_420_chroma_flat(self):
        """4:2:0 exercises the decoder's sampling-factor upsample; on
        chroma-constant input the subsampling itself loses nothing."""
        from name_match_latest_spark.operators.jpeg import (
            decode_jpeg,
            encode_jpeg,
        )

        rng = np.random.default_rng(5)
        g = rng.integers(0, 256, (21, 19), dtype=np.uint8)
        img = np.stack([g, g, g], axis=-1)
        dec = decode_jpeg(encode_jpeg(img, subsample=True, quant=1))
        assert np.abs(dec.astype(int) - img.astype(int)).max() <= 3

    def test_quantization_is_lossy_but_bounded(self):
        from name_match_latest_spark.operators.jpeg import (
            decode_jpeg,
            encode_jpeg,
        )

        img = np.repeat(
            np.repeat(np.arange(64, dtype=np.uint8).reshape(8, 8) * 4, 4, 0),
            4,
            1,
        )
        img = np.stack([img, img, img], axis=-1)
        q1 = encode_jpeg(img, quant=1)
        q16 = encode_jpeg(img, quant=16)
        assert len(q16) < len(q1)  # coarser quant compresses harder
        dec = decode_jpeg(q16)
        assert np.abs(dec.astype(int) - img.astype(int)).max() <= 40

    def test_progressive_decodes_pixel_identical_to_baseline(self):
        """The SOF2 14-scan script encodes the SAME quantized
        coefficients as the baseline stream, so decoded pixels must
        be bit-identical — the mechanical self-check that makes the
        progressive pipeline verifiable without a reference codec."""
        from name_match_latest_spark.operators.jpeg import (
            decode_jpeg,
            encode_jpeg,
        )

        rng = np.random.default_rng(23)
        for shape, sub, quant in (
            ((24, 40), False, 1),
            ((17, 9), True, 1),
            ((33, 31), True, 8),
        ):
            img = rng.integers(0, 256, size=(*shape, 3), dtype=np.uint8)
            prog = encode_jpeg(img, quant=quant, subsample=sub, progressive=True)
            base = encode_jpeg(img, quant=quant, subsample=sub)
            assert b"\xff\xc2" in prog and b"\xff\xc2" not in base
            assert prog.count(b"\xff\xda") == 14  # the full scan script
            assert np.array_equal(decode_jpeg(prog), decode_jpeg(base))

    def test_truncated_stream_raises_codec_error(self):
        from name_match_latest_spark.operators.jpeg import decode_jpeg

        # a JPEG magic + APP0 stub with no frame or scan fails in the
        # real codec with its own malformed-stream error
        with pytest.raises(ValueError, match="JPEG stream ended without a scan"):
            decode_jpeg(b"\xff\xd8\xff\xe0JFIF")

    def test_arithmetic_coded_raises_honestly(self):
        from name_match_latest_spark.operators.jpeg import (
            decode_jpeg,
            encode_jpeg,
        )

        enc = bytearray(encode_jpeg(np.zeros((8, 8, 3), dtype=np.uint8)))
        i = enc.find(b"\xff\xc0")
        enc[i + 1] = 0xC9  # rewrite SOF0 -> SOF9 (arithmetic sequential)
        with pytest.raises(NotImplementedError, match="arithmetic"):
            decode_jpeg(bytes(enc))

