"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

A training-data pipeline treats media as ``binary`` payload columns
with typed metadata alongside.  The metadata pass is pure Column
expressions over a bounded header prefix: it stays JVM-side and never
decodes a payload.

Operators:
* ``attach_media_metadata`` — sniff magic bytes -> media_kind, size
* ``attach_image_dims``     — pixel (width, height) from header bytes

Codecs (no PIL/ffmpeg dependency — these kernels are pure stdlib
``struct``/``zlib`` + numpy, i.e. REAL decodes, not stubs):
uncompressed 24-bit BMP, 8-bit PNG (gray/gray+alpha/RGB/RGBA/palette,
all five scanline filters, Adam7 interlace), GIF87a/89a (first frame,
variable-width LZW incl. interlaced frames) and Huffman-coded DCT JPEG,
baseline and progressive (``operators/jpeg.py``).  They are the
full-decode reference ``tests/test_media_meta.py`` checks the
header-scan dims against, and ``scripts/gen_media_fixture.py`` builds
the committed ``media_meta`` fixture with the encoders.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "attach_media_metadata",
    "attach_image_dims",
    "JPEG_SOF_OFF",
    "decode_bmp",
    "encode_bmp",
    "decode_png",
    "encode_png",
    "decode_gif",
    "encode_gif",
    "decode_jpeg",
    "encode_jpeg",
]

from .jpeg import decode_jpeg, encode_jpeg  # noqa: E402

_MAGIC = [
    (b"\x89PNG", "image/png"),
    (b"\xff\xd8\xff", "image/jpeg"),
    (b"GIF8", "image/gif"),
    (b"BM", "image/bmp"),
    (b"RIFF", "audio/wav"),
    (b"ID3", "audio/mp3"),
    (b"\x00\x00\x00", "video/mp4"),
]


def attach_media_metadata(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Sniff media kind from magic bytes + record payload size.
    Pure Column expressions — a metadata pass never decodes.
    RIFF containers are disambiguated by their form type (WAVE/AVI)."""
    p = F.col(payload_col)
    # sniff on a 16-byte prefix: hex(whole blob) would materialize 2x
    # the payload per row just to read the magic (longest probe is the
    # RIFF form type at bytes 8-11)
    head = F.hex(F.substring(p, 1, 16))
    kind = F.lit("application/octet-stream")
    for magic, mime in reversed(_MAGIC):
        hexmagic = magic.hex()
        kind = F.when(
            F.startswith(head, F.lit(hexmagic.upper())), F.lit(mime)
        ).otherwise(kind)
    riff_form = F.upper(F.hex(F.substring(p, 9, 4)))
    kind = (
        F.when(kind != "audio/wav", kind)
        .when(riff_form == F.lit(b"AVI ".hex().upper()), F.lit("video/avi"))
        .otherwise(F.lit("audio/wav"))
    )
    return df.withColumns(
        {"media_kind": kind, "media_bytes": F.length(p).cast("long")}
    )


# Our JPEG encoder emits SOI + APP0(JFIF) + two fixed-size DQTs before
# the SOF marker, so SOF sits at this byte offset in EVERY mode
# (baseline/progressive, 4:4:4/4:2:0, any restart interval) — asserted
# by scripts/gen_media_fixture.py at fixture build and by
# tests/test_media_meta.py against a marker scan.  The media_meta
# DuckDB oracle embeds the same constant as a SQL literal.
JPEG_SOF_OFF = 89


def attach_image_dims(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Pixel (width, height) from raw header bytes of BMP / PNG / GIF
    / JPEG payloads as PURE Column expressions — the metadata pass of
    a 100 TB media corpus must stay JVM-side and whole-stage-codegen'd
    (one projection over the scan, no Python workers, no decode).
    Non-image (or unknown) payloads get NULL dims.

    Header layout (all public specs): BMP BITMAPINFOHEADER signed
    LE32 dims at 18/22 (|height| — negative means top-down rows); PNG
    IHDR BE32 at 16/20; GIF logical-screen LE16 at 6/8; JPEG SOF
    BE16 height/width at SOF+5/SOF+7 with our encoder's fixed SOF
    offset (JPEG_SOF_OFF).  Full-decode agreement is pinned by
    tests/test_media_meta.py over the committed fixture corpus."""
    p = F.col(payload_col)
    # hex only a bounded prefix: every header field we read lives in
    # the first 128 bytes — never materialize hex(whole multi-MB blob)
    h = F.hex(F.substring(p, 1, 128))

    def byte(i: int):
        return F.conv(F.substring(h, 2 * i + 1, 2), 16, 10).cast("long")

    def be16(i: int):
        return F.conv(F.substring(h, 2 * i + 1, 4), 16, 10).cast("long")

    def be32(i: int):
        return F.conv(F.substring(h, 2 * i + 1, 8), 16, 10).cast("long")

    def le16(i: int):
        return byte(i) + byte(i + 1) * 256

    def le32_signed(i: int):
        v = byte(i) + byte(i + 1) * 256 + byte(i + 2) * 65536 + byte(i + 3) * 16777216
        return F.when(v >= 2147483648, v - 4294967296).otherwise(v)

    is_bmp = F.startswith(h, F.lit(b"BM".hex().upper()))
    is_png = F.startswith(h, F.lit(b"\x89PNG".hex().upper()))
    is_gif = F.startswith(h, F.lit(b"GIF8".hex().upper()))
    # the fixed-offset SOF read is only valid for OUR encoder's layout
    # — require an actual SOF0/SOF2 marker there, else NULL dims (a
    # foreign JPEG with an EXIF APP1 would otherwise decode random
    # table bytes as its size)
    is_jpg = (
        F.startswith(h, F.lit(b"\xff\xd8\xff".hex().upper()))
        & (byte(JPEG_SOF_OFF) == 0xFF)
        & byte(JPEG_SOF_OFF + 1).isin(0xC0, 0xC2)
    )

    width = (
        F.when(is_bmp, le32_signed(18))
        .when(is_png, be32(16))
        .when(is_gif, le16(6))
        .when(is_jpg, be16(JPEG_SOF_OFF + 7))
    )
    height = (
        F.when(is_bmp, F.abs(le32_signed(22)))
        .when(is_png, be32(20))
        .when(is_gif, le16(8))
        .when(is_jpg, be16(JPEG_SOF_OFF + 5))
    )
    return df.withColumns({"width": width, "height": height})


# --- pure-stdlib codecs -------------------------------------------------------


def decode_bmp(payload: bytes) -> np.ndarray:
    """Uncompressed 24-bit BITMAPINFOHEADER BMP -> (H, W, 3) uint8 BGR
    (top-down row order)."""
    if len(payload) < 54 or payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    data_off = struct.unpack_from("<I", payload, 10)[0]
    hdr_size, width, height = struct.unpack_from("<IiiH", payload, 14)[:3]
    planes, bpp = struct.unpack_from("<HH", payload, 26)
    compression = struct.unpack_from("<I", payload, 30)[0]
    if hdr_size < 40 or bpp != 24 or compression != 0:
        raise ValueError(f"unsupported BMP variant (bpp={bpp}, comp={compression})")
    bottom_up = height > 0
    h = abs(height)
    row_size = (width * 3 + 3) & ~3
    need = data_off + row_size * h
    if len(payload) < need:
        raise ValueError("truncated BMP payload")
    rows = np.frombuffer(payload, dtype=np.uint8, count=row_size * h, offset=data_off)
    img = rows.reshape(h, row_size)[:, : width * 3].reshape(h, width, 3)
    return img[::-1].copy() if bottom_up else img.copy()


def encode_bmp(img: np.ndarray) -> bytes:
    """(H, W, 3) uint8 BGR -> bottom-up 24-bit BMP bytes."""
    h, w = img.shape[:2]
    row_size = (w * 3 + 3) & ~3
    pad = row_size - w * 3
    body = bytearray()
    for row in img[::-1]:
        body += row.tobytes() + b"\x00" * pad
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0)
    file_hdr = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(body), 0, 0, 14 + 40)
    return bytes(file_hdr + info + body)


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
#: PNG color type -> channel count
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _png_unfilter(raw: bytes, h: int, stride: int, bpp: int) -> np.ndarray:
    """Reverse PNG scanline filtering -> (h, stride) uint8.  Filters
    None/Sub/Up are vectorized (Sub = per-lane cumsum mod 256);
    Average/Paeth recurse byte-serially within the row (spec-exact)."""
    lines = np.frombuffer(raw, dtype=np.uint8, count=h * (1 + stride))
    lines = lines.reshape(h, 1 + stride)
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        ftype, line = lines[y, 0], lines[y, 1:]
        if ftype == 0:
            row = line.copy()
        elif ftype == 1:  # Sub: recon[x] = line[x] + recon[x-bpp]
            # per-lane cumsum mod 256 (stride is w*bpp for 8-bit depth)
            acc = line.astype(np.int64).reshape(-1, bpp)
            row = (np.cumsum(acc, axis=0) % 256).astype(np.uint8).reshape(stride)
        elif ftype == 2:  # Up
            row = (line.astype(np.int64) + prev).astype(np.uint8)
        elif ftype == 3:  # Average
            row = line.copy()
            for x in range(stride):
                left = row[x - bpp] if x >= bpp else 0
                row[x] = (int(line[x]) + (int(left) + int(prev[x])) // 2) & 0xFF
        elif ftype == 4:  # Paeth
            row = line.copy()
            for x in range(stride):
                a = int(row[x - bpp]) if x >= bpp else 0
                b = int(prev[x])
                c = int(prev[x - bpp]) if x >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                row[x] = (int(line[x]) + pred) & 0xFF
        else:
            raise ValueError(f"unknown PNG filter type {ftype}")
        out[y] = row
        prev = out[y]
    return out


#: Adam7 pass geometry: (x_start, y_start, x_step, y_step) — RFC 2083
#: §2.6; the IDAT stream concatenates the 7 reduced images, each
#: filtered independently (its own per-scanline filter bytes)
_ADAM7_PASSES = (
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
)


def decode_png(payload: bytes) -> np.ndarray:
    """8-bit PNG -> (H, W, 3) uint8 BGR (same contract as
    ``decode_bmp`` so downstream treats images uniformly).  DEFLATE
    via stdlib zlib — a REAL decode.  Gray/gray+alpha/RGB/RGBA/palette
    color types; alpha is dropped.  Adam7-interlaced images de-multiplex
    through the same unfilter kernel: the deflate stream holds 7
    independently-filtered reduced images whose pixels scatter back on
    the pass grid (numpy strided assignment — the same index-reassembly
    trick ``decode_gif`` uses for GIF's 4-pass interlace).  16-bit
    depths raise (ValueError — out of this kernel's declared scope)."""
    if len(payload) < 33 or payload[:8] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos, n = 8, len(payload)
    idat = bytearray()
    plte = None
    ihdr = None
    while pos + 8 <= n:
        length, ctype = struct.unpack_from(">I4s", payload, pos)
        data = payload[pos + 8 : pos + 8 + length]
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data[:13])
        elif ctype == b"PLTE":
            plte = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
        pos += 12 + length  # length + type + data + crc
    if ihdr is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT chunks")
    w, h, bit_depth, color, comp, filt, interlace = ihdr
    if interlace not in (0, 1):
        raise ValueError(f"unknown PNG interlace method {interlace}")
    if bit_depth != 8 or comp != 0 or filt != 0 or color not in _PNG_CHANNELS:
        raise ValueError(
            f"unsupported PNG variant (depth={bit_depth}, color={color})"
        )
    channels = _PNG_CHANNELS[color]
    stride = w * channels
    raw = zlib.decompress(bytes(idat))
    if interlace == 1:  # Adam7: 7 filtered reduced images, scattered
        img = np.zeros((h, w, channels), dtype=np.uint8)
        off = 0
        for xs, ys, xstep, ystep in _ADAM7_PASSES:
            pw = (w - xs + xstep - 1) // xstep
            ph = (h - ys + ystep - 1) // ystep
            if pw == 0 or ph == 0:
                continue  # empty pass emits NO scanlines (not even
                # filter bytes) for small images — per RFC 2083
            pstride = pw * channels
            nbytes = ph * (1 + pstride)
            if off + nbytes > len(raw):
                raise ValueError("truncated PNG pixel data")
            sub = _png_unfilter(
                raw[off : off + nbytes], ph, pstride, channels
            ).reshape(ph, pw, channels)
            img[ys::ystep, xs::xstep] = sub
            off += nbytes
    else:
        if len(raw) < h * (1 + stride):
            raise ValueError("truncated PNG pixel data")
        img = _png_unfilter(raw, h, stride, channels).reshape(h, w, channels)
    if color == 3:  # palette -> RGB
        if plte is None:
            raise ValueError("palette PNG missing PLTE chunk")
        # clamp like decode_gif: an out-of-range index in a corrupt
        # payload must not raise IndexError
        img = plte[np.minimum(img[:, :, 0], len(plte) - 1)]
    elif color == 0:  # gray
        img = np.repeat(img, 3, axis=2)
    elif color == 4:  # gray+alpha
        img = np.repeat(img[:, :, :1], 3, axis=2)
    elif color == 6:  # RGBA
        img = img[:, :, :3]
    return img[:, :, ::-1].copy()  # RGB -> BGR (decode_bmp contract)


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def encode_png(img: np.ndarray, interlace: bool = False) -> bytes:
    """(H, W, 3) uint8 BGR -> 8-bit RGB PNG bytes (filter 0
    scanlines, stdlib zlib DEFLATE).  ``interlace=True`` writes the
    Adam7 layout: the 7 reduced images gathered on the pass grid and
    concatenated, each scanline filter-0 prefixed (empty passes emit
    nothing)."""
    h, w = img.shape[:2]
    rgb = np.ascontiguousarray(img[:, :, ::-1], dtype=np.uint8)
    if interlace:
        parts = []
        for xs, ys, xstep, ystep in _ADAM7_PASSES:
            sub = rgb[ys::ystep, xs::xstep]
            if sub.shape[0] == 0 or sub.shape[1] == 0:
                continue
            parts += [b"\x00" + sub[y].tobytes() for y in range(sub.shape[0])]
        raw = b"".join(parts)
    else:
        raw = b"".join(b"\x00" + rgb[y].tobytes() for y in range(h))
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, int(interlace))
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw, 6))
        + _png_chunk(b"IEND", b"")
    )


# --- GIF (stdlib LZW kernel) --------------------------------------------------


def _gif_lzw_decode(min_code_size: int, data: bytes, n_pixels: int) -> bytes:
    """GIF variable-width LZW decode (LSB-first bit packing, clear /
    EOI codes, 12-bit cap with deferred clear)."""
    clear = 1 << min_code_size
    eoi = clear + 1
    init = [bytes([i]) for i in range(clear)] + [b"", b""]
    table = list(init)
    code_size = min_code_size + 1
    out = bytearray()
    bitpos, nbits = 0, len(data) * 8
    prev: bytes | None = None
    while bitpos + code_size <= nbits and len(out) < n_pixels:
        byte_idx = bitpos >> 3
        chunk = int.from_bytes(data[byte_idx : byte_idx + 3], "little")
        code = (chunk >> (bitpos & 7)) & ((1 << code_size) - 1)
        bitpos += code_size
        if code == clear:
            table = list(init)
            code_size = min_code_size + 1
            prev = None
            continue
        if code == eoi:
            break
        if prev is None:
            if code >= len(table):
                raise ValueError("corrupt GIF LZW stream")
            entry = table[code]
        else:
            if code < len(table):
                entry = table[code]
            elif code == len(table):
                entry = prev + prev[:1]
            else:
                raise ValueError("corrupt GIF LZW stream")
            if len(table) < 4096:
                table.append(prev + entry[:1])
                if len(table) == (1 << code_size) and code_size < 12:
                    code_size += 1
        out += entry
        prev = entry
    return bytes(out)


def _gif_lzw_encode(min_code_size: int, indices) -> bytes:
    """GIF LZW encode, bit-exact mirror of the decoder's table/width
    schedule (table reset via clear code at the 4096 cap)."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    cur, nbits = 0, 0
    code_size = min_code_size + 1

    def emit(code: int) -> None:
        nonlocal cur, nbits
        cur |= code << nbits
        nbits += code_size
        while nbits >= 8:
            out.append(cur & 0xFF)
            cur >>= 8
            nbits -= 8

    def reset():
        return {(i,): i for i in range(clear)}

    table = reset()
    next_code = eoi + 1
    emit(clear)
    prev: tuple = ()
    for px in indices:
        cand = prev + (int(px),)
        if cand in table:
            prev = cand
            continue
        emit(table[prev])
        if next_code < 4096:
            table[cand] = next_code
            next_code += 1
            # the DECODER's table lags this one by exactly one add (it
            # reconstructs entry k while processing the k+1-th code),
            # so its width bump lands one emit later — mirror that
            if next_code == (1 << code_size) + 1 and code_size < 12:
                code_size += 1
        else:
            emit(clear)
            table = reset()
            code_size = min_code_size + 1
            next_code = eoi + 1
        prev = (int(px),)
    if prev:
        emit(table[prev])
    emit(eoi)
    if nbits:
        out.append(cur & 0xFF)
    return bytes(out)


_GIF_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def decode_gif(payload: bytes) -> np.ndarray:
    """GIF87a/89a FIRST frame -> (H, W, 3) uint8 BGR (the
    decode_bmp/decode_png contract).  Real variable-width LZW decode,
    local/global color tables, interlaced frames de-multiplexed;
    extensions (incl. animation control) are skipped — frame 1 is the
    representative, matching how training pipelines treat animated
    media."""
    if len(payload) < 14 or payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload")
    packed = payload[10]
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        gct = np.frombuffer(payload, np.uint8, 3 * n, pos).reshape(-1, 3)
        pos += 3 * n
    while pos < len(payload):
        block = payload[pos]
        pos += 1
        if block == 0x21:  # extension: label + len-prefixed sub-blocks
            pos += 1
            while pos < len(payload) and payload[pos]:
                pos += 1 + payload[pos]
            pos += 1
        elif block == 0x2C:  # image descriptor
            _l, _t, w, h, ipacked = struct.unpack_from("<HHHHB", payload, pos)
            pos += 9
            pal = gct
            if ipacked & 0x80:
                n = 2 << (ipacked & 0x07)
                pal = np.frombuffer(payload, np.uint8, 3 * n, pos).reshape(-1, 3)
                pos += 3 * n
            if pal is None:
                raise ValueError("GIF frame has no color table")
            min_cs = payload[pos]
            pos += 1
            data = bytearray()
            while pos < len(payload) and payload[pos]:
                ln = payload[pos]
                data += payload[pos + 1 : pos + 1 + ln]
                pos += 1 + ln
            pos += 1
            idx = _gif_lzw_decode(min_cs, bytes(data), w * h)
            if len(idx) < w * h:
                raise ValueError("truncated GIF pixel data")
            arr = np.frombuffer(idx[: w * h], np.uint8).reshape(h, w)
            if ipacked & 0x40:  # interlaced: rows arrive in 4 passes
                order = []
                for start, step in _GIF_INTERLACE_PASSES:
                    order.extend(range(start, h, step))
                de = np.empty_like(arr)
                de[order] = arr
                arr = de
            rgb = pal[np.minimum(arr, len(pal) - 1)]
            return rgb[:, :, ::-1].copy()
        elif block == 0x3B:  # trailer
            break
        elif block == 0x00:  # stray terminator padding
            continue
        else:
            raise ValueError(f"unknown GIF block 0x{block:02x}")
    raise ValueError("GIF contains no image frame")


def encode_gif(img: np.ndarray) -> bytes:
    """(H, W, 3) uint8 BGR -> single-frame GIF89a.  Requires <=256
    distinct colors (raises ValueError otherwise — GIF is a palette
    format)."""
    h, w = img.shape[:2]
    rgb = np.ascontiguousarray(img[:, :, ::-1], dtype=np.uint8).reshape(-1, 3)
    colors, idx = np.unique(rgb, axis=0, return_inverse=True)
    if len(colors) > 256:
        raise ValueError("encode_gif requires <= 256 distinct colors")
    size_exp = max(1, (max(len(colors) - 1, 1)).bit_length())
    n_pal = 1 << size_exp
    pal = np.zeros((n_pal, 3), dtype=np.uint8)
    pal[: len(colors)] = colors
    min_cs = max(2, size_exp)
    lzw = _gif_lzw_encode(min_cs, idx.astype(np.int64))
    out = bytearray()
    out += b"GIF89a"
    out += struct.pack("<HHBBB", w, h, 0x80 | (size_exp - 1), 0, 0)
    out += pal.tobytes()
    out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0)
    out.append(min_cs)
    for i in range(0, len(lzw), 255):
        chunk = lzw[i : i + 255]
        out.append(len(chunk))
        out += chunk
    out += b"\x00\x3b"
    return bytes(out)
