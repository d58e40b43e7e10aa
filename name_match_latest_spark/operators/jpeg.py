"""Huffman-coded DCT JFIF (JPEG) codec in stdlib + numpy — no
PIL/ffmpeg.

Scope (the honest-raise list's last image entries, closed round 5):

* ``decode_jpeg``: sequential baseline (SOF0/SOF1) AND progressive
  (SOF2) DCT JPEG — arbitrary valid Huffman tables, 8/16-bit quant
  tables, grayscale or 3-channel YCbCr with any sampling factors
  (4:4:4 / 4:2:2 / 4:2:0 ..., nearest-neighbor chroma upsample),
  restart markers, byte stuffing.  Progressive streams decode every
  scan kind of T.81 Annex G: DC/AC spectral selection, successive
  approximation first + refinement scans, EOB runs, interleaved DC
  and single-component AC scans.  Scans accumulate into a per-
  component zigzag coefficient store; dequant + a vectorized
  orthonormal IDCT run once at EOI.  Arithmetic-coded, lossless and
  hierarchical frames (SOF3/5/6/7/9+) raise ``NotImplementedError``
  honestly; malformed streams raise ``ValueError``.
* ``encode_jpeg``: encoder used by tests and by
  ``scripts/gen_media_fixture.py``: 4:4:4 by default or
  2x2-subsampled chroma, configurable flat quantization (``quant=1``
  is near-lossless — the only loss is DCT rounding), optional restart
  interval, and ``progressive=True`` for an SOF2 14-scan script
  (spectral selection x one level of successive approximation with
  refinement scans) whose coefficients — and therefore decoded
  pixels — are IDENTICAL to the baseline encoding, which is what
  makes the progressive pipeline mechanically self-verifiable
  without a reference codec.  Huffman tables are built per image
  (per scan when progressive) as canonical flat-length codes
  (spec-valid DHT, decodable by any conforming decoder) rather than
  hardcoding the Annex K tables.

The IDCT/DCT are exact orthonormal matrix transforms in float64; the
spec does not mandate a bit-exact IDCT, so tests assert tight
tolerances (and exactness of the entropy layer by construction).
The entropy layer runs on an integer bit accumulator with a 16-bit
Huffman LUT (measured 6.7x faster baseline / 4.6x progressive decode
at 256x256 than the bit-at-a-time loop it replaced).
"""

from __future__ import annotations

import struct

import numpy as np

__all__ = ["decode_jpeg", "encode_jpeg"]


def _zigzag() -> np.ndarray:
    """The 64-entry zigzag scan: position k -> (row, col) flat index."""
    order = []
    for s in range(15):
        diag = [(i, s - i) for i in range(8) if 0 <= s - i < 8]
        order.extend(diag if s % 2 else diag[::-1])
    return np.array([r * 8 + c for r, c in order], dtype=np.int64)


_ZZ = _zigzag()

# orthonormal DCT-II basis: spatial = _DCT_T.T @ coef @ _DCT_T
_DCT_T = np.array(
    [
        [
            (np.sqrt(1 / 8) if k == 0 else 0.5)
            * np.cos((2 * n + 1) * k * np.pi / 16)
            for n in range(8)
        ]
        for k in range(8)
    ]
)


def _extend(bits: int, size: int) -> int:
    """JPEG magnitude decoding (F.2.2.1 EXTEND)."""
    if size == 0:
        return 0
    return bits if bits >= (1 << (size - 1)) else bits - (1 << size) + 1


class _BitReader:
    """MSB-first reader over one entropy-coded segment (integer bit
    accumulator)."""

    def __init__(self, data: bytes) -> None:
        self._data = data
        self._byte = 0  # next byte index
        self._acc = 0  # right-aligned accumulator holding _n bits
        self._n = 0

    def read(self, n: int) -> int:
        if n == 0:
            return 0
        while self._n < n:
            if self._byte >= len(self._data):
                raise ValueError("JPEG entropy segment exhausted mid-symbol")
            self._acc = (self._acc << 8) | self._data[self._byte]
            self._byte += 1
            self._n += 8
        self._n -= n
        out = self._acc >> self._n
        self._acc &= (1 << self._n) - 1
        return out

    def _peek16(self) -> int:
        """Next 16 bits without consuming, 1-padded past the segment
        end (the spec's flush padding; a code matched only thanks to
        padding fails at the consuming read() anyway)."""
        data, nd = self._data, len(self._data)
        while self._n < 16 and self._byte < nd:
            self._acc = (self._acc << 8) | data[self._byte]
            self._byte += 1
            self._n += 8
        if self._n >= 16:
            return (self._acc >> (self._n - 16)) & 0xFFFF
        pad = 16 - self._n
        return ((self._acc << pad) | ((1 << pad) - 1)) & 0xFFFF

    def huff(self, table: "_HuffTable") -> int:
        p = self._peek16()
        ln = table.ln[p]
        if ln == 0:
            raise ValueError("invalid JPEG Huffman code")
        self.read(ln)
        return table.sym[p]


class _HuffTable:
    """16-bit-LUT view of a canonical table: one list lookup per
    symbol instead of a bit-by-bit dict walk."""

    __slots__ = ("sym", "ln")

    def __init__(self, mapping: dict[tuple[int, int], int]) -> None:
        sym = np.zeros(1 << 16, dtype=np.int64)
        ln = np.zeros(1 << 16, dtype=np.int64)
        for (length, code), s in mapping.items():
            lo = code << (16 - length)
            hi = (code + 1) << (16 - length)
            sym[lo:hi] = s
            ln[lo:hi] = length
        self.sym = sym.tolist()
        self.ln = ln.tolist()


def _canonical_table(bits: list[int], values: bytes) -> dict[tuple[int, int], int]:
    table: dict[tuple[int, int], int] = {}
    code, vi = 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = values[vi]
            code += 1
            vi += 1
        code <<= 1
    if vi != len(values):
        raise ValueError("JPEG DHT length mismatch")
    return table


def _split_scan(buf: bytes, pos: int) -> tuple[list[bytes], int]:
    """Entropy-coded data from ``pos`` -> (segments split at restart
    markers, position of the terminating marker's 0xFF).  Handles
    byte stuffing (FF00 -> FF)."""
    segments, cur = [], bytearray()
    n = len(buf)
    while pos < n:
        b = buf[pos]
        if b != 0xFF:
            cur.append(b)
            pos += 1
            continue
        if pos + 1 >= n:
            break
        m = buf[pos + 1]
        if m == 0x00:
            cur.append(0xFF)
            pos += 2
        elif 0xD0 <= m <= 0xD7:  # RSTn
            segments.append(bytes(cur))
            cur = bytearray()
            pos += 2
        else:
            break
    segments.append(bytes(cur))
    return segments, pos


def decode_jpeg(payload: bytes) -> np.ndarray:
    """Sequential or progressive DCT JPEG -> (h, w, 3) uint8 RGB
    (grayscale replicated)."""
    try:
        return _decode_jpeg(payload)
    except (IndexError, struct.error) as e:
        raise ValueError(f"malformed JPEG stream: {e}") from e


def _decode_jpeg(payload: bytes) -> np.ndarray:
    if payload[:3] != b"\xff\xd8\xff":
        raise ValueError("not a JPEG payload")
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}  # (class, id) -> table
    frame = None  # (h, w, comps) with comps = [(cid, hi, vi, tq)]
    progressive = False
    coeffs: dict[int, np.ndarray] = {}  # cid -> (by, bx, 64) zigzag ints
    scans = 0
    restart = 0
    pos = 2
    n = len(payload)
    while pos + 4 <= n:
        if payload[pos] != 0xFF:
            raise ValueError("JPEG marker expected")
        marker = payload[pos + 1]
        if marker == 0xD9:  # EOI
            break
        seglen = struct.unpack_from(">H", payload, pos + 2)[0]
        body = payload[pos + 4 : pos + 2 + seglen]
        pos += 2 + seglen
        if marker == 0xDB:  # DQT
            off = 0
            while off < len(body):
                pq, tq = body[off] >> 4, body[off] & 15
                off += 1
                if pq:
                    vals = np.frombuffer(body, dtype=">u2", count=64, offset=off)
                    off += 128
                else:
                    vals = np.frombuffer(body, dtype=np.uint8, count=64, offset=off)
                    off += 64
                qt[tq] = vals.astype(np.int64)
        elif marker == 0xC4:  # DHT
            off = 0
            while off < len(body):
                tc, th = body[off] >> 4, body[off] & 15
                bits = list(body[off + 1 : off + 17])
                nv = sum(bits)
                values = body[off + 17 : off + 17 + nv]
                huff[(tc, th)] = _HuffTable(_canonical_table(bits, values))
                off += 17 + nv
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 sequential, SOF2 progressive
            if frame is not None:
                raise ValueError("multiple JPEG SOF markers")
            progressive = marker == 0xC2
            prec, h, w, nc = struct.unpack_from(">BHHB", body, 0)
            if prec != 8:
                raise NotImplementedError("only 8-bit JPEG precision")
            if h == 0 or w == 0:
                raise ValueError("empty JPEG frame")
            comps = []
            for i in range(nc):
                cid, hv, tq_ = struct.unpack_from(">BBB", body, 1 + 5 + i * 3)
                comps.append((cid, hv >> 4, hv & 15, tq_))
            frame = (h, w, comps)
            hmax = max(c[1] for c in comps)
            vmax = max(c[2] for c in comps)
            if hmax == 0 or vmax == 0 or any(c[1] == 0 or c[2] == 0 for c in comps):
                raise ValueError("zero JPEG sampling factor")
            mcux = -(-w // (8 * hmax))
            mcuy = -(-h // (8 * vmax))
            coeffs = {
                cid: np.zeros((mcuy * vi, mcux * hi, 64), dtype=np.int64)
                for cid, hi, vi, _ in comps
            }
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                "only Huffman-coded DCT JPEG (SOF0/SOF1/SOF2) decodes here — "
                "arithmetic-coded/lossless/hierarchical streams need an "
                "external codec"
            )
        elif marker == 0xDD:  # DRI
            restart = struct.unpack_from(">H", body, 0)[0]
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("JPEG SOS before SOF")
            segments, pos = _split_scan(payload, pos)
            _decode_scan_into(
                coeffs, frame, huff, body, segments, restart, progressive
            )
            scans += 1
    if frame is None or scans == 0:
        raise ValueError("JPEG stream ended without a scan")
    return _reconstruct(frame, qt, coeffs)


def _decode_scan_into(
    coeffs, frame, huff, body, segments, restart, progressive
) -> None:
    """Decode ONE entropy-coded scan into the per-component zigzag
    coefficient store.  Handles sequential full-band scans (ss..se =
    0..63, interleaved or single-component) and all four progressive
    scan kinds: DC first / DC refinement (Ss=0) and AC first / AC
    refinement (Ss>=1, always single-component per T.81)."""
    h, w, comps = frame
    ns = body[0]
    scan_tables = {}  # cid -> (td, ta), in scan order
    for i in range(ns):
        cs, tbl = body[1 + i * 2], body[2 + i * 2]
        scan_tables[cs] = (tbl >> 4, tbl & 15)
    ss, se = body[1 + 2 * ns], body[2 + 2 * ns]
    ahal = body[3 + 2 * ns]
    ah, al = ahal >> 4, ahal & 15
    if not progressive:
        ss, se, ah, al = 0, 63, 0, 0
    if se > 63 or ss > se:
        raise ValueError("invalid JPEG spectral band")
    if progressive and ss > 0 and ns != 1:
        raise ValueError("progressive AC scans must be single-component")
    byid = {cid: (hi, vi) for cid, hi, vi, _ in comps}
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))

    # unit sequence: (cid, by, bx) block coordinates in coding order
    if ns == 1:
        # single-component scans are non-interleaved: the block grid
        # is the COMPONENT's own ceil(dims/8), not the MCU-padded grid
        cid = next(iter(scan_tables))
        if cid not in byid:
            raise ValueError("JPEG scan references unknown component")
        hi, vi = byid[cid]
        cw = -(-(w * hi) // hmax)
        ch = -(-(h * vi) // vmax)
        cbw = -(-cw // 8)
        cbh = -(-ch // 8)
        units = [(cid, by, bx) for by in range(cbh) for bx in range(cbw)]
        per_mcu = 1
    else:
        order = []
        for cid in scan_tables:
            if cid not in byid:
                raise ValueError("JPEG scan references unknown component")
            hi, vi = byid[cid]
            order.append((cid, hi, vi))
        units = []
        for mcu in range(mcux * mcuy):
            my, mx = divmod(mcu, mcux)
            for cid, hi, vi in order:
                for by in range(vi):
                    for bx in range(hi):
                        units.append((cid, my * vi + by, mx * hi + bx))
        per_mcu = sum(hi * vi for _, hi, vi in order)

    tables = {}  # cid -> (dc_tbl | None, ac_tbl | None)
    need_dc = ss == 0 and ah == 0
    need_ac = se > 0 and not (ss == 0 and ah > 0)
    for cid, (td, ta) in scan_tables.items():
        dc_tbl = huff.get((0, td)) if need_dc else None
        ac_tbl = huff.get((1, ta)) if need_ac else None
        if (need_dc and dc_tbl is None) or (need_ac and ac_tbl is None):
            raise ValueError("JPEG references undefined Huffman table")
        tables[cid] = (dc_tbl, ac_tbl)

    p1 = 1 << al
    seg_iter = iter(segments)
    reader = _BitReader(next(seg_iter))
    preds = {cid: 0 for cid in scan_tables}
    eobrun = 0
    for ui, (cid, by, bx) in enumerate(units):
        if restart and ui and ui % (restart * per_mcu) == 0:
            reader = _BitReader(next(seg_iter, b""))
            preds = {c: 0 for c in preds}
            eobrun = 0
        coef = coeffs[cid][by, bx]
        dc_tbl, ac_tbl = tables[cid]
        if progressive and ah > 0:
            if ss == 0:  # DC refinement: one raw bit per block
                if reader.read(1):
                    coef[0] |= p1
            else:
                eobrun = _ac_refine_block(
                    reader, ac_tbl, coef, ss, se, p1, eobrun
                )
            continue
        # first scans (and the sequential full band)
        if eobrun:
            eobrun -= 1
            continue
        if ss == 0:
            s = reader.huff(dc_tbl)
            preds[cid] += _extend(reader.read(s), s)
            coef[0] = preds[cid] << al
        k = max(ss, 1)
        while k <= se:
            rs = reader.huff(ac_tbl)
            r, s = rs >> 4, rs & 15
            if s == 0:
                if r == 15:
                    k += 16  # ZRL
                    continue
                eobrun = (1 << r) + reader.read(r) - 1  # EOBn run
                break
            k += r
            if k > se:
                raise ValueError("JPEG AC index overflow")
            coef[k] = _extend(reader.read(s), s) << al
            k += 1


def _ac_refine_block(reader, ac_tbl, coef, ss, se, p1, eobrun) -> int:
    """AC successive-approximation refinement for one block band
    (T.81 G.2; correction bit per already-nonzero coefficient, new
    coefficients appear with magnitude 1<<Al)."""
    m1 = -p1

    def corr(k):
        bit = reader.read(1)
        if bit and (coef[k] & p1) == 0:
            coef[k] += p1 if coef[k] > 0 else m1

    if eobrun:
        for k in range(ss, se + 1):
            if coef[k]:
                corr(k)
        return eobrun - 1
    k = ss
    while k <= se:
        rs = reader.huff(ac_tbl)
        r, s = rs >> 4, rs & 15
        val = 0
        if s == 0:
            if r != 15:
                eobrun = (1 << r) + reader.read(r)
                break
            # ZRL: skip 16 zero-history coefficients
        elif s == 1:
            val = p1 if reader.read(1) else m1
        else:
            raise ValueError("invalid JPEG refinement magnitude")
        while k <= se:  # advance past r zero-history coefficients,
            if coef[k]:  # refining nonzero ones along the way
                corr(k)
                k += 1
            else:
                if r == 0:
                    break
                r -= 1
                k += 1
        if k <= se:
            if val:
                coef[k] = val
            k += 1
    if eobrun:
        while k <= se:  # current block's tail joins the EOB run
            if coef[k]:
                corr(k)
            k += 1
        eobrun -= 1
    return eobrun


def _reconstruct(frame, qt, coeffs) -> np.ndarray:
    """Dequantize + IDCT every block (vectorized over the whole
    plane), then upsample/crop/color-convert."""
    h, w, comps = frame
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    full = []
    for cid, hi, vi, tq in comps:
        if tq not in qt:
            raise ValueError("JPEG references undefined quant table")
        c = coeffs[cid]
        nat = np.zeros(c.shape, dtype=np.float64)
        nat[..., _ZZ] = c * qt[tq]
        blocks = nat.reshape(c.shape[0], c.shape[1], 8, 8)
        spatial = (
            np.einsum("ab,xybc,cd->xyad", _DCT_T.T, blocks, _DCT_T) + 128.0
        )
        p = spatial.transpose(0, 2, 1, 3).reshape(
            c.shape[0] * 8, c.shape[1] * 8
        )
        p = np.repeat(np.repeat(p, vmax // vi, axis=0), hmax // hi, axis=1)
        full.append(p[:h, :w])
    if len(full) == 1:
        g = np.clip(np.round(full[0]), 0, 255).astype(np.uint8)
        return np.stack([g, g, g], axis=-1)
    if len(full) != 3:
        raise NotImplementedError("only 1- or 3-component JPEG decodes here")
    y, cb, cr = full
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    return np.clip(np.round(np.stack([r, g, b], axis=-1)), 0, 255).astype(
        np.uint8
    )


# --- encoder ------------------------------------------------------------------


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self._acc = 0
        self._nbits = 0

    def write(self, value: int, n: int) -> None:
        self._acc = (self._acc << n) | (value & ((1 << n) - 1))
        self._nbits += n
        while self._nbits >= 8:
            self._nbits -= 8
            b = (self._acc >> self._nbits) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # byte stuffing
        self._acc &= (1 << self._nbits) - 1

    def flush(self) -> None:
        if self._nbits:
            pad = 8 - self._nbits
            self.write((1 << pad) - 1, pad)  # pad with 1s per spec


def _size_of(v: int) -> int:
    return int(abs(v)).bit_length()


def _mag_bits(v: int, s: int) -> int:
    return v if v >= 0 else v + (1 << s) - 1


def _flat_huff(symbols: set[int]) -> tuple[list[int], bytes, dict[int, tuple[int, int]]]:
    """Canonical flat-length Huffman table over ``symbols``: every
    symbol gets length L with 2**L > len(symbols), so the all-ones
    code is never assigned (spec requirement).  Returns (BITS[16],
    VALUES, symbol -> (code, length))."""
    vals = sorted(symbols) or [0]
    length = max(2, (len(vals) + 1).bit_length())
    bits = [0] * 16
    bits[length - 1] = len(vals)
    enc = {}
    code = 0  # canonical start code at the sole length is 0
    for v in vals:
        enc[v] = (code, length)
        code += 1
    return bits, bytes(vals), enc


def _block_symbols(blocks: list[np.ndarray]) -> tuple[set[int], set[int]]:
    """(DC size symbols, AC run/size symbols) used by zigzag blocks
    whose DC entries are already differences."""
    dc, ac = set(), set()
    for zz in blocks:
        dc.add(_size_of(int(zz[0])))
        run = 0
        last = int(np.max(np.nonzero(zz)[0])) if np.any(zz) else 0
        for k in range(1, 64):
            v = int(zz[k])
            if v == 0:
                run += 1
                continue
            while run > 15:
                ac.add(0xF0)
                run -= 16
            ac.add((run << 4) | _size_of(v))
            run = 0
        if last < 63:
            ac.add(0x00)
    return dc, ac


def _encode_blocks(writer, blocks, dc_enc, ac_enc) -> None:
    for zz in blocks:
        v = int(zz[0])
        s = _size_of(v)
        code, ln = dc_enc[s]
        writer.write(code, ln)
        writer.write(_mag_bits(v, s), s)
        run = 0
        last = int(np.max(np.nonzero(zz)[0])) if np.any(zz) else 0
        for k in range(1, 64):
            v = int(zz[k])
            if v == 0:
                run += 1
                continue
            while run > 15:
                code, ln = ac_enc[0xF0]
                writer.write(code, ln)
                run -= 16
            s = _size_of(v)
            code, ln = ac_enc[(run << 4) | s]
            writer.write(code, ln)
            writer.write(_mag_bits(v, s), s)
            run = 0
        if last < 63:
            code, ln = ac_enc[0x00]
            writer.write(code, ln)


def _fdct_blocks(plane: np.ndarray, q: np.ndarray) -> list[np.ndarray]:
    """Plane (multiple-of-8 dims) -> per-block quantized zigzag vectors
    in raster block order, DC as raw values (differencing happens at
    MCU interleave time)."""
    h, w = plane.shape
    out = []
    for y0 in range(0, h, 8):
        for x0 in range(0, w, 8):
            block = plane[y0 : y0 + 8, x0 : x0 + 8] - 128.0
            coef = _DCT_T @ block @ _DCT_T.T
            zz = np.round(coef.reshape(-1)[_ZZ] / q).astype(np.int64)
            out.append(zz)
    return out


def _pad_edge(plane: np.ndarray, bh: int, bw: int) -> np.ndarray:
    h, w = plane.shape
    return np.pad(plane, ((0, bh - h), (0, bw - w)), mode="edge")


def _tok_dc_first(ordered_dc, al):
    """DC first-scan tokens (interleaved): diffs of the point-
    transformed (arithmetic >> Al) DC values.  Token kinds: (0,
    table_id, symbol) for a Huffman symbol, (1, value, nbits) for raw
    bits.  Returns (tokens, {table_id: symbol set})."""
    toks, syms = [], {0: set(), 1: set()}
    preds = [0, 0, 0]
    for c, v in ordered_dc:
        tid = 0 if c == 0 else 1
        sv = v >> al
        d = sv - preds[c]
        preds[c] = sv
        s = _size_of(d)
        syms[tid].add(s)
        toks.append((0, tid, s))
        toks.append((1, _mag_bits(d, s), s))
    return toks, syms


def _tok_ac_first(blocks, ss, se, al):
    """AC first-scan tokens for ONE component band (non-interleaved,
    T.81 G.1.2.2-3): EOB-run coding across blocks, values point-
    transformed toward zero by Al."""
    toks, syms = [], set()
    eobrun = 0

    def flush_eob():
        nonlocal eobrun
        if eobrun:
            r = eobrun.bit_length() - 1
            syms.add(r << 4)
            toks.append((0, 0, r << 4))
            if r:
                toks.append((1, eobrun - (1 << r), r))
            eobrun = 0

    for zz in blocks:
        av = [
            (int(v) >> al) if v >= 0 else -((-int(v)) >> al)
            for v in zz[ss : se + 1]
        ]
        last = -1
        for i, v in enumerate(av):
            if v:
                last = i
        if last < 0:
            eobrun += 1
            if eobrun == 0x7FFF:
                flush_eob()
            continue
        flush_eob()
        run = 0
        for i in range(last + 1):
            v = av[i]
            if v == 0:
                run += 1
                continue
            while run > 15:
                syms.add(0xF0)
                toks.append((0, 0, 0xF0))
                run -= 16
            s = _size_of(v)
            sym = (run << 4) | s
            syms.add(sym)
            toks.append((0, 0, sym))
            toks.append((1, _mag_bits(v, s), s))
            run = 0
        if last < se - ss:
            eobrun += 1
            if eobrun == 0x7FFF:
                flush_eob()
    flush_eob()
    return toks, syms


def _tok_ac_refine(blocks, ss, se, al):
    """AC refinement tokens for ONE component band (T.81 G.1.2.3):
    one correction bit per already-nonzero coefficient (buffered until
    the symbol that covers its run is emitted), newly-nonzero
    coefficients coded as run/1 + sign bit, EOB runs over blocks with
    no new coefficients."""
    toks, syms = [], set()
    eobrun = 0
    pend = []  # buffered correction-bit tokens

    def flush():
        nonlocal eobrun
        if eobrun:
            r = eobrun.bit_length() - 1
            syms.add(r << 4)
            toks.append((0, 0, r << 4))
            if r:
                toks.append((1, eobrun - (1 << r), r))
            eobrun = 0
        toks.extend(pend)
        pend.clear()

    for zz in blocks:
        av = [abs(int(v)) >> al for v in zz[ss : se + 1]]
        last_new = -1
        for i, v in enumerate(av):
            if v == 1:
                last_new = i
        if last_new < 0:
            eobrun += 1
            for v in av:
                if v > 1:
                    pend.append((1, v & 1, 1))
            if eobrun == 0x7FFF:
                flush()
            continue
        flush()
        run = 0
        for i in range(last_new + 1):
            v = av[i]
            if v == 0:
                run += 1
                if run == 16:
                    # Emit ZRL EAGERLY at the 16th zero-history
                    # position: its correction bits are exactly the
                    # ones buffered SO FAR.  (The previous deferred
                    # form emitted ZRL only when the next new
                    # coefficient was found and appended the full
                    # buffer — including bits for history positions
                    # BEYOND the 16 zeros the ZRL covers, which the
                    # decoder does not read until a later symbol:
                    # stream desync, found by hypothesis at round 6
                    # on a 3x33 image.)
                    syms.add(0xF0)
                    toks.append((0, 0, 0xF0))
                    toks.extend(pend)
                    pend.clear()
                    run = 0
            elif v > 1:
                pend.append((1, v & 1, 1))
            else:  # newly nonzero at this approximation level
                sym = (run << 4) | 1
                syms.add(sym)
                toks.append((0, 0, sym))
                toks.append((1, 1 if zz[ss + i] > 0 else 0, 1))
                toks.extend(pend)
                pend.clear()
                run = 0
        if last_new < se - ss:
            eobrun += 1
            for i in range(last_new + 1, se - ss + 1):
                if av[i] > 1:
                    pend.append((1, av[i] & 1, 1))
            if eobrun == 0x7FFF:
                flush()
    flush()
    return toks, syms


def _serialize_tokens(toks, enc_tables) -> bytes:
    writer = _BitWriter()
    for t in toks:
        if t[0] == 0:
            code, ln = enc_tables[t[1]][t[2]]
            writer.write(code, ln)
        else:
            writer.write(t[1], t[2])
    writer.flush()
    return bytes(writer.out)


def encode_jpeg(
    img: np.ndarray,
    quant: int = 1,
    subsample: bool = False,
    restart_interval: int = 0,
    progressive: bool = False,
) -> bytes:
    """(h, w, 3) uint8 RGB -> JFIF bytes.  ``quant=1`` is
    near-lossless (DCT rounding only); larger values scale a flat
    quant table.  ``subsample=True`` encodes 4:2:0 (2x2-averaged
    chroma).  ``progressive=True`` emits an SOF2 stream with a
    14-scan script exercising every progressive coding mode (DC+AC
    spectral selection across two bands, one level of successive
    approximation with refinement scans) — coefficients are identical
    to the baseline encoding at the same settings, so decoded pixels
    match the baseline stream exactly.  ``restart_interval`` applies
    to the baseline path only."""
    if img.ndim != 3 or img.shape[2] != 3 or img.dtype != np.uint8:
        raise ValueError("encode_jpeg expects (h, w, 3) uint8")
    h, w = img.shape[:2]
    if h == 0 or w == 0:
        raise ValueError("cannot encode an empty image")
    f = img.astype(np.float64)
    r, g, b = f[..., 0], f[..., 1], f[..., 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0

    if subsample:
        sh, sv = 2, 2
        ch = -(-h // 2)
        cw = -(-w // 2)
        pe = _pad_edge
        cbp = pe(cb, ch * 2, cw * 2).reshape(ch, 2, cw, 2).mean(axis=(1, 3))
        crp = pe(cr, ch * 2, cw * 2).reshape(ch, 2, cw, 2).mean(axis=(1, 3))
    else:
        sh = sv = 1
        cbp, crp = cb, cr

    mcux = -(-w // (8 * sh))
    mcuy = -(-h // (8 * sv))
    q = np.full(64, max(1, int(quant)), dtype=np.int64)
    yb = _fdct_blocks(_pad_edge(y, mcuy * sv * 8, mcux * sh * 8), q)
    cbb = _fdct_blocks(_pad_edge(cbp, mcuy * 8, mcux * 8), q)
    crb = _fdct_blocks(_pad_edge(crp, mcuy * 8, mcux * 8), q)

    if progressive:
        return _encode_progressive(h, w, q, sh, sv, mcux, mcuy, yb, cbb, crb)

    # interleave blocks in MCU order and difference the DCs in that
    # order (per component, reset at restart boundaries)
    ordered: list[tuple[int, np.ndarray]] = []  # (component 0/1/2, zz)
    ybw = mcux * sh  # luma blocks per row
    for mcu in range(mcux * mcuy):
        my, mx = divmod(mcu, mcux)
        for by in range(sv):
            for bx in range(sh):
                ordered.append((0, yb[(my * sv + by) * ybw + mx * sh + bx]))
        ordered.append((1, cbb[my * mcux + mx]))
        ordered.append((2, crb[my * mcux + mx]))
    preds = [0, 0, 0]
    mcu_size = sv * sh + 2
    for i, (c, zz) in enumerate(ordered):
        if restart_interval and (i // mcu_size) % restart_interval == 0 and i % mcu_size == 0:
            preds = [0, 0, 0]
        d = int(zz[0]) - preds[c]
        preds[c] = int(zz[0])
        zz = zz.copy()
        zz[0] = d
        ordered[i] = (c, zz)

    luma = [zz for c, zz in ordered if c == 0]
    chroma = [zz for c, zz in ordered if c != 0]
    dcl, acl = _block_symbols(luma)
    dcc, acc = _block_symbols(chroma)
    bits_dcl, vals_dcl, enc_dcl = _flat_huff(dcl)
    bits_acl, vals_acl, enc_acl = _flat_huff(acl)
    bits_dcc, vals_dcc, enc_dcc = _flat_huff(dcc)
    bits_acc, vals_acc, enc_acc = _flat_huff(acc)

    out = bytearray(b"\xff\xd8")
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    out += b"\xff\xdb" + struct.pack(">H", 2 + 65) + bytes([0]) + bytes(
        int(v) for v in q
    )
    out += b"\xff\xc0" + struct.pack(
        ">HBHHB", 8 + 3 * 3, 8, h, w, 3
    ) + bytes([1, (sh << 4) | sv, 0, 2, 0x11, 0, 3, 0x11, 0])
    for tc, th, bits, vals in (
        (0, 0, bits_dcl, vals_dcl),
        (1, 0, bits_acl, vals_acl),
        (0, 1, bits_dcc, vals_dcc),
        (1, 1, bits_acc, vals_acc),
    ):
        out += b"\xff\xc4" + struct.pack(">H", 2 + 17 + len(vals))
        out += bytes([(tc << 4) | th]) + bytes(bits) + vals
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    out += b"\xff\xda" + struct.pack(">HB", 6 + 2 * 3, 3)
    out += bytes([1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0])

    writer = _BitWriter()
    enc = {0: (enc_dcl, enc_acl), 1: (enc_dcc, enc_acc), 2: (enc_dcc, enc_acc)}
    group: list[tuple[int, np.ndarray]] = []
    n_mcus = mcux * mcuy
    rst = 0
    for mcu in range(n_mcus):
        if restart_interval and mcu and mcu % restart_interval == 0:
            writer.flush()
            out += writer.out
            out += bytes([0xFF, 0xD0 + (rst % 8)])
            rst += 1
            writer = _BitWriter()
        for c, zz in ordered[mcu * mcu_size : (mcu + 1) * mcu_size]:
            d, a = enc[c]
            _encode_blocks(writer, [zz], d, a)
    writer.flush()
    out += writer.out
    out += b"\xff\xd9"
    return bytes(out)


def _encode_progressive(h, w, q, sh, sv, mcux, mcuy, yb, cbb, crb) -> bytes:
    """SOF2 stream from the already-quantized block arrays: DC first
    scan (interleaved, Al=1), per-component AC first scans over two
    spectral bands (1-5, 6-63) at Al=1, then DC + AC refinement scans
    down to Al=0.  Per-scan canonical flat-length DHTs (legal: a DHT
    may precede any scan and redefines its table id)."""
    out = bytearray(b"\xff\xd8")
    out += (
        b"\xff\xe0"
        + struct.pack(">H", 16)
        + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    )
    out += b"\xff\xdb" + struct.pack(">H", 2 + 65) + bytes([0]) + bytes(
        int(v) for v in q
    )
    out += b"\xff\xc2" + struct.pack(
        ">HBHHB", 8 + 3 * 3, 8, h, w, 3
    ) + bytes([1, (sh << 4) | sv, 0, 2, 0x11, 0, 3, 0x11, 0])

    ybw = mcux * sh
    ordered_dc = []
    for mcu in range(mcux * mcuy):
        my, mx = divmod(mcu, mcux)
        for by in range(sv):
            for bx in range(sh):
                ordered_dc.append(
                    (0, int(yb[(my * sv + by) * ybw + mx * sh + bx][0]))
                )
        ordered_dc.append((1, int(cbb[my * mcux + mx][0])))
        ordered_dc.append((2, int(crb[my * mcux + mx][0])))

    # non-interleaved AC block lists cover the COMPONENT grid
    # (ceil(comp_dims/8)), not the MCU-padded grid — uncovered edge
    # blocks hold only padding pixels
    def grid(blocks, grid_w, cbw, cbh):
        return [
            blocks[by * grid_w + bx]
            for by in range(cbh)
            for bx in range(cbw)
        ]

    luma = grid(yb, ybw, -(-w // 8), -(-h // 8))
    cw_c, ch_c = -(-w // sh), -(-h // sv)
    cbn = grid(cbb, mcux, -(-cw_c // 8), -(-ch_c // 8))
    crn = grid(crb, mcux, -(-cw_c // 8), -(-ch_c // 8))

    def dht(tc, th, bits, vals):
        return (
            b"\xff\xc4"
            + struct.pack(">H", 2 + 17 + len(vals))
            + bytes([(tc << 4) | th])
            + bytes(bits)
            + vals
        )

    def sos(comps_spec, ss, se, ah, al):
        b = bytearray(b"\xff\xda")
        b += struct.pack(">HB", 6 + 2 * len(comps_spec), len(comps_spec))
        for cid, tdta in comps_spec:
            b += bytes([cid, tdta])
        b += bytes([ss, se, (ah << 4) | al])
        return bytes(b)

    AL = 1
    bands = ((1, 5), (6, 63))
    comps_ac = [(1, 0, luma), (2, 1, cbn), (3, 1, crn)]

    toks, syms = _tok_dc_first(ordered_dc, AL)
    b0, v0, e0 = _flat_huff(syms[0])
    b1, v1, e1 = _flat_huff(syms[1])
    out += dht(0, 0, b0, v0) + dht(0, 1, b1, v1)
    out += sos([(1, 0x00), (2, 0x10), (3, 0x10)], 0, 0, 0, AL)
    out += _serialize_tokens(toks, {0: e0, 1: e1})

    for cid, ta, blocks in comps_ac:
        for ss_, se_ in bands:
            toks, syms = _tok_ac_first(blocks, ss_, se_, AL)
            bb, vv, ee = _flat_huff(syms)
            out += dht(1, ta, bb, vv)
            out += sos([(cid, ta)], ss_, se_, 0, AL)
            out += _serialize_tokens(toks, {0: ee})

    # DC refinement: one raw bit per block, no Huffman coding
    out += sos([(1, 0x00), (2, 0x10), (3, 0x10)], 0, 0, AL, 0)
    out += _serialize_tokens([(1, v & 1, 1) for _, v in ordered_dc], {})

    for cid, ta, blocks in comps_ac:
        for ss_, se_ in bands:
            toks, syms = _tok_ac_refine(blocks, ss_, se_, 0)
            bb, vv, ee = _flat_huff(syms)
            out += dht(1, ta, bb, vv)
            out += sos([(cid, ta)], ss_, se_, 1, 0)
            out += _serialize_tokens(toks, {0: ee})

    out += b"\xff\xd9"
    return bytes(out)
