"""JPEG codec, pure numpy/python (ITU-T T.81, JFIF).

The reference encodes tiles as JPEG q85 with the alpha band in a zstd
sidecar (src/processor.rs:493-563).  No libjpeg or Pillow binding is
assumed, so both directions are written from scratch.  Encode: 8-bit
baseline, grayscale or YCbCr 4:4:4 only (no subsampling), standard
Annex-K quantization and Huffman tables, libjpeg quality scaling.  DCT is
vectorized over all 8x8 blocks at once (two einsum contractions); only the
entropy coding is a per-block python loop (runs inside Arrow-batched UDFs
only).

Interchange-compatible both ways: any standard decoder reads the encoded
bytes, and `decode` reads baseline SOF0 and progressive SOF2 JPEGs through
one path.  Every scan adds into per-component coefficient grids — a
baseline scan is one over the whole band (Ss=0..Se=63) with no successive
approximation, a progressive one a spectral-selection band or bit plane
(T.81 Annex G) — and dequant + IDCT run once per component at EOI, over all
its blocks.  It takes 4:4:4, 4:2:2, 4:2:0 and 4:4:0 sampling (triangle
'fancy' chroma upsampling, matching libjpeg and the reference's image
crate), interleaved or per-component scans, and DRI/RSTn restart markers;
a truncated scan or a malformed header raises ValueError.  Verified in
pytest against checked-in fixtures written by an external libjpeg-based
toolchain (src/processor.rs:194-203 reads such stores on resume).
"""

from __future__ import annotations

import struct

import numpy as np

# Annex K.1 quantization tables (luminance, chrominance), natural order
_QL = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99], dtype=np.int32)
_QC = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99], dtype=np.int32)

_ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63])

# Annex K.3 typical Huffman tables: (bits[1..16], values)
_DC_L = ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
         list(range(12)))
_DC_C = ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
         list(range(12)))
_AC_L = ([0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D], [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
    0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
    0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
    0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
    0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA])
_AC_C = ([0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77], [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12, 0x41,
    0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15, 0x62, 0x72, 0xD1,
    0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44,
    0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74,
    0x75, 0x76, 0x77, 0x78, 0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A,
    0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA])


def _huff_codes(bits, values):
    """T.81 C.2: (value -> (code, length)) from the bits/values spec."""
    out = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[values[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


_ENC_DC_L, _ENC_DC_C = _huff_codes(*_DC_L), _huff_codes(*_DC_C)
_ENC_AC_L, _ENC_AC_C = _huff_codes(*_AC_L), _huff_codes(*_AC_C)

_DCT = np.zeros((8, 8))
for _k in range(8):
    for _n in range(8):
        _DCT[_k, _n] = np.cos((2 * _n + 1) * _k * np.pi / 16) * (
            np.sqrt(0.125) if _k == 0 else 0.5
        )


def _quality_tables(quality: int) -> tuple[np.ndarray, np.ndarray]:
    q = max(1, min(100, int(quality)))
    scale = 5000 // q if q < 50 else 200 - 2 * q
    ql = np.clip((_QL * scale + 50) // 100, 1, 255)
    qc = np.clip((_QC * scale + 50) // 100, 1, 255)
    return ql, qc


class _BitWriter:
    __slots__ = ("buf", "acc", "n")

    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            self.n -= 8
            b = (self.acc >> self.n) & 0xFF
            self.buf.append(b)
            if b == 0xFF:
                self.buf.append(0x00)  # byte stuffing

    def flush(self) -> None:
        if self.n:
            self.write(0x7F, 8 - self.n)  # pad with 1s


def _magnitude(v: int) -> tuple[int, int]:
    """(category, extra-bits value) per T.81 F.1.2.1."""
    if v == 0:
        return 0, 0
    a = abs(v)
    cat = a.bit_length()
    extra = v if v > 0 else v + (1 << cat) - 1
    return cat, extra


def _encode_component(
    bw: _BitWriter, blocks: np.ndarray, dc_tab: dict, ac_tab: dict, pred: int
) -> int:
    """blocks: (N, 64) int32 quantized zigzag coefficients."""
    for blk in blocks:
        dc = int(blk[0])
        cat, extra = _magnitude(dc - pred)
        code, length = dc_tab[cat]
        bw.write(code, length)
        if cat:
            bw.write(extra, cat)
        pred = dc
        run = 0
        last_nz = int(np.nonzero(blk[1:])[0][-1]) + 1 if (blk[1:] != 0).any() else 0
        for i in range(1, last_nz + 1):
            v = int(blk[i])
            if v == 0:
                run += 1
                continue
            while run > 15:
                code, length = ac_tab[0xF0]  # ZRL
                bw.write(code, length)
                run -= 16
            cat, extra = _magnitude(v)
            code, length = ac_tab[(run << 4) | cat]
            bw.write(code, length)
            bw.write(extra, cat)
            run = 0
        if last_nz < 63:
            code, length = ac_tab[0x00]  # EOB
            bw.write(code, length)
    return pred


def _blockify(plane: np.ndarray) -> np.ndarray:
    """(H, W) -> (N, 8, 8), H/W padded to multiples of 8 by edge replicate."""
    h, w = plane.shape
    ph, pw = -h % 8, -w % 8
    if ph or pw:
        plane = np.pad(plane, ((0, ph), (0, pw)), mode="edge")
    hh, ww = plane.shape
    return (
        plane.reshape(hh // 8, 8, ww // 8, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
    )


def _fdct_quant(blocks: np.ndarray, qtab: np.ndarray) -> np.ndarray:
    """(N, 8, 8) u8 -> (N, 64) int32 quantized zigzag coefficients."""
    f = blocks.astype(np.float64) - 128.0
    coef = np.einsum("ij,njk,lk->nil", _DCT, f, _DCT, optimize=True)
    q = np.rint(coef.reshape(-1, 64) / qtab.astype(np.float64)).astype(np.int32)
    return q[:, _ZIGZAG]


def _dht(tc_th: int, spec) -> bytes:
    bits, values = spec
    body = bytes([tc_th]) + bytes(bits) + bytes(values)
    return b"\xff\xc4" + struct.pack(">H", len(body) + 2) + body


def encode(img: np.ndarray, quality: int = 85) -> bytes:
    """(H, W) grayscale or (H, W, 3) RGB u8 -> baseline JFIF bytes, 4:4:4
    (no chroma subsampling; the reference's jpeg-encoder crate defaults to
    4:2:0, src/processor.rs:528-539)."""
    img = np.asarray(img, dtype=np.uint8)
    gray = img.ndim == 2 or img.shape[2] == 1
    if img.ndim == 3 and img.shape[2] == 1:
        img = img[:, :, 0]
    h, w = img.shape[:2]
    ql, qc = _quality_tables(quality)
    out = bytearray(b"\xff\xd8")  # SOI
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes(ql[_ZIGZAG].astype(np.uint8))
    if not gray:
        out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x01" + bytes(qc[_ZIGZAG].astype(np.uint8))
    ncomp = 1 if gray else 3
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    for cid in range(1, ncomp + 1):
        sof += bytes([cid, 0x11, 0 if cid == 1 else 1])
    out += b"\xff\xc0" + struct.pack(">H", len(sof) + 2) + sof
    out += _dht(0x00, _DC_L) + _dht(0x10, _AC_L)
    if not gray:
        out += _dht(0x01, _DC_C) + _dht(0x11, _AC_C)
    sos = bytes([ncomp])
    for cid in range(1, ncomp + 1):
        sos += bytes([cid, 0x00 if cid == 1 else 0x11])
    sos += b"\x00\x3f\x00"
    out += b"\xff\xda" + struct.pack(">H", len(sos) + 2) + sos
    bw = _BitWriter()
    if gray:
        q = _fdct_quant(_blockify(img), ql)
        _encode_component(bw, q, _ENC_DC_L, _ENC_AC_L, 0)
    else:
        r, g, b = (img[:, :, i].astype(np.float64) for i in range(3))
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        tabs = [(_ENC_DC_L, _ENC_AC_L), (_ENC_DC_C, _ENC_AC_C), (_ENC_DC_C, _ENC_AC_C)]
        preds = [0, 0, 0]
        planes = [np.clip(np.rint(p), 0, 255).astype(np.uint8) for p in (y, cb, cr)]
        qs = [
            _fdct_quant(_blockify(p), ql if i == 0 else qc)
            for i, p in enumerate(planes)
        ]
        # 4:4:4 interleaved MCU = one block per component
        for m in range(qs[0].shape[0]):
            for c in range(3):
                preds[c] = _encode_component(
                    bw, qs[c][m:m + 1], tabs[c][0], tabs[c][1], preds[c]
                )
    bw.flush()
    out += bw.buf
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# ---------------------------------------------------------------------------
# decode: baseline and progressive scans fill one set of coefficient grids
# ---------------------------------------------------------------------------

class _BitReader:
    """MSB-first bits of one entropy-coded segment, stuffed FF 00 removed.
    Reading past the segment's end raises ValueError: a truncated stream
    must not decode as zero bits."""

    __slots__ = ("data", "pos", "acc", "n")

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.acc = 0
        self.n = 0

    def _fill(self) -> None:
        while self.n <= 24 and self.pos < len(self.data):
            b = self.data[self.pos]
            self.pos += 1
            if b == 0xFF:
                if self.pos == len(self.data) or self.data[self.pos] != 0x00:
                    self.pos = len(self.data)  # a marker ends the segment
                    return
                self.pos += 1  # unstuff
            self.acc = (self.acc << 8) | b
            self.n += 8

    def bits(self, k: int) -> int:
        if self.n < k:
            self._fill()
            if self.n < k:
                raise ValueError("JPEG scan data ends early")
        self.n -= k
        v = self.acc >> self.n
        self.acc &= (1 << self.n) - 1  # keep only unread bits: a small int
        return v


def _dec_table(bits, values):
    """(length -> {code: value}) decoding map."""
    table = {}
    code = 0
    k = 0
    for length in range(1, 17):
        lv = {}
        for _ in range(bits[length - 1]):
            lv[code] = values[k]
            code += 1
            k += 1
        table[length] = lv
        code <<= 1
    return table


def _read_huff(br: _BitReader, table) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | br.bits(1)
        lv = table.get(length)
        if lv is not None and code in lv:
            return lv[code]
    raise ValueError("bad huffman code")


def _extend(v: int, cat: int) -> int:
    return v if v >= (1 << (cat - 1)) else v - (1 << cat) + 1


def _scan_segments(data: bytes, pos: int) -> tuple[list[bytes], int]:
    """The entropy-coded data starting at ``pos``, split on RST0-7, and the
    index of the marker that ends it (len(data) when none does).  0xFF
    appears in entropy data only stuffed as FF 00, so any other FF xx is
    a marker."""
    segs = []
    start = i = pos
    while True:
        i = data.find(b"\xff", i)
        if i < 0 or i + 1 == len(data):
            segs.append(data[start:])
            return segs, len(data)
        nxt = data[i + 1]
        if nxt == 0x00:
            i += 2
            continue
        segs.append(data[start:i])
        if not 0xD0 <= nxt <= 0xD7:
            return segs, i
        i += 2
        start = i


def _intervals(segs: list[bytes], units: int, ri: int):
    """A scan's MCUs (or blocks) in raster order, grouped by restart
    interval: (bit reader, unit range) per interval.  Each interval is its
    own entropy-coded segment, so DC predictors and EOB runs restart."""
    ri = ri or max(units, 1)
    n = -(-units // ri)
    if len(segs) < n:
        raise ValueError("JPEG scan has fewer restart intervals than MCUs need")
    return [(_BitReader(segs[k]), range(k * ri, min(units, (k + 1) * ri)))
            for k in range(n)]


def _ac_block(br: _BitReader, table, blk: np.ndarray, Ss: int, Se: int,
              Al: int) -> int:
    """One block's AC band Ss..Se (T.81 F.2.2.2, G.1.2.2): run-length coded
    values << Al into the natural-order ``blk``.  Returns how many of the
    following blocks an EOBn run also ends (0 for a baseline EOB, which is
    EOB0; 0xF0 is ZRL in both)."""
    k = Ss
    while k <= Se:
        rs = _read_huff(br, table)
        r, s = rs >> 4, rs & 15
        if s == 0:
            if r < 15:
                return (1 << r) - 1 + br.bits(r)
            k += 16  # ZRL
            continue
        k += r
        if k > Se:
            break
        blk[_ZIGZAG[k]] = _extend(br.bits(s), s) << Al
        k += 1
    return 0


def _dc_scan(segs, scan, coefs, Se, Al, refine, mcus_x, mcus_y, ri):
    """A scan starting at DC, interleaved or single-component: first pass
    codes diffs << Al, refinement adds one bit per block at Al (T.81
    G.1.2.1).  A baseline scan (Se = 63) reads each block's AC run right
    after its DC."""
    interleaved = len(scan) > 1
    for br, units in _intervals(segs, mcus_x * mcus_y, ri):
        preds = [0] * len(scan)
        for u in units:
            my, mx = divmod(u, mcus_x)
            for ci, comp in enumerate(scan):
                vv, hh = (comp["v"], comp["h"]) if interleaved else (1, 1)
                for by in range(vv):
                    for bx in range(hh):
                        blk = coefs[comp["ci"]][my * vv + by, mx * hh + bx]
                        if refine:
                            blk[0] |= br.bits(1) << Al
                            continue
                        cat = _read_huff(br, comp["dc"])
                        preds[ci] += _extend(br.bits(cat), cat) if cat else 0
                        blk[0] = preds[ci] << Al
                        if Se:
                            _ac_block(br, comp["ac"], blk, 1, Se, Al)


def _ac_first_scan(segs, comp, coef_grid, bw, bh, Ss, Se, Al, ri):
    """Non-interleaved AC first scan (T.81 G.1.2.2): the (Ss..Se) band of
    each block, with EOBn runs that end the band of several blocks."""
    for br, units in _intervals(segs, bw * bh, ri):
        eobrun = 0
        for u in units:
            if eobrun:
                eobrun -= 1
                continue
            eobrun = _ac_block(br, comp["ac"], coef_grid[divmod(u, bw)], Ss, Se, Al)


def _ac_refine_scan(segs, comp, coef_grid, bw, bh, Ss, Se, Al, ri):
    """Non-interleaved AC refinement (T.81 G.1.2.3): newly-nonzero coeffs
    enter at +/-1<<Al; already-nonzero coeffs receive correction bits."""
    p1, m1 = 1 << Al, -(1 << Al)

    def correct(blk, k):
        pos = _ZIGZAG[k]
        if br.bits(1) and (blk[pos] & p1) == 0:
            blk[pos] += p1 if blk[pos] >= 0 else m1

    for br, units in _intervals(segs, bw * bh, ri):
        eobrun = 0
        for u in units:
            blk = coef_grid[divmod(u, bw)]
            k = Ss
            if eobrun == 0:
                while k <= Se:
                    rs = _read_huff(br, comp["ac"])
                    r, s = rs >> 4, rs & 15
                    newval = 0
                    if s == 0:
                        if r < 15:
                            eobrun = (1 << r) + br.bits(r)
                            break  # rest of block handled by EOB logic
                        # r == 15: run of 16 zero-history coefficients
                    else:
                        newval = p1 if br.bits(1) else m1
                    while k <= Se:
                        if blk[_ZIGZAG[k]] != 0:
                            correct(blk, k)
                        else:
                            if r == 0:
                                break
                            r -= 1
                        k += 1
                    if newval and k <= Se:
                        blk[_ZIGZAG[k]] = newval
                    k += 1
            if eobrun > 0:
                while k <= Se:
                    if blk[_ZIGZAG[k]] != 0:
                        correct(blk, k)
                    k += 1
                eobrun -= 1


def _upsample(plane: np.ndarray, fy: int, fx: int, h: int, w: int) -> np.ndarray:
    """Chroma plane -> full resolution.  Factor-2 axes use the triangle
    (libjpeg "fancy") filter — matches what the reference's image-crate
    decoder produces for h2v1/h2v2 (src/processor.rs:194-203); other
    factors fall back to sample replication."""
    def tri_axis(p: np.ndarray, axis: int) -> np.ndarray:
        a = np.moveaxis(p, axis, 0).astype(np.float64)
        prev = np.concatenate([a[:1], a[:-1]], axis=0)
        nxt = np.concatenate([a[1:], a[-1:]], axis=0)
        out = np.empty((2 * a.shape[0],) + a.shape[1:], np.float64)
        out[0::2] = (3.0 * a + prev) / 4.0
        out[1::2] = (3.0 * a + nxt) / 4.0
        return np.moveaxis(out, 0, axis)

    if fy == 2:
        plane = tri_axis(plane, 0)
    elif fy > 1:
        plane = np.repeat(plane, fy, axis=0)
    if fx == 2:
        plane = tri_axis(plane, 1)
    elif fx > 1:
        plane = np.repeat(plane, fx, axis=1)
    return plane[:h, :w]


def decode(data: bytes) -> np.ndarray:
    """Baseline (SOF0) or progressive (SOF2) JFIF bytes -> (H, W) or
    (H, W, 3) u8.  Every scan adds into per-component coefficient grids;
    dequant + IDCT run once per component at EOI, over all its blocks.
    The reference resumes from stores whose JPEGs come from the image
    crate, which subsamples (src/processor.rs:194-203), so the read side
    accepts any sampling and scan layout external encoders write."""
    data = bytes(data)
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG")
    pos = 2
    qtabs: dict[int, np.ndarray] = {}
    htabs: dict[int, dict] = {}
    comps: list[dict] = []
    coefs: list[np.ndarray] = []
    h = w = hmax = vmax = mcus_x = mcus_y = ri = 0
    scanned = False
    while pos < len(data):
        if data[pos] != 0xFF or pos + 1 == len(data):
            raise ValueError("JPEG marker expected")
        marker = data[pos + 1]
        pos += 2
        if marker == 0xD9:
            break
        seglen = int.from_bytes(data[pos:pos + 2], "big")
        if seglen < 2 or pos + seglen > len(data):
            raise ValueError("JPEG segment runs past the end of the stream")
        body = data[pos + 2:pos + seglen]
        if marker == 0xDB:
            i = 0
            while i < len(body):
                pq_tq = body[i]
                if pq_tq >> 4:
                    raise ValueError("8-bit JPEG quantization tables only")
                tab = np.frombuffer(body[i + 1:i + 65], np.uint8).astype(np.int32)
                nat = np.zeros(64, np.int32)
                nat[_ZIGZAG] = tab
                qtabs[pq_tq & 15] = nat
                i += 65
        elif marker in (0xC0, 0xC2):
            prec, h, w, nc = struct.unpack(">BHHB", body[:6])
            if prec != 8:
                raise ValueError("8-bit JPEG samples only")
            for c in range(nc):
                cid, hv, tq = body[6 + 3 * c:9 + 3 * c]
                comps.append({"id": cid, "tq": tq, "h": hv >> 4, "v": hv & 15,
                              "ci": c})
            hmax = max(c["h"] for c in comps)
            vmax = max(c["v"] for c in comps)
            mcus_x = -(-w // (8 * hmax))
            mcus_y = -(-h // (8 * vmax))
            for c in comps:
                c["cw"] = -(-w * c["h"] // hmax)  # component's true pixel dims
                c["ch"] = -(-h * c["v"] // vmax)
                coefs.append(np.zeros(
                    (mcus_y * c["v"], mcus_x * c["h"], 64), np.int32))
        elif 0xC1 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            raise ValueError("only baseline SOF0 / progressive SOF2 supported")
        elif marker == 0xC4:
            i = 0
            while i < len(body):
                tc_th = body[i]
                bits = list(body[i + 1:i + 17])
                nv = sum(bits)
                values = list(body[i + 17:i + 17 + nv])
                htabs[tc_th] = _dec_table(bits, values)
                i += 17 + nv
        elif marker == 0xDD:
            (ri,) = struct.unpack(">H", body[:2])
        elif marker == 0xDA:
            ns = body[0]
            scan = []
            for c in range(ns):
                cid, tabs = body[1 + 2 * c], body[2 + 2 * c]
                comp = dict(next(x for x in comps if x["id"] == cid))
                comp["dc"] = htabs.get(tabs >> 4)
                comp["ac"] = htabs.get(0x10 | (tabs & 15))
                scan.append(comp)
            Ss, Se, ah_al = body[1 + 2 * ns:4 + 2 * ns]
            Ah, Al = ah_al >> 4, ah_al & 15
            segs, pos = _scan_segments(data, pos + seglen)
            scanned = True
            c = scan[0]
            bw, bh = -(-c["cw"] // 8), -(-c["ch"] // 8)
            if ns > 1:  # interleaved: DC-only, or a whole baseline scan
                _dc_scan(segs, scan, coefs, Se, Al, Ah > 0, mcus_x, mcus_y, ri)
            elif Ss == 0:
                _dc_scan(segs, scan, coefs, Se, Al, Ah > 0, bw, bh, ri)
            elif Ah == 0:  # AC scans are single-component by spec
                _ac_first_scan(segs, c, coefs[c["ci"]], bw, bh, Ss, Se, Al, ri)
            else:
                _ac_refine_scan(segs, c, coefs[c["ci"]], bw, bh, Ss, Se, Al, ri)
            continue
        pos += seglen
    if not scanned:
        raise ValueError("no JPEG scan found")
    planes = []
    for c, grid in zip(comps, coefs):
        by, bx, _ = grid.shape
        deq = (grid.reshape(-1, 64) * qtabs[c["tq"]][None, :]).astype(np.float64)
        blocks = deq.reshape(-1, 8, 8)
        pix = np.einsum("ji,njk,kl->nil", _DCT, blocks, _DCT, optimize=True) + 128.0
        plane = pix.reshape(by, bx, 8, 8).transpose(0, 2, 1, 3).reshape(by * 8, bx * 8)
        if (c["h"], c["v"]) == (hmax, vmax):
            planes.append(plane[:h, :w])
        else:
            planes.append(_upsample(plane[:c["ch"], :c["cw"]],
                                    vmax // c["v"], hmax // c["h"], h, w))
    if len(planes) == 1:
        return np.clip(np.rint(planes[0]), 0, 255).astype(np.uint8)
    y, cb, cr = planes[0], planes[1] - 128.0, planes[2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return np.clip(np.rint(np.stack([r, g, b], axis=2)), 0, 255).astype(np.uint8)
