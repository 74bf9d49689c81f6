"""Minimal real baseline JPEG codec — pure stdlib, no PIL required.

Implements the public JPEG standard (ITU-T T.81 baseline sequential DCT,
JFIF container) for 8-bit GRAYSCALE, one scan: marker parse (SOI/APP0/
DQT/SOF0/DHT/SOS/EOI), Annex-K-style huffman tables, byte-stuffed entropy
decoding, DC differential + AC run-length (EOB/ZRL), dequantization,
exact 2-D IDCT from a precomputed cosine table, level shift and clamp.
The encoder is the mirror image (FDCT, quantize, huffman encode), so
round trips exercise every decode path with zero fixture bytes checked
in.

Scope (asserted, not assumed): baseline (SOF0), 8-bit, dimensions padded
to whole MCUs by edge replication on encode. GRAYSCALE
(decode_gray8_jpeg) and COLOR — 3-component YCbCr with 4:2:0 / 4:2:2 /
4:4:4 sampling via the generic interleaved-MCU plane decode
(decode_rgb_jpeg), chroma upsampled by replication, integer-exact
fixed-point YCbCr<->RGB (floor division, offsets keep numerators
non-negative so DuckDB's truncating // agrees — the color oracle's
closed form). Restart intervals (DRI/RSTm — what camera firmware emits
for error resilience) are supported on both encode and decode:
byte-aligned marker, DC predictor reset, modulo-8 sequence check.
PROGRESSIVE (SOF2) is real too, grayscale AND color — spectral selection
+ successive approximation with per-scan optimal huffman tables, the
classic six-scan luma plan and libjpeg's ten-scan YCbCr plan with
interleaved DC scans (see the Annex-G section at the bottom of this
module). 16-bit (Pq=1) quant tables parse per B.4.1; only 12-bit sample
precision raises ValueError, and no other decoder takes over
(operators/multimodal.py::decode_image_bytes uses these codecs only).

Determinism note for oracles: JPEG is lossy, so hash-checked queries use
BLOCK-CONSTANT source images — every 8x8 block is a single value, the
DCT has only a DC coefficient, and the decoded block is the closed form
clamp(round(round(8*(v-128)/q00) * q00 / 8.0) + 128), which a SQL oracle
recomputes exactly. General images (nonzero ACs) are covered by
round-trip pytest bounds instead.

Reference parity: the reference engine has no media path (it treats
payloads as opaque bytes end-to-end); this module is part of the
LLM-data-pipeline extension surface (SURVEY.md §2 Table B, multimodal).
"""

from __future__ import annotations

import math
import struct

# -- tables -----------------------------------------------------------------

#: flat quantization table (all entries q) keeps the closed-form oracle
#: simple; any table works for the codec itself.
DEFAULT_Q = 16

# Annex K.3.1 luminance DC: BITS then HUFFVAL (category 0..11)
_DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_VALS = list(range(12))
# Annex K.3.2 luminance AC
_AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_AC_VALS = [
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
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]

_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

#: cosine basis c[u][x] = C(u) * cos((2x+1) u pi / 16), C(0)=1/sqrt(2)
_COS = [
    [
        (1.0 / math.sqrt(2.0) if u == 0 else 1.0)
        * math.cos((2 * x + 1) * u * math.pi / 16.0)
        for x in range(8)
    ]
    for u in range(8)
]


def _build_codes(bits, vals):
    """(value -> (code, length)) per Annex C canonical code assignment."""
    codes = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


_DC_CODES = _build_codes(_DC_BITS, _DC_VALS)
_AC_CODES = _build_codes(_AC_BITS, _AC_VALS)


def _build_decode(bits, vals):
    """((length, code) -> value) decode map."""
    out = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return out


_DC_DECODE = _build_decode(_DC_BITS, _DC_VALS)
_AC_DECODE = _build_decode(_AC_BITS, _AC_VALS)


def _category(v: int) -> int:
    """Bit category of a DC diff / AC coefficient (T.81 F.1.2.1.1)."""
    a = abs(v)
    n = 0
    while a:
        a >>= 1
        n += 1
    return n


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            self.n -= 8
            byte = (self.acc >> self.n) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:  # byte stuffing
                self.out.append(0x00)

    def restart(self, m: int) -> None:
        """Emit RSTm (T.81 E.1.4): 1-pad to a byte boundary, then the raw
        marker — markers are NOT byte-stuffed."""
        if self.n:
            pad = 8 - self.n
            self.put((1 << pad) - 1, pad)
        self.out += bytes([0xFF, 0xD0 + (m & 7)])

    def flush(self) -> bytes:
        if self.n:
            pad = 8 - self.n
            self.put((1 << pad) - 1, pad)  # 1-fill per spec
        return bytes(self.out)


class _BitReader:
    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.acc = 0
        self.n = 0

    def _fill(self) -> None:
        if self.pos >= len(self.data):
            raise ValueError("truncated entropy-coded segment")
        b = self.data[self.pos]
        self.pos += 1
        if b == 0xFF:
            if self.pos >= len(self.data) or self.data[self.pos] != 0x00:
                raise ValueError("unexpected marker inside scan")
            self.pos += 1  # skip stuffed 0x00
        self.acc = (self.acc << 8) | b
        self.n += 8

    def bit(self) -> int:
        if self.n == 0:
            self._fill()
        self.n -= 1
        return (self.acc >> self.n) & 1

    def bits(self, k: int) -> int:
        v = 0
        for _ in range(k):
            v = (v << 1) | self.bit()
        return v

    def huff(self, table) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.bit()
            if (length, code) in table:
                return table[(length, code)]
        raise ValueError("invalid huffman code")

    def sync_restart(self, m: int) -> None:
        """Consume an RSTm marker (T.81 E.2.4): discard the 1-padding to
        the byte boundary, then require the expected modulo-8 marker."""
        self.n = 0  # drop pad bits buffered past the last consumed code
        if self.pos + 2 > len(self.data):
            raise ValueError("truncated scan at restart boundary")
        if self.data[self.pos] != 0xFF or self.data[self.pos + 1] != 0xD0 + (m & 7):
            raise ValueError(
                f"expected RST{m & 7} at restart boundary, got "
                f"{self.data[self.pos:self.pos + 2].hex()}"
            )
        self.pos += 2


def _extend(v: int, t: int) -> int:
    """T.81 F.2.2.1 EXTEND: map t low bits to a signed coefficient."""
    return v if v >= (1 << (t - 1)) else v - (1 << t) + 1


def _fdct_quant(block, q: int):
    """Level-shifted 8x8 FDCT, quantized by the flat table (zigzag order)."""
    shifted = [p - 128 for p in block]
    coefs = []
    for u in range(8):
        for v in range(8):
            s = 0.0
            for y in range(8):
                cy = _COS[u][y]
                base = y * 8
                for x in range(8):
                    s += shifted[base + x] * cy * _COS[v][x]
            # snap to a 1/4096 grid: mathematically-integer coefficients
            # (e.g. the DC of a constant block) accumulate ~1e-10 float
            # error over 64 cosine terms, which flips round-half cases and
            # breaks the closed-form oracle; genuinely fractional
            # coefficients are unaffected at this resolution
            coefs.append(math.floor(s / 4.0 * 4096.0 + 0.5) / 4096.0)
    # round-half-away-from-zero: engine- and platform-stable
    quant = [
        int(math.floor(abs(c) / q + 0.5)) * (1 if c >= 0 else -1)
        for c in coefs
    ]
    return [quant[_ZIGZAG[i]] for i in range(64)]


def _idct(zz, q):
    """Dequantize + exact 2-D IDCT -> 64 clamped pixels.

    ``q`` is the full 64-entry quantization table in zigzag order (as the
    DQT segment stores it), so arbitrary baseline JPEGs dequantize
    per-coefficient exactly as T.81 F.2.1.4 prescribes; the FLAT-table
    requirement lives only in the encoder/oracle closed form
    (:func:`_fdct_quant`), not here."""
    coefs = [0.0] * 64
    for i, v in enumerate(zz):
        coefs[_ZIGZAG[i]] = v * q[i]
    out = []
    for y in range(8):
        for x in range(8):
            s = 0.0
            for u in range(8):
                cu = _COS[u][y]
                base = u * 8
                for v in range(8):
                    s += coefs[base + v] * cu * _COS[v][x]
            # same 1/4096 snap as the encoder (see _fdct_quant)
            snapped = math.floor(s / 4.0 * 4096.0 + 0.5) / 4096.0
            p = int(math.floor(snapped + 0.5)) + 128
            out.append(0 if p < 0 else 255 if p > 255 else p)
    return out


# -- integer-exact color conversion ------------------------------------------
#
# Fixed-point BT.601/JFIF conversion with FLOOR division throughout. The
# +65536 offset keeps every numerator non-negative so Python's // (floor)
# and DuckDB's // (truncate toward zero) agree — the property the
# closed-form color oracle depends on. Weights are the classic x256
# fixed-point JFIF constants (77/150/29 sum to 256; each chroma row sums
# to 0), clamped to [0, 255] identically on both sides.


def _rgb_to_ycbcr_int(r: int, g: int, b: int) -> tuple[int, int, int]:
    y = (77 * r + 150 * g + 29 * b + 128) // 256
    cb = (-43 * r - 85 * g + 128 * b + 128 + 65536) // 256 - 128
    cr = (128 * r - 107 * g - 21 * b + 128 + 65536) // 256 - 128
    clamp = lambda v: 0 if v < 0 else 255 if v > 255 else v  # noqa: E731
    return clamp(y), clamp(cb), clamp(cr)


def _ycbcr_to_rgb_int(y: int, cb: int, cr: int) -> tuple[int, int, int]:
    r = y + (359 * (cr - 128) + 128 + 65536) // 256 - 256
    g = y - ((88 * (cb - 128) + 183 * (cr - 128) + 128 + 65536) // 256 - 256)
    b = y + (454 * (cb - 128) + 128 + 65536) // 256 - 256
    clamp = lambda v: 0 if v < 0 else 255 if v > 255 else v  # noqa: E731
    return clamp(r), clamp(g), clamp(b)


def _encode_block_zz(bw: "_BitWriter", zz, prev_dc: int) -> int:
    """Entropy-code one quantized zigzag block (DC differential + AC
    run-length with ZRL/EOB, Annex-K luminance tables). Returns the new
    DC predictor."""
    diff = zz[0] - prev_dc
    t = _category(diff)
    code, ln = _DC_CODES[t]
    bw.put(code, ln)
    if t:
        bw.put(diff if diff >= 0 else diff + (1 << t) - 1, t)
    run = 0
    last_nz = max((i for i in range(1, 64) if zz[i]), default=0)
    for i in range(1, last_nz + 1):
        if zz[i] == 0:
            run += 1
            continue
        while run >= 16:
            zc, zl = _AC_CODES[0xF0]  # ZRL
            bw.put(zc, zl)
            run -= 16
        t = _category(zz[i])
        code, ln = _AC_CODES[(run << 4) | t]
        bw.put(code, ln)
        bw.put(zz[i] if zz[i] >= 0 else zz[i] + (1 << t) - 1, t)
        run = 0
    if last_nz < 63:
        ec, el = _AC_CODES[0x00]  # EOB
        bw.put(ec, el)
    return zz[0]


def _seg(marker: int, payload: bytes) -> bytes:
    return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload


_JFIF_APP0 = b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
_DHT_LUMA = (
    bytes([0x00]) + bytes(_DC_BITS) + bytes(_DC_VALS)
    + bytes([0x10]) + bytes(_AC_BITS) + bytes(_AC_VALS)
)


def encode_gray8_jpeg(
    pixels: bytes,
    width: int,
    height: int,
    q: int = DEFAULT_Q,
    restart_interval: int = 0,
) -> bytes:
    """Encode 8-bit grayscale pixels (row-major, len == width*height) as a
    real baseline JFIF JPEG (single component, flat quant table ``q``,
    Annex-K huffman tables). Edges pad by replication to whole blocks.
    ``restart_interval`` > 0 emits a DRI segment and an RSTm marker every
    N MCUs (DC predictor reset + byte alignment — what camera firmware
    emits for error resilience)."""
    if len(pixels) != width * height or width == 0 or height == 0:
        raise ValueError("pixels length != width*height (or empty image)")
    if not 1 <= q <= 255:
        raise ValueError("flat quant value must fit one byte")
    bw = _BitWriter()
    prev_dc = 0
    mcu_count = 0
    rst_idx = 0
    for by in range(0, height, 8):
        for bx in range(0, width, 8):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                bw.restart(rst_idx)
                rst_idx = (rst_idx + 1) % 8
                prev_dc = 0
            mcu_count += 1
            block = [
                pixels[min(by + yy, height - 1) * width + min(bx + xx, width - 1)]
                for yy in range(8)
                for xx in range(8)
            ]
            prev_dc = _encode_block_zz(bw, _fdct_quant(block, q), prev_dc)
    scan = bw.flush()

    qtab = bytes([0x00]) + bytes([q] * 64)  # id 0, 8-bit precision
    sof = struct.pack(">BHHB", 8, height, width, 1) + bytes([1, 0x11, 0])
    sos = bytes([1, 1, 0x00, 0, 63, 0])
    dri = (
        _seg(0xDD, struct.pack(">H", restart_interval)) if restart_interval else b""
    )
    return (
        b"\xff\xd8"  # SOI
        + _seg(0xE0, _JFIF_APP0)
        + _seg(0xDB, qtab)
        + _seg(0xC0, sof)
        + _seg(0xC4, _DHT_LUMA)
        + dri
        + _seg(0xDA, sos)
        + scan
        + b"\xff\xd9"  # EOI
    )


def _plane_block(plane, pwidth: int, bx: int, by: int) -> list[int]:
    """One 8x8 block of a padded plane as a 64-int list."""
    return [
        plane[(by * 8 + yy) * pwidth + bx * 8 + xx]
        for yy in range(8)
        for xx in range(8)
    ]


def _rgb_planes_420(rgb: bytes, width: int, height: int, q: int):
    """Shared encoder front end for baseline AND progressive color:
    integer-exact RGB→YCbCr, edge-replicated padding to whole 16x16
    MCUs, 2x2 box chroma subsampling (round half up). Returns
    (yp, pw, ph, cbs, crs, cw, ch)."""
    if len(rgb) != width * height * 3 or width == 0 or height == 0:
        raise ValueError("rgb length != width*height*3 (or empty image)")
    if not 1 <= q <= 255:
        raise ValueError("flat quant value must fit one byte")
    pw = (width + 15) // 16 * 16
    ph = (height + 15) // 16 * 16
    yp = bytearray(pw * ph)
    cbp = bytearray(pw * ph)
    crp = bytearray(pw * ph)
    for yy in range(ph):
        sy = min(yy, height - 1)
        for xx in range(pw):
            sx = min(xx, width - 1)
            i = (sy * width + sx) * 3
            yv, cb, cr = _rgb_to_ycbcr_int(rgb[i], rgb[i + 1], rgb[i + 2])
            at = yy * pw + xx
            yp[at], cbp[at], crp[at] = yv, cb, cr
    cw, chh = pw // 2, ph // 2
    cbs = bytearray(cw * chh)
    crs = bytearray(cw * chh)
    for cy in range(chh):
        for cx in range(cw):
            a = 2 * cy * pw + 2 * cx
            cbs[cy * cw + cx] = (
                cbp[a] + cbp[a + 1] + cbp[a + pw] + cbp[a + pw + 1] + 2
            ) // 4
            crs[cy * cw + cx] = (
                crp[a] + crp[a + 1] + crp[a + pw] + crp[a + pw + 1] + 2
            ) // 4
    return yp, pw, ph, cbs, crs, cw, chh


def encode_rgb_jpeg(
    rgb: bytes,
    width: int,
    height: int,
    q: int = DEFAULT_Q,
    restart_interval: int = 0,
) -> bytes:
    """Encode interleaved RGB8 pixels as a real baseline YCbCr 4:2:0 JFIF
    JPEG: integer-exact RGB→YCbCr (:func:`_rgb_to_ycbcr_int`), edge-
    replicated padding to whole 16x16 MCUs, 2x2 box chroma subsampling
    (round half up), then an interleaved MCU scan — 4 Y blocks (2x2,
    left-right top-bottom) + Cb + Cr per MCU with per-component DC
    predictors (T.81 A.2.3). All three components share quant table 0
    (flat ``q`` — keeps the DC-only closed form) and the Annex-K
    luminance huffman tables (spec-legal: SOS maps any component to any
    loaded table; sharing avoids transcribing the chroma tables and
    changes nothing about the entropy coding's correctness)."""
    yp, pw, ph, cbs, crs, cw, chh = _rgb_planes_420(rgb, width, height, q)
    block = _plane_block
    bw = _BitWriter()
    prev = [0, 0, 0]  # per-component DC predictors (Y, Cb, Cr)
    mcu_count = 0
    rst_idx = 0
    for myi in range(ph // 16):
        for mxi in range(pw // 16):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                bw.restart(rst_idx)
                rst_idx = (rst_idx + 1) % 8
                prev = [0, 0, 0]
            mcu_count += 1
            for vy in range(2):
                for vx in range(2):
                    zz = _fdct_quant(block(yp, pw, 2 * mxi + vx, 2 * myi + vy), q)
                    prev[0] = _encode_block_zz(bw, zz, prev[0])
            prev[1] = _encode_block_zz(bw, _fdct_quant(block(cbs, cw, mxi, myi), q), prev[1])
            prev[2] = _encode_block_zz(bw, _fdct_quant(block(crs, cw, mxi, myi), q), prev[2])
    scan = bw.flush()

    qtab = bytes([0x00]) + bytes([q] * 64)
    sof = struct.pack(">BHHB", 8, height, width, 3) + bytes(
        [1, 0x22, 0, 2, 0x11, 0, 3, 0x11, 0]
    )
    sos = bytes([3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0])
    dri = (
        _seg(0xDD, struct.pack(">H", restart_interval)) if restart_interval else b""
    )
    return (
        b"\xff\xd8"
        + _seg(0xE0, _JFIF_APP0)
        + _seg(0xDB, qtab)
        + _seg(0xC0, sof)
        + _seg(0xC4, _DHT_LUMA)
        + dri
        + _seg(0xDA, sos)
        + scan
        + b"\xff\xd9"
    )


def _parse_baseline(payload: bytes):
    """Marker walk of a baseline JPEG → header facts.

    Returns (width, height, comps, qtables, dc_tables, ac_tables, scan,
    scan_start) where ``comps`` is the SOF0 component list
    [(cid, h, v, tq)], the huffman dicts are keyed by table id, and
    ``scan`` is the SOS mapping [(cid, dc_id, ac_id)], and the trailing
    element is the DRI restart interval (0 = none). Raises ValueError for
    anything outside 8-bit baseline sequential (e.g. progressive frames
    — those go through _parse_progressive)."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    qtables: dict[int, list[int]] = {}
    dc_tables: dict[int, dict] = {}
    ac_tables: dict[int, dict] = {}
    width = height = None
    comps: list[tuple[int, int, int, int]] = []
    scan = None
    scan_start = None
    restart_interval = 0
    while pos < len(payload):
        if pos + 4 > len(payload):
            raise ValueError("truncated JPEG (marker walk ran off the end)")
        if payload[pos] != 0xFF:
            raise ValueError("marker sync lost")
        marker = payload[pos + 1]
        if marker == 0xD9:  # EOI
            break
        (seglen,) = struct.unpack(">H", payload[pos + 2 : pos + 4])
        if pos + 2 + seglen > len(payload):
            raise ValueError("truncated JPEG segment")
        body = payload[pos + 4 : pos + 2 + seglen]
        if marker == 0xDB:  # DQT (possibly several tables per segment)
            at = 0
            while at < len(body):
                pq, tq = body[at] >> 4, body[at] & 0x0F
                if pq == 0:  # 8-bit entries
                    qtables[tq] = list(body[at + 1 : at + 65])
                    at += 65
                elif pq == 1:  # 16-bit big-endian entries (B.4.1; what
                    # high-quality encoders emit for 12-bit-sample work —
                    # legal for 8-bit scans too, so accept them)
                    qtables[tq] = [
                        (body[at + 1 + 2 * i] << 8) | body[at + 2 + 2 * i]
                        for i in range(64)
                    ]
                    at += 129
                else:
                    raise ValueError("invalid DQT precision")
        elif marker == 0xC0:  # SOF0 baseline
            precision, height, width, ncomp = struct.unpack(">BHHB", body[:6])
            if precision != 8:
                raise ValueError("only 8-bit precision baseline supported")
            if len(body) < 6 + 3 * ncomp:
                raise ValueError("truncated SOF segment")
            comps = []
            for c in range(ncomp):
                cid, hv, tq = body[6 + 3 * c : 9 + 3 * c]
                comps.append((cid, hv >> 4, hv & 0x0F, tq))
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB):
            raise ValueError("non-baseline JPEG (progressive/extended)")
        elif marker == 0xC4:  # DHT (possibly several tables)
            at = 0
            while at < len(body):
                tc, th = body[at] >> 4, body[at] & 0x0F
                bits = list(body[at + 1 : at + 17])
                n = sum(bits)
                vals = list(body[at + 17 : at + 17 + n])
                (dc_tables if tc == 0 else ac_tables)[th] = _build_decode(bits, vals)
                at += 17 + n
        elif marker == 0xDD:  # DRI: restart every N MCUs (0 = disabled)
            (restart_interval,) = struct.unpack(">H", body[:2])
        elif marker == 0xDA:  # SOS
            ns = body[0]
            scan = [
                (body[1 + 2 * c], body[2 + 2 * c] >> 4, body[2 + 2 * c] & 0x0F)
                for c in range(ns)
            ]
            scan_start = pos + 2 + seglen
            break
        pos += 2 + seglen
    if (
        width is None
        or scan_start is None
        or scan is None
        or not dc_tables
        or not ac_tables
    ):
        raise ValueError("missing SOF/SOS/DHT")
    return (
        width, height, comps, qtables, dc_tables, ac_tables, scan,
        scan_start, restart_interval,
    )


def _decode_block(br: "_BitReader", dc_dec, ac_dec, prev_dc: int):
    """One entropy-coded block → (zigzag coefficients, new DC predictor)."""
    t = br.huff(dc_dec)
    diff = _extend(br.bits(t), t) if t else 0
    dc = prev_dc + diff
    zz = [0] * 64
    zz[0] = dc
    i = 1
    while i < 64:
        rs = br.huff(ac_dec)
        r, s = rs >> 4, rs & 0x0F
        if rs == 0x00:  # EOB
            break
        if rs == 0xF0:  # ZRL
            i += 16
            continue
        i += r
        if i > 63:
            raise ValueError("AC index overrun")
        zz[i] = _extend(br.bits(s), s)
        i += 1
    return zz, dc


def _decode_planes(payload: bytes):
    """Interleaved-MCU scan decode (T.81 A.2.3) → per-component planes.

    Handles any component count / sampling factors baseline allows; each
    returned plane is padded to its MCU coverage (``mx * h * 8`` wide).
    Returns (width, height, comps, planes-by-cid, (mx, my, hmax, vmax))."""
    (
        width, height, comps, qtables, dc_t, ac_t, scan, scan_start, dri,
    ) = _parse_baseline(payload)
    if len(scan) != len(comps):
        raise ValueError("scan component count != frame component count")
    hmax = max(h for _, h, _, _ in comps)
    vmax = max(v for _, _, v, _ in comps)
    if hmax < 1 or vmax < 1:
        raise ValueError("invalid sampling factors")
    mx = (width + 8 * hmax - 1) // (8 * hmax)
    my = (height + 8 * vmax - 1) // (8 * vmax)
    planes: dict[int, bytearray] = {}
    comp_by_id: dict[int, tuple[int, int, list[int]]] = {}
    for cid, h, v, tq in comps:
        q = qtables.get(tq)
        if q is None:
            raise ValueError("missing quant table")
        if len(q) != 64:
            raise ValueError("quant table must have 64 entries (8-bit baseline)")
        planes[cid] = bytearray(mx * h * 8 * my * v * 8)
        comp_by_id[cid] = (h, v, q)
    end = payload.rfind(b"\xff\xd9")
    br = _BitReader(payload[scan_start : end if end > 0 else len(payload)])
    prev = {cid: 0 for cid, *_ in comps}
    mcu_count = 0
    rst_idx = 0
    for myi in range(my):
        for mxi in range(mx):
            if dri and mcu_count and mcu_count % dri == 0:
                # restart boundary: byte-align, consume RSTm, reset the
                # DC predictors (T.81 E.2.4 — the resync that makes scans
                # corruption-resilient)
                br.sync_restart(rst_idx)
                rst_idx = (rst_idx + 1) % 8
                prev = {cid: 0 for cid, *_ in comps}
            mcu_count += 1
            for cid, td, ta in scan:
                h, v, q = comp_by_id[cid]
                dc_dec, ac_dec = dc_t.get(td), ac_t.get(ta)
                if dc_dec is None or ac_dec is None:
                    raise ValueError("missing huffman table for scan component")
                pw = mx * h * 8
                for vy in range(v):
                    for vx in range(h):
                        zz, prev[cid] = _decode_block(br, dc_dec, ac_dec, prev[cid])
                        block = _idct(zz, q)
                        bxi, byi = mxi * h + vx, myi * v + vy
                        for yy in range(8):
                            row = (byi * 8 + yy) * pw + bxi * 8
                            planes[cid][row : row + 8] = bytes(
                                block[yy * 8 : yy * 8 + 8]
                            )
    return width, height, comps, planes, (mx, my, hmax, vmax)


def decode_gray8_jpeg(payload: bytes) -> tuple[int, int, bytes]:
    """Decode a baseline single-component JPEG -> (width, height, pixels).

    Real decode: marker walk, DQT/DHT table loads, byte-unstuffed huffman
    scan (DC differential + AC run-length), per-coefficient dequantize,
    exact IDCT, level shift + clamp, un-pad to the declared geometry.
    Progressive (SOF2) single-component streams dispatch to
    :func:`decode_gray8_progressive`; raises ValueError for anything
    outside those subsets; color payloads go through
    :func:`decode_rgb_jpeg`.
    """
    if sof_marker(payload) == 0xC2:
        return decode_gray8_progressive(payload)
    width, height, comps, planes, (mx, _my, _hm, _vm) = _decode_planes(payload)
    if len(comps) != 1:
        raise ValueError(
            "only 8-bit single-component (grayscale) baseline JPEG is "
            "supported here; 3-component YCbCr goes through decode_rgb_jpeg"
        )
    cid, h, v, _tq = comps[0]
    if (h, v) != (1, 1):
        raise ValueError("subsampled grayscale is malformed")
    padded = planes[cid]
    pw = mx * 8
    out = bytearray(width * height)
    for y in range(height):
        out[y * width : (y + 1) * width] = padded[y * pw : y * pw + width]
    return width, height, bytes(out)


def decode_rgb_jpeg(payload: bytes) -> tuple[int, int, bytes]:
    """Decode a 3-component YCbCr JPEG -> (width, height, RGB8).

    Full color path: interleaved MCU scan with per-component sampling
    factors and DC predictors (4:2:0, 4:2:2, and 4:4:4 all fall out of
    the generic plane decode), chroma upsampled to full resolution by
    replication (nearest — the JFIF-sanctioned simple upsampler), then
    integer-exact YCbCr→RGB (:func:`_ycbcr_to_rgb_int`) with clamping.
    PROGRESSIVE (SOF2) color dispatches to the multi-scan coefficient
    decoder and rejoins here for the plane → RGB conversion.
    """
    decode = (
        _decode_progressive_planes
        if sof_marker(payload) == 0xC2
        else _decode_planes
    )
    width, height, comps, planes, (mx, my, hmax, vmax) = decode(payload)
    if len(comps) != 3:
        raise ValueError("decode_rgb_jpeg needs a 3-component (YCbCr) JPEG")
    return _planes_to_rgb(width, height, comps, planes, mx, my, hmax, vmax)


def _planes_to_rgb(width, height, comps, planes, mx, my, hmax, vmax):
    """Chroma-upsample decoded component planes (nearest/replication) and
    convert YCbCr → interleaved RGB8, integer-exact."""
    full_w = mx * hmax * 8
    up: dict[int, bytearray | bytes] = {}
    for cid, h, v, _tq in comps:
        sx, sy = hmax // h, vmax // v
        if sx * h != hmax or sy * v != vmax:
            raise ValueError("non-integer subsampling ratio unsupported")
        plane = planes[cid]
        if sx == 1 and sy == 1:
            up[cid] = plane
            continue
        pw = mx * h * 8
        o = bytearray(full_w * (my * vmax * 8))
        for y in range(my * vmax * 8):
            src_row = (y // sy) * pw
            base = y * full_w
            for x in range(full_w):
                o[base + x] = plane[src_row + x // sx]
        up[cid] = o
    yp, cbp, crp = (up[cid] for cid, *_ in comps)  # SOF order: Y, Cb, Cr
    out = bytearray(width * height * 3)
    k = 0
    for yy in range(height):
        base = yy * full_w
        for xx in range(width):
            r, g, b = _ycbcr_to_rgb_int(yp[base + xx], cbp[base + xx], crp[base + xx])
            out[k] = r
            out[k + 1] = g
            out[k + 2] = b
            k += 3
    return width, height, bytes(out)


# -- progressive DCT (SOF2, T.81 Annex G) -------------------------------------
#
# Spectral selection + successive approximation, huffman entropy coding.
# The encoder emits the classic six-scan luminance progression (the plan
# libjpeg's -progressive uses for grayscale), so every decode path is
# exercised by round trips with zero fixture bytes checked in:
#
#   1. Ss=0 Se=0  Ah=0 Al=1   DC first (point-transformed differentials)
#   2. Ss=1 Se=5  Ah=0 Al=2   AC first, low band (EOB runs)
#   3. Ss=6 Se=63 Ah=0 Al=2   AC first, high band
#   4. Ss=1 Se=63 Ah=2 Al=1   AC refinement (correction bits)
#   5. Ss=1 Se=63 Ah=1 Al=0   AC refinement
#   6. Ss=0 Se=0  Ah=1 Al=0   DC refinement (raw bits)
#
# Point transforms per G.1.2.1: DC uses an ARITHMETIC shift (Python's >>
# on negatives is the same floor shift C uses), AC uses a SIGN-MAGNITUDE
# shift (sign * (|v| >> Al)).  COLOR uses libjpeg's default ten-scan
# YCbCr progression (_PROGRESSIVE_COLOR_PLAN below): the DC scans are
# INTERLEAVED (MCU order, per-component predictors, separate luma/chroma
# tables), the AC scans per-component in the component's own block-grid
# raster. Restart markers inside progressive scans raise ValueError.

_PROGRESSIVE_PLAN = (
    (0, 0, 0, 1),
    (1, 5, 0, 2),
    (6, 63, 0, 2),
    (1, 63, 2, 1),
    (1, 63, 1, 0),
    (0, 0, 1, 0),
)


class _SymCounter:
    """First-pass sink: count huffman symbol frequencies (raw bits are
    free — only coded symbols need a table)."""

    def __init__(self):
        self.freq: dict[int, int] = {}

    def sym(self, s: int) -> None:
        self.freq[s] = self.freq.get(s, 0) + 1

    def bits(self, v: int, n: int) -> None:
        pass


class _CodeSink:
    """Second-pass sink: emit symbols through a concrete code table."""

    def __init__(self, codes: dict[int, tuple[int, int]]):
        self.bw = _BitWriter()
        self.codes = codes

    def sym(self, s: int) -> None:
        code, ln = self.codes[s]
        self.bw.put(code, ln)

    def bits(self, v: int, n: int) -> None:
        if n:
            self.bw.put(v, n)


def _optimal_table(freq: dict[int, int]) -> tuple[list[int], list[int]]:
    """Optimal huffman code lengths for the observed symbol frequencies
    (T.81 Annex K.2 flow: pairwise merge with a reserved 257th codepoint
    so the all-ones code is never assigned, then fold lengths > 16 back).
    Returns (BITS[16], HUFFVAL) ready for a DHT segment. Progressive
    scans REQUIRE custom tables — the Annex-K baseline tables carry no
    EOBn (n > 0) symbols — which is why libjpeg forces optimal-table
    generation in progressive mode; same here."""
    f = [0] * 257
    for s, n in freq.items():
        f[s] = n
    f[256] = 1  # reserved: guarantees the all-1s code stays unused
    codesize = [0] * 257
    others = [-1] * 257
    while True:
        c1 = -1
        v = None
        for i in range(257):
            if f[i] and (v is None or f[i] <= v):
                v = f[i]
                c1 = i  # ties: largest symbol value wins (K.2 order)
        c2 = -1
        v = None
        for i in range(257):
            if f[i] and i != c1 and (v is None or f[i] <= v):
                v = f[i]
                c2 = i
        if c2 < 0:
            break
        f[c1] += f[c2]
        f[c2] = 0
        codesize[c1] += 1
        while others[c1] >= 0:
            c1 = others[c1]
            codesize[c1] += 1
        others[c1] = c2
        codesize[c2] += 1
        while others[c2] >= 0:
            c2 = others[c2]
            codesize[c2] += 1
    bits = [0] * 33
    for i in range(257):
        if codesize[i]:
            bits[codesize[i]] += 1
    for i in range(32, 16, -1):  # K.2 Figure K.3: cap lengths at 16
        while bits[i] > 0:
            j = i - 2
            while bits[j] == 0:
                j -= 1
            bits[i] -= 2
            bits[i - 1] += 1
            bits[j + 1] += 2
            bits[j] -= 1
    i = 16
    while bits[i] == 0:
        i -= 1
    bits[i] -= 1  # drop the reserved codepoint
    huffval = [
        s
        for _, s in sorted(
            (codesize[s], s) for s in range(256) if codesize[s]
        )
    ]
    return bits[1:17], huffval


def _enc_dc_first(blocks, al: int, sink) -> None:
    prev = 0
    for zz in blocks:
        v = zz[0] >> al  # arithmetic shift per G.1.2.1
        diff = v - prev
        prev = v
        t = _category(diff)
        sink.sym(t)
        sink.bits(diff if diff >= 0 else diff + (1 << t) - 1, t)


def _enc_dc_refine(blocks, al: int) -> bytes:
    bw = _BitWriter()
    for zz in blocks:
        bw.put((zz[0] >> al) & 1, 1)
    return bw.flush()


def _emit_eobrun(sink, eobrun: int, pending: list[int]) -> int:
    """Flush a pending end-of-band run + its buffered correction bits
    (G.1.2.2: EOBn symbol = (log2(run) << 4), then log2(run) extra bits)."""
    if eobrun > 0:
        t = eobrun.bit_length() - 1
        sink.sym(t << 4)
        sink.bits(eobrun - (1 << t), t)
        for b in pending:
            sink.bits(b, 1)
        pending.clear()
    return 0


def _enc_ac_first(blocks, ss: int, se: int, al: int, sink) -> None:
    eobrun = 0
    for zz in blocks:
        # sign-magnitude point transform of the band (G.1.2.1)
        vals = [
            (1 if zz[k] >= 0 else -1) * (abs(zz[k]) >> al)
            for k in range(ss, se + 1)
        ]
        last_nz = max((i for i, v in enumerate(vals) if v), default=-1)
        if last_nz < 0:
            eobrun += 1
            if eobrun == 0x7FFF:
                eobrun = _emit_eobrun(sink, eobrun, [])
            continue
        eobrun = _emit_eobrun(sink, eobrun, [])
        run = 0
        for i in range(last_nz + 1):
            v = vals[i]
            if v == 0:
                run += 1
                continue
            while run >= 16:
                sink.sym(0xF0)
                run -= 16
            t = _category(v)
            sink.sym((run << 4) | t)
            sink.bits(v if v >= 0 else v + (1 << t) - 1, t)
            run = 0
        if last_nz < se - ss:
            eobrun += 1
    _emit_eobrun(sink, eobrun, [])


def _enc_ac_refine(blocks, ss: int, se: int, al: int, sink) -> None:
    """G.1.2.3 AC successive-approximation refinement: newly-nonzero
    coefficients are coded (r << 4 | 1) + sign bit over ZERO-HISTORY run
    lengths; already-nonzero coefficients contribute one correction bit
    each, buffered until the next coded symbol (or the EOB-run flush)."""
    eobrun = 0
    pending: list[int] = []  # correction bits riding the pending EOB run
    for zz in blocks:
        absval = [abs(zz[k]) >> al for k in range(ss, se + 1)]
        eob = max((i for i, a in enumerate(absval) if a == 1), default=-1)
        run = 0
        block_bits: list[int] = []  # correction bits since last symbol
        for i, a in enumerate(absval):
            if a == 0:
                run += 1
                continue
            while run > 15 and i <= eob:
                eobrun = _emit_eobrun(sink, eobrun, pending)
                sink.sym(0xF0)
                run -= 16
                for b in block_bits:
                    sink.bits(b, 1)
                block_bits = []
            if a > 1:
                block_bits.append(a & 1)  # history coefficient: correction
                continue
            # newly nonzero (shifted magnitude exactly 1)
            eobrun = _emit_eobrun(sink, eobrun, pending)
            sink.sym((run << 4) | 1)
            sink.bits(1 if zz[ss + i] >= 0 else 0, 1)
            for b in block_bits:
                sink.bits(b, 1)
            block_bits = []
            run = 0
        if run > 0 or block_bits:
            eobrun += 1
            pending.extend(block_bits)
            if eobrun == 0x7FFF or len(pending) > 900:
                eobrun = _emit_eobrun(sink, eobrun, pending)
    _emit_eobrun(sink, eobrun, pending)


def encode_gray8_progressive(
    pixels: bytes, width: int, height: int, q: int = DEFAULT_Q
) -> bytes:
    """Encode 8-bit grayscale pixels as a real PROGRESSIVE (SOF2) JFIF
    JPEG using the classic six-scan spectral-selection + successive-
    approximation plan (see module constants), with a per-scan OPTIMAL
    huffman table (two passes: count symbols, build the Annex-K.2 code,
    emit DHT + scan — progressive demands this, since the baseline
    Annex-K tables have no EOBn symbols). Coefficients are the same
    FDCT/quantize output as the baseline encoder, so a progressive decode
    reproduces the baseline decode bit for bit — the property the
    hash-checked query and the round-trip pytests both lean on."""
    if len(pixels) != width * height or width == 0 or height == 0:
        raise ValueError("pixels length != width*height (or empty image)")
    if not 1 <= q <= 255:
        raise ValueError("flat quant value must fit one byte")
    blocks = []
    for by in range(0, height, 8):
        for bx in range(0, width, 8):
            block = [
                pixels[min(by + yy, height - 1) * width + min(bx + xx, width - 1)]
                for yy in range(8)
                for xx in range(8)
            ]
            blocks.append(_fdct_quant(block, q))
    out = bytearray()
    out += b"\xff\xd8"
    out += _seg(0xE0, _JFIF_APP0)
    out += _seg(0xDB, bytes([0x00]) + bytes([q] * 64))
    out += _seg(0xC2, struct.pack(">BHHB", 8, height, width, 1) + bytes([1, 0x11, 0]))
    for ss, se, ah, al in _PROGRESSIVE_PLAN:
        if ss == 0 and ah != 0:  # DC refinement: raw bits, no table
            out += _seg(0xDA, bytes([1, 1, 0x00, ss, se, (ah << 4) | al]))
            out += _enc_dc_refine(blocks, al)
            continue
        enc = (
            _enc_dc_first
            if ss == 0
            else (_enc_ac_first if ah == 0 else _enc_ac_refine)
        )
        args = (blocks, al) if ss == 0 else (blocks, ss, se, al)
        counter = _SymCounter()
        enc(*args, counter)
        bits, huffval = _optimal_table(counter.freq)
        tc = 0 if ss == 0 else 1
        out += _seg(
            0xC4, bytes([tc << 4]) + bytes(bits) + bytes(huffval)
        )
        sink = _CodeSink(_build_codes(bits, huffval))
        enc(*args, sink)
        out += _seg(0xDA, bytes([1, 1, 0x00, ss, se, (ah << 4) | al]))
        out += sink.bw.flush()
    out += b"\xff\xd9"
    return bytes(out)


#: libjpeg's default YCbCr progression (jcparam.c): interleaved DC
#: first, per-component AC first scans (Y split into two bands), then
#: refinements — DC refine interleaved, AC refine per component.
_PROGRESSIVE_COLOR_PLAN = (
    ("dc_first", None, 0, 0, 0, 1),
    ("ac_first", 0, 1, 5, 0, 2),
    ("ac_first", 1, 1, 63, 0, 1),
    ("ac_first", 2, 1, 63, 0, 1),
    ("ac_first", 0, 6, 63, 0, 2),
    ("ac_refine", 0, 1, 63, 2, 1),
    ("dc_refine", None, 0, 0, 1, 0),
    ("ac_refine", 1, 1, 63, 1, 0),
    ("ac_refine", 2, 1, 63, 1, 0),
    ("ac_refine", 0, 1, 63, 1, 0),
)


def _enc_dc_first_interleaved(order, al: int, sym, bit) -> None:
    """Interleaved progressive DC scan: MCU order, per-COMPONENT DC
    predictors, per-TABLE huffman symbols (Y → table 0, chroma → 1)."""
    prev: dict[int, int] = {}
    for ci, tbl, zz in order:
        v = zz[0] >> al  # arithmetic shift per G.1.2.1
        diff = v - prev.get(ci, 0)
        prev[ci] = v
        t = _category(diff)
        sym(tbl, t)
        bit(diff if diff >= 0 else diff + (1 << t) - 1, t)


def encode_rgb_progressive(
    rgb: bytes, width: int, height: int, q: int = DEFAULT_Q
) -> bytes:
    """Encode interleaved RGB8 pixels as a real PROGRESSIVE (SOF2) YCbCr
    4:2:0 JFIF JPEG using libjpeg's default ten-scan color progression:
    one INTERLEAVED DC-first scan (MCU order, per-component predictors,
    separate optimal huffman tables for luma and chroma), per-component
    AC-first scans with EOB runs, AC refinements, and an interleaved
    raw-bit DC refinement. Same FDCT/quantize output as
    :func:`encode_rgb_jpeg`, so the progressive decode reproduces the
    baseline decode bit for bit. AC scans walk each component's OWN
    block grid (T.81 G.1.1 non-interleaved order); the MCU-padding
    blocks only the interleaved DC scan covers carry DC-only data, whose
    pixels fall outside the declared geometry on decode."""
    yp, pw, ph, cbs, crs, cw, chh = _rgb_planes_420(rgb, width, height, q)
    mx, my = pw // 16, ph // 16
    yblocks = [
        _fdct_quant(_plane_block(yp, pw, bx, by), q)
        for by in range(2 * my)
        for bx in range(2 * mx)
    ]
    cbblocks = [
        _fdct_quant(_plane_block(cbs, cw, bx, by), q)
        for by in range(my)
        for bx in range(mx)
    ]
    crblocks = [
        _fdct_quant(_plane_block(crs, cw, bx, by), q)
        for by in range(my)
        for bx in range(mx)
    ]
    # component-raster grids for the non-interleaved AC scans: Y uses the
    # ceil(width/8) x ceil(height/8) subset of its MCU coverage; 4:2:0
    # chroma grids coincide with their MCU coverage (ceil(ceil(w/2)/8)
    # == ceil(w/16) == mx)
    ybw_c, ybh_c = (width + 7) // 8, (height + 7) // 8
    comp_grid = [
        [
            yblocks[by * 2 * mx + bx]
            for by in range(ybh_c)
            for bx in range(ybw_c)
        ],
        cbblocks,
        crblocks,
    ]
    dc_order = []  # (comp_idx, table_idx, block) in MCU order
    for myi in range(my):
        for mxi in range(mx):
            for vy in range(2):
                for vx in range(2):
                    dc_order.append(
                        (0, 0, yblocks[(2 * myi + vy) * 2 * mx + (2 * mxi + vx)])
                    )
            dc_order.append((1, 1, cbblocks[myi * mx + mxi]))
            dc_order.append((2, 1, crblocks[myi * mx + mxi]))

    out = bytearray()
    out += b"\xff\xd8"
    out += _seg(0xE0, _JFIF_APP0)
    out += _seg(0xDB, bytes([0x00]) + bytes([q] * 64))
    out += _seg(
        0xC2,
        struct.pack(">BHHB", 8, height, width, 3)
        + bytes([1, 0x22, 0, 2, 0x11, 0, 3, 0x11, 0]),
    )
    for kind, ci, ss, se, ah, al in _PROGRESSIVE_COLOR_PLAN:
        if kind == "dc_refine":  # interleaved raw bits, no table
            bw = _BitWriter()
            for _ci, _tbl, zz in dc_order:
                bw.put((zz[0] >> al) & 1, 1)
            out += _seg(
                0xDA,
                bytes([3, 1, 0x00, 2, 0x10, 3, 0x10, ss, se, (ah << 4) | al]),
            )
            out += bw.flush()
            continue
        if kind == "dc_first":
            freqs: dict[int, dict[int, int]] = {0: {}, 1: {}}
            _enc_dc_first_interleaved(
                dc_order,
                al,
                lambda tbl, s: freqs[tbl].__setitem__(
                    s, freqs[tbl].get(s, 0) + 1
                ),
                lambda v, n: None,
            )
            dht = b""
            codes = {}
            for tbl in (0, 1):
                bits, huffval = _optimal_table(freqs[tbl])
                dht += bytes([tbl]) + bytes(bits) + bytes(huffval)
                codes[tbl] = _build_codes(bits, huffval)
            out += _seg(0xC4, dht)
            bw = _BitWriter()
            _enc_dc_first_interleaved(
                dc_order,
                al,
                lambda tbl, s: bw.put(*codes[tbl][s]),
                lambda v, n: bw.put(v, n) if n else None,
            )
            out += _seg(
                0xDA,
                bytes([3, 1, 0x00, 2, 0x10, 3, 0x10, ss, se, (ah << 4) | al]),
            )
            out += bw.flush()
            continue
        enc = _enc_ac_first if kind == "ac_first" else _enc_ac_refine
        counter = _SymCounter()
        enc(comp_grid[ci], ss, se, al, counter)
        bits, huffval = _optimal_table(counter.freq)
        out += _seg(0xC4, bytes([0x10]) + bytes(bits) + bytes(huffval))
        sink = _CodeSink(_build_codes(bits, huffval))
        enc(comp_grid[ci], ss, se, al, sink)
        out += _seg(0xDA, bytes([1, ci + 1, 0x00, ss, se, (ah << 4) | al]))
        out += sink.bw.flush()
    out += b"\xff\xd9"
    return bytes(out)


def _entropy_extent(payload: bytes, start: int) -> int:
    """End offset of an entropy-coded segment: the first 0xFF followed by
    anything other than a stuffed 0x00 or an RSTm marker."""
    pos = start
    n = len(payload)
    while pos < n:
        if payload[pos] == 0xFF and pos + 1 < n:
            nxt = payload[pos + 1]
            if nxt != 0x00 and not 0xD0 <= nxt <= 0xD7:
                return pos
            pos += 2
            continue
        pos += 1
    raise ValueError("truncated progressive scan (no trailing marker)")


def _parse_progressive(payload: bytes):
    """Marker walk of a progressive JPEG → (width, height, comps, qtables,
    scans). Tables may be (re)defined between scans, so each scan carries
    its own huffman-table snapshot: scans are (scan_comps, Ss, Se, Ah, Al,
    dc_tables, ac_tables, data)."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    qtables: dict[int, list[int]] = {}
    dc_tables: dict[int, dict] = {}
    ac_tables: dict[int, dict] = {}
    width = height = None
    comps: list[tuple[int, int, int, int]] = []
    scans = []
    while pos < len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("marker sync lost")
        marker = payload[pos + 1]
        if marker == 0xD9:
            break
        if pos + 4 > len(payload):
            raise ValueError("truncated JPEG (marker walk ran off the end)")
        (seglen,) = struct.unpack(">H", payload[pos + 2 : pos + 4])
        if pos + 2 + seglen > len(payload):
            raise ValueError("truncated JPEG segment")
        body = payload[pos + 4 : pos + 2 + seglen]
        if marker == 0xDB:
            at = 0
            while at < len(body):
                pq, tq = body[at] >> 4, body[at] & 0x0F
                if pq == 0:  # 8-bit entries
                    qtables[tq] = list(body[at + 1 : at + 65])
                    at += 65
                elif pq == 1:  # 16-bit big-endian entries (B.4.1; what
                    # high-quality encoders emit for 12-bit-sample work —
                    # legal for 8-bit scans too, so accept them)
                    qtables[tq] = [
                        (body[at + 1 + 2 * i] << 8) | body[at + 2 + 2 * i]
                        for i in range(64)
                    ]
                    at += 129
                else:
                    raise ValueError("invalid DQT precision")
        elif marker == 0xC2:
            precision, height, width, ncomp = struct.unpack(">BHHB", body[:6])
            if precision != 8:
                raise ValueError("only 8-bit precision supported")
            if len(body) < 6 + 3 * ncomp:
                raise ValueError("truncated SOF segment")
            comps = []
            for c in range(ncomp):
                cid, hv, tq = body[6 + 3 * c : 9 + 3 * c]
                comps.append((cid, hv >> 4, hv & 0x0F, tq))
        elif marker == 0xC4:
            at = 0
            while at < len(body):
                tc, th = body[at] >> 4, body[at] & 0x0F
                bits = list(body[at + 1 : at + 17])
                n = sum(bits)
                vals = list(body[at + 17 : at + 17 + n])
                (dc_tables if tc == 0 else ac_tables)[th] = _build_decode(bits, vals)
                at += 17 + n
        elif marker == 0xDD:
            (dri,) = struct.unpack(">H", body[:2])
            if dri:
                raise ValueError(
                    "restart markers inside progressive scans unsupported"
                )
        elif marker == 0xDA:
            ns = body[0]
            scan_comps = [
                (body[1 + 2 * c], body[2 + 2 * c] >> 4, body[2 + 2 * c] & 0x0F)
                for c in range(ns)
            ]
            ss, se, ahal = body[1 + 2 * ns : 4 + 2 * ns]
            data_start = pos + 2 + seglen
            data_end = _entropy_extent(payload, data_start)
            scans.append(
                (
                    scan_comps, ss, se, ahal >> 4, ahal & 0x0F,
                    dict(dc_tables), dict(ac_tables),
                    payload[data_start:data_end],
                )
            )
            pos = data_end
            continue
        pos += 2 + seglen
    if width is None or not scans:
        raise ValueError("missing SOF2/SOS")
    return width, height, comps, qtables, scans


def _decode_progressive_planes(payload: bytes):
    """Multi-scan PROGRESSIVE (SOF2) decode → per-component planes, the
    same return shape as :func:`_decode_planes`.

    Coefficient state accumulates across scans: DC first/refinement
    scans may be INTERLEAVED (MCU order with per-component sampling
    factors and DC predictors); AC scans are single-component per T.81
    G.1.1 and walk the component's OWN block grid (ceil of the scaled
    dimensions — the MCU-padding blocks covered by interleaved DC scans
    are never AC-coded, exactly as the spec orders them). One
    dequantize + IDCT pass at the end, identical to baseline."""
    width, height, comps, qtables, scans = _parse_progressive(payload)
    hmax = max(h for _, h, _, _ in comps)
    vmax = max(v for _, _, v, _ in comps)
    if hmax < 1 or vmax < 1:
        raise ValueError("invalid sampling factors")
    mx = (width + 8 * hmax - 1) // (8 * hmax)
    my = (height + 8 * vmax - 1) // (8 * vmax)
    info: dict[int, tuple[int, int, int, int, int, int, int]] = {}
    coefs: dict[int, list[list[int]]] = {}
    for cid, h, v, tq in comps:
        bw_full, bh_full = mx * h, my * v
        comp_w = -(-width * h // hmax)  # ceil-scaled component dims
        comp_h = -(-height * v // vmax)
        bw_comp, bh_comp = (comp_w + 7) // 8, (comp_h + 7) // 8
        info[cid] = (h, v, tq, bw_full, bh_full, bw_comp, bh_comp)
        coefs[cid] = [[0] * 64 for _ in range(bw_full * bh_full)]
    for scan_comps, ss, se, ah, al, dc_t, ac_t, data in scans:
        for cid, _td, _ta in scan_comps:
            if cid not in info:
                raise ValueError("scan component not in frame")
        br = _BitReader(data)
        if ss == 0:  # DC scan (first or refinement), possibly interleaved
            if se != 0:
                raise ValueError("DC scan with Se != 0")
            order: list[tuple[int, list[int]]] = []
            if len(scan_comps) > 1:
                for myi in range(my):
                    for mxi in range(mx):
                        for cid, _td, _ta in scan_comps:
                            h, v = info[cid][0], info[cid][1]
                            for vy in range(v):
                                for vx in range(h):
                                    order.append(
                                        (
                                            cid,
                                            coefs[cid][
                                                (myi * v + vy) * (mx * h)
                                                + (mxi * h + vx)
                                            ],
                                        )
                                    )
            else:
                cid = scan_comps[0][0]
                _h, _v, _tq, bw_full, _bh, bw_comp, bh_comp = info[cid]
                order = [
                    (cid, coefs[cid][byi * bw_full + bxi])
                    for byi in range(bh_comp)
                    for bxi in range(bw_comp)
                ]
            if ah == 0:  # DC first: huffman differentials, per-comp prev
                decs = {}
                for cid, td, _ta in scan_comps:
                    d = dc_t.get(td)
                    if d is None:
                        raise ValueError("missing DC huffman table")
                    decs[cid] = d
                prev = {cid: 0 for cid, *_ in scan_comps}
                for cid, zz in order:
                    t = br.huff(decs[cid])
                    diff = _extend(br.bits(t), t) if t else 0
                    prev[cid] += diff
                    zz[0] = prev[cid] << al
            else:  # DC refinement: one raw bit per block
                for _cid, zz in order:
                    if br.bit():
                        zz[0] |= 1 << al
            continue
        if len(scan_comps) != 1:
            raise ValueError("interleaved AC scan is illegal in progressive")
        cid, _td, ta = scan_comps[0]
        _h, _v, _tq, bw_full, _bh, bw_comp, bh_comp = info[cid]
        dec = ac_t.get(ta)
        if dec is None:
            raise ValueError("missing AC huffman table")
        blocks = [
            coefs[cid][byi * bw_full + bxi]
            for byi in range(bh_comp)
            for bxi in range(bw_comp)
        ]
        if ah == 0:  # AC first
            eobrun = 0
            for zz in blocks:
                if eobrun > 0:
                    eobrun -= 1
                    continue
                k = ss
                while k <= se:
                    rs = br.huff(dec)
                    r, s = rs >> 4, rs & 0x0F
                    if s == 0:
                        if r == 15:
                            k += 16  # ZRL
                            continue
                        eobrun = (1 << r) - 1
                        if r:
                            eobrun += br.bits(r)
                        break
                    k += r
                    if k > se:
                        raise ValueError("AC band overrun")
                    zz[k] = _extend(br.bits(s), s) << al
                    k += 1
        else:  # AC refinement
            p1, m1 = 1 << al, -1 << al
            eobrun = 0
            for zz in blocks:
                k = ss
                if eobrun == 0:
                    while k <= se:
                        rs = br.huff(dec)
                        r, s = rs >> 4, rs & 0x0F
                        newval = 0
                        if s == 0:
                            if r < 15:
                                # counts THIS block too: the remainder
                                # loop below still owes correction bits
                                # for its nonzero tail (G.1.2.3)
                                eobrun = 1 << r
                                if r:
                                    eobrun += br.bits(r)
                                break
                            # r == 15: ZRL over 16 zero-history slots
                        elif s == 1:
                            newval = p1 if br.bit() else m1
                        else:
                            raise ValueError("bad AC refinement symbol")
                        while k <= se:
                            if zz[k] != 0:
                                if br.bit() and (zz[k] & p1) == 0:
                                    zz[k] += p1 if zz[k] >= 0 else m1
                            else:
                                if r == 0:
                                    break
                                r -= 1
                            k += 1
                        if newval and k <= se:
                            zz[k] = newval
                        k += 1
                if eobrun > 0:
                    # correction bits for the remainder of this block,
                    # then the run covers it
                    while k <= se:
                        if zz[k] != 0 and br.bit() and (zz[k] & p1) == 0:
                            zz[k] += p1 if zz[k] >= 0 else m1
                        k += 1
                    eobrun -= 1
    planes: dict[int, bytearray] = {}
    for cid, h, v, tq in comps:
        q = qtables.get(tq)
        if q is None or len(q) != 64:
            raise ValueError("missing quant table")
        bw_full = mx * h
        pw = bw_full * 8
        plane = bytearray(pw * my * v * 8)
        for bi, zz in enumerate(coefs[cid]):
            block = _idct(zz, q)
            bxi, byi = bi % bw_full, bi // bw_full
            for yy in range(8):
                row = (byi * 8 + yy) * pw + bxi * 8
                plane[row : row + 8] = bytes(block[yy * 8 : yy * 8 + 8])
        planes[cid] = plane
    return width, height, comps, planes, (mx, my, hmax, vmax)


def decode_gray8_progressive(payload: bytes) -> tuple[int, int, bytes]:
    """Decode a single-component PROGRESSIVE (SOF2) JPEG → (w, h, pixels).

    Thin wrapper over :func:`_decode_progressive_planes` (which also
    serves progressive COLOR through :func:`decode_rgb_jpeg`)."""
    width, height, comps, planes, (mx, _my, _hm, _vm) = (
        _decode_progressive_planes(payload)
    )
    if len(comps) != 1:
        raise ValueError(
            "multi-component progressive goes through decode_rgb_jpeg"
        )
    cid, h, v, _tq = comps[0]
    if (h, v) != (1, 1):
        raise ValueError("subsampled grayscale is malformed")
    pw = mx * 8
    out = bytearray(width * height)
    for y in range(height):
        out[y * width : (y + 1) * width] = planes[cid][y * pw : y * pw + width]
    return width, height, bytes(out)


def sof_marker(payload: bytes) -> int:
    """First SOFn marker byte in the stream (0xC0 baseline, 0xC2
    progressive, ...) — a cheap dispatch probe that stops before any
    entropy-coded data."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("marker sync lost")
        marker = payload[pos + 1]
        if marker in (
            0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
        ):
            return marker
        if marker == 0xD9 or marker == 0xDA:
            break
        (seglen,) = struct.unpack(">H", payload[pos + 2 : pos + 4])
        pos += 2 + seglen
    raise ValueError("no SOF marker before SOS/EOI")
