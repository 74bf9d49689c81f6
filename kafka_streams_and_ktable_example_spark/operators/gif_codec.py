"""Minimal real GIF codec — pure stdlib, no PIL required.

Implements the public GIF89a specification: header + logical screen
descriptor, global color table, graphic-control extensions (frame
delays), image descriptors with the optional 4-pass GIF row interlace,
and REAL LZW entropy coding — variable-width codes (min-code-size+1 up
to 12 bits), clear/end-of-information codes, the early-change width
growth convention giflib/PIL use, dictionary reset at 4096 entries, the
KwKwK special case, and little-endian bit packing split into <=255-byte
sub-blocks. The encoder is the mirror image, so round trips exercise
every decode path with zero fixture bytes checked in.

Scope (asserted, not assumed): global color table only (no per-frame
local tables), no transparency compositing or disposal blending — each
frame is decoded standalone at full logical-screen size, which is what
the synthetic fixtures emit; payloads outside the subset raise
ValueError, and no other decoder takes over
(operators/multimodal.py::decode_image_bytes uses these codecs only).

Determinism note for oracles: GIF is LOSSLESS, so hash-checked queries
need no quantization closed form at all — the oracle recomputes the
index pattern and maps it through the same deterministic palette
(entry i = ((3i)%256, (5i)%256, (7i)%256) in the fixtures).

Reference parity: the reference engine has no media path (it treats
payloads as opaque bytes end-to-end); this module is part of the
LLM-data-pipeline extension surface (SURVEY.md §2 Table B, multimodal).
"""

from __future__ import annotations

import struct

#: GIF 4-pass row interlace (spec appendix E): (start row, step)
_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


class _LsbBitWriter:
    """LZW code stream packing: codes fill bytes least-significant-bit
    first (the opposite bit order of the PNG/JPEG writers)."""

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, code: int, width: int) -> None:
        self.acc |= (code & ((1 << width) - 1)) << self.n
        self.n += width
        while self.n >= 8:
            self.out.append(self.acc & 0xFF)
            self.acc >>= 8
            self.n -= 8

    def flush(self) -> bytes:
        if self.n:
            self.out.append(self.acc & 0xFF)
            self.acc = 0
            self.n = 0
        return bytes(self.out)


class _LsbBitReader:
    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.acc = 0
        self.n = 0

    def get(self, width: int) -> int:
        while self.n < width:
            if self.pos >= len(self.data):
                raise ValueError("truncated LZW code stream")
            self.acc |= self.data[self.pos] << self.n
            self.pos += 1
            self.n += 8
        v = self.acc & ((1 << width) - 1)
        self.acc >>= width
        self.n -= width
        return v


def lzw_encode(indices: bytes, min_code_size: int) -> bytes:
    """GIF-variant LZW: variable code width starting at min_code_size+1,
    CLEAR emitted first, dictionary reset via CLEAR at 4096 entries,
    early-change width growth, EOI terminator."""
    if not 2 <= min_code_size <= 8:
        raise ValueError("min code size must be 2..8")
    clear = 1 << min_code_size
    eoi = clear + 1
    bw = _LsbBitWriter()
    width = min_code_size + 1
    table: dict[bytes, int] = {bytes([i]): i for i in range(clear)}
    next_code = eoi + 1
    bw.put(clear, width)
    w = b""
    for b in indices:
        wk = w + bytes([b])
        if wk in table:
            w = wk
            continue
        bw.put(table[w], width)
        if next_code < 4096:
            table[wk] = next_code
            next_code += 1
            if next_code == (1 << width) + 1 and width < 12:
                width += 1
        else:
            bw.put(clear, width)
            table = {bytes([i]): i for i in range(clear)}
            next_code = eoi + 1
            width = min_code_size + 1
        w = bytes([b])
    if w:
        bw.put(table[w], width)
    bw.put(eoi, width)
    return bw.flush()


def lzw_decode(data: bytes, min_code_size: int, expect: int) -> bytes:
    """Decode a GIF LZW code stream to exactly ``expect`` index bytes.
    Handles CLEAR/EOI, the KwKwK just-defined-code case, the 4096-entry
    dictionary cap, and early-change width growth."""
    if not 2 <= min_code_size <= 8:
        raise ValueError("min code size must be 2..8")
    clear = 1 << min_code_size
    eoi = clear + 1
    br = _LsbBitReader(data)
    width = min_code_size + 1
    table: list[bytes] = [bytes([i]) for i in range(clear)] + [b"", b""]
    out = bytearray()
    prev: int | None = None
    while True:
        if len(out) == expect and br.n + 8 * (len(br.data) - br.pos) < width:
            # All declared pixels decoded and no full code remains: wild
            # encoders (e.g. the canonical 43-byte 1x1 GIF) omit the EOI
            # code and rely on the sub-block terminator alone — accept.
            break
        code = br.get(width)
        if code == clear:
            table = [bytes([i]) for i in range(clear)] + [b"", b""]
            width = min_code_size + 1
            prev = None
            continue
        if code == eoi:
            break
        if prev is None:
            if code >= len(table):
                raise ValueError("LZW literal out of range after clear")
            out += table[code]
            prev = code
            continue
        if code < len(table):
            entry = table[code]
        elif code == len(table):
            entry = table[prev] + table[prev][:1]  # KwKwK
        else:
            raise ValueError("LZW code out of range")
        out += entry
        if len(table) < 4096:
            table.append(table[prev] + entry[:1])
            if len(table) == (1 << width) and width < 12:
                width += 1
        prev = code
        if len(out) > expect:
            raise ValueError("LZW output exceeds declared frame size")
    if len(out) != expect:
        raise ValueError("LZW output shorter than declared frame size")
    return bytes(out)


def _sub_blocks(data: bytes) -> bytes:
    """Split into <=255-byte length-prefixed sub-blocks + terminator."""
    out = bytearray()
    for at in range(0, len(data), 255):
        chunk = data[at : at + 255]
        out.append(len(chunk))
        out += chunk
    out.append(0)
    return bytes(out)


def _read_sub_blocks(payload: bytes, pos: int) -> tuple[bytes, int]:
    out = bytearray()
    while True:
        if pos >= len(payload):
            raise ValueError("truncated sub-block chain")
        n = payload[pos]
        pos += 1
        if n == 0:
            return bytes(out), pos
        if pos + n > len(payload):
            raise ValueError("truncated sub-block")
        out += payload[pos : pos + n]
        pos += n


def _interlace_rows(height: int) -> list[int]:
    rows = []
    for start, step in _INTERLACE_PASSES:
        rows.extend(range(start, height, step))
    return rows


def encode_gif(
    frames: list[bytes],
    width: int,
    height: int,
    palette: list[tuple[int, int, int]],
    delay_cs: int = 10,
    interlace_first: bool = False,
) -> bytes:
    """Encode full-size index frames as a real (possibly animated) GIF89a:
    global color table padded to a power of two, one graphic-control
    extension (frame delay in centiseconds) + image descriptor + LZW
    stream per frame; ``interlace_first`` stores frame 0 in the 4-pass
    GIF row interlace so the decoder's de-interlace path is exercised."""
    if not 1 <= len(palette) <= 256:
        raise ValueError("palette must have 1..256 entries")
    if not frames:
        raise ValueError("need at least one frame")
    bits = max(2, (len(palette) - 1).bit_length())  # GCT size >= 4 entries
    n_entries = 1 << bits
    for f in frames:
        if len(f) != width * height:
            raise ValueError("frame length != width*height")
        if f and max(f) >= len(palette):
            raise ValueError("palette index out of range")
    out = bytearray()
    out += b"GIF89a"
    out += struct.pack("<HH", width, height)
    out.append(0x80 | ((bits - 1) & 0x07))  # GCT present, 2^bits entries
    out.append(0)  # background color index
    out.append(0)  # pixel aspect ratio
    for i in range(n_entries):
        r, g, b = palette[i] if i < len(palette) else (0, 0, 0)
        out += bytes([r & 0xFF, g & 0xFF, b & 0xFF])
    mcs = max(2, bits)
    for fi, f in enumerate(frames):
        out += b"\x21\xf9\x04"  # GCE: extension + label + block size
        out.append(0)  # no disposal/transparency
        out += struct.pack("<H", delay_cs)
        out += b"\x00\x00"  # transparent index unused + terminator
        out.append(0x2C)  # image descriptor
        ilace = interlace_first and fi == 0
        out += struct.pack("<HHHH", 0, 0, width, height)
        out.append(0x40 if ilace else 0x00)  # no local table
        data = f
        if ilace:
            reordered = bytearray()
            for y in _interlace_rows(height):
                reordered += f[y * width : (y + 1) * width]
            data = bytes(reordered)
        out.append(mcs)
        out += _sub_blocks(lzw_encode(data, mcs))
    out.append(0x3B)  # trailer
    return bytes(out)


def decode_gif(payload: bytes):
    """Decode a GIF87a/89a → (width, height, frames, palette, delay_cs)
    where ``frames`` are full-size index-byte strings (de-interlaced) and
    ``palette`` is the global color table as (r, g, b) tuples. Raises
    ValueError outside the supported subset (local color tables,
    frames smaller than the logical screen)."""
    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF (bad signature)")
    if len(payload) < 13:
        raise ValueError("truncated GIF header")
    width, height = struct.unpack("<HH", payload[6:10])
    flags = payload[10]
    pos = 13
    palette: list[tuple[int, int, int]] = []
    if flags & 0x80:
        n_entries = 2 << (flags & 0x07)
        if pos + 3 * n_entries > len(payload):
            raise ValueError("truncated global color table")
        for i in range(n_entries):
            at = pos + 3 * i
            palette.append((payload[at], payload[at + 1], payload[at + 2]))
        pos += 3 * n_entries
    else:
        raise ValueError("GIF without a global color table unsupported")
    frames: list[bytes] = []
    delay_cs = 0
    saw_trailer = False
    while pos < len(payload):
        block = payload[pos]
        pos += 1
        if block == 0x3B:  # trailer
            saw_trailer = True
            break
        if block == 0x21:  # extension
            if pos >= len(payload):
                raise ValueError("truncated GIF extension")
            label = payload[pos]
            pos += 1
            if label == 0xF9:  # graphic control: read the frame delay
                if pos + 4 > len(payload):
                    raise ValueError("truncated graphic control extension")
                size = payload[pos]
                if size != 4:
                    raise ValueError("malformed graphic control extension")
                delay_cs = struct.unpack("<H", payload[pos + 2 : pos + 4])[0]
            _, pos = _read_sub_blocks(payload, pos)
            continue
        if block != 0x2C:
            raise ValueError(f"unknown GIF block 0x{block:02x}")
        if pos + 10 > len(payload):
            raise ValueError("truncated image descriptor")
        x0, y0, fw, fh = struct.unpack("<HHHH", payload[pos : pos + 8])
        iflags = payload[pos + 8]
        pos += 9
        if iflags & 0x80:
            raise ValueError("local color tables unsupported")
        if (x0, y0, fw, fh) != (0, 0, width, height):
            raise ValueError("sub-rectangle frames unsupported")
        mcs = payload[pos]
        pos += 1
        data, pos = _read_sub_blocks(payload, pos)
        idx = lzw_decode(data, mcs, fw * fh)
        if iflags & 0x40:  # de-interlace the 4-pass row order
            plain = bytearray(fw * fh)
            for src_i, y in enumerate(_interlace_rows(fh)):
                plain[y * fw : (y + 1) * fw] = idx[src_i * fw : (src_i + 1) * fw]
            idx = bytes(plain)
        frames.append(idx)
    if not saw_trailer:
        raise ValueError("truncated GIF: missing trailer")
    if not frames:
        raise ValueError("GIF carries no image data")
    return width, height, frames, palette, delay_cs


def gif_frames_rgb(payload: bytes):
    """Decode + palette-expand → (width, height, [frame RGB8 bytes],
    delay_cs) — the same interleaved-RGB contract the PNG/JPEG decoders
    share."""
    width, height, frames, palette, delay_cs = decode_gif(payload)
    n = len(palette)
    rgb_frames = []
    for f in frames:
        rgb = bytearray(len(f) * 3)
        for k, i in enumerate(f):
            if i >= n:
                raise ValueError("palette index out of range")
            rgb[3 * k : 3 * k + 3] = bytes(palette[i])
        rgb_frames.append(bytes(rgb))
    return width, height, rgb_frames, delay_cs
