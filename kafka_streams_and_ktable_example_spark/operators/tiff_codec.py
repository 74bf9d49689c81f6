"""Minimal real TIFF codec — pure stdlib, no PIL required.

Implements the public TIFF 6.0 baseline subset: the 8-byte header in
EITHER byte order ("II" little-endian and "MM" big-endian both encode
and decode), the IFD tag-directory walk (12-byte entries, inline vs
offset-stored values), multi-strip image data via RowsPerStrip /
StripOffsets / StripByteCounts, and REAL PackBits run-length compression
(compression tag 32773 — the Macintosh RLE every fax/scan pipeline
ships) next to uncompressed strips. Grayscale (Photometric 1,
SamplesPerPixel 1) and RGB (Photometric 2, SamplesPerPixel 3), 8-bit.
The encoder is the mirror image, so round trips exercise every decode
path with zero fixture bytes checked in.

Scope (asserted, not assumed): 8-bit samples, chunky planar config,
compression 1 (none) or 32773 (PackBits); anything else — tiles, LZW,
palette TIFFs, 16-bit — raises ValueError; no other decoder takes over
(operators/multimodal.py::decode_image_bytes uses these codecs only).

Determinism note for oracles: TIFF is LOSSLESS, so hash-checked queries
recompute pixels directly from the synthesis pattern — no quantization
closed form needed (same story as PNG/GIF).

Reference parity: the reference engine has no media path (it treats
payloads as opaque bytes end-to-end); this module is part of the
LLM-data-pipeline extension surface (SURVEY.md §2 Table B, multimodal).
"""

from __future__ import annotations

import struct

_TAG_WIDTH = 256
_TAG_HEIGHT = 257
_TAG_BITS = 258
_TAG_COMPRESSION = 259
_TAG_PHOTOMETRIC = 262
_TAG_STRIP_OFFSETS = 273
_TAG_SPP = 277
_TAG_ROWS_PER_STRIP = 278
_TAG_STRIP_COUNTS = 279

_COMP_NONE = 1
_COMP_PACKBITS = 32773


def packbits_encode(data: bytes) -> bytes:
    """PackBits RLE (TIFF 6.0 section 9): repeat runs of 2..128 become
    (257-n, byte); literal runs of 1..128 become (n-1, bytes)."""
    out = bytearray()
    i = 0
    n = len(data)
    while i < n:
        # find a repeat run
        j = i
        while j + 1 < n and data[j + 1] == data[i] and j - i < 127:
            j += 1
        run = j - i + 1
        if run >= 2:
            out.append(257 - run)
            out.append(data[i])
            i = j + 1
            continue
        # literal run: until the next >=2 repeat (or 128 bytes)
        j = i
        while (
            j + 1 < n
            and not (j + 2 < n and data[j + 1] == data[j + 2])
            and j - i < 127
        ):
            j += 1
        out.append(j - i)
        out += data[i : j + 1]
        i = j + 1
    return bytes(out)


def packbits_decode(data: bytes, expect: int) -> bytes:
    """Inverse of :func:`packbits_encode`; -128 control bytes are no-ops
    per spec. Raises on truncation or output-size mismatch."""
    out = bytearray()
    i = 0
    n = len(data)
    while i < n and len(out) < expect:
        c = data[i]
        i += 1
        if c == 128:  # no-op
            continue
        if c < 128:  # literal of c+1 bytes
            if i + c + 1 > n:
                raise ValueError("truncated PackBits literal")
            out += data[i : i + c + 1]
            i += c + 1
        else:  # repeat next byte 257-c times
            if i >= n:
                raise ValueError("truncated PackBits run")
            out += bytes([data[i]]) * (257 - c)
            i += 1
    if len(out) != expect:
        raise ValueError("PackBits output length != strip size")
    return bytes(out)


def encode_tiff(
    pixels: bytes,
    width: int,
    height: int,
    channels: int = 1,
    rows_per_strip: int = 0,
    packbits: bool = False,
    big_endian: bool = False,
) -> bytes:
    """Encode 8-bit pixels (gray or interleaved RGB) as a real baseline
    TIFF: header + strips + value area + IFD, multi-strip when
    ``rows_per_strip`` < height, PackBits-compressed strips on request,
    either byte order."""
    if channels not in (1, 3):
        raise ValueError("channels must be 1 (gray) or 3 (RGB)")
    if len(pixels) != width * height * channels or not width or not height:
        raise ValueError("pixels length != width*height*channels")
    rps = rows_per_strip if 0 < rows_per_strip <= height else height
    bo = ">" if big_endian else "<"
    stride = width * channels
    strips = []
    for y0 in range(0, height, rps):
        raw = pixels[y0 * stride : min(y0 + rps, height) * stride]
        strips.append(packbits_encode(raw) if packbits else raw)
    data_at = 8
    offsets = []
    at = data_at
    for s in strips:
        offsets.append(at)
        at += len(s)
    values_at = at  # external value area (arrays that don't fit inline)

    entries: list[tuple[int, int, int, bytes | int]] = []  # tag,type,count,val
    extra = bytearray()

    def long_arr(vals):
        nonlocal extra
        if len(vals) == 1:
            return vals[0]
        off = values_at + len(extra)
        extra += b"".join(struct.pack(bo + "I", v) for v in vals)
        return off

    entries.append((_TAG_WIDTH, 4, 1, width))
    entries.append((_TAG_HEIGHT, 4, 1, height))
    if channels == 3:
        off = values_at + len(extra)
        extra += struct.pack(bo + "HHH", 8, 8, 8)
        entries.append((_TAG_BITS, 3, 3, off))
    else:
        entries.append((_TAG_BITS, 3, 1, 8))
    entries.append(
        (_TAG_COMPRESSION, 3, 1, _COMP_PACKBITS if packbits else _COMP_NONE)
    )
    entries.append((_TAG_PHOTOMETRIC, 3, 1, 2 if channels == 3 else 1))
    entries.append((_TAG_STRIP_OFFSETS, 4, len(strips), long_arr(offsets)))
    entries.append((_TAG_SPP, 3, 1, channels))
    entries.append((_TAG_ROWS_PER_STRIP, 4, 1, rps))
    entries.append(
        (_TAG_STRIP_COUNTS, 4, len(strips), long_arr([len(s) for s in strips]))
    )

    ifd_at = values_at + len(extra)
    out = bytearray()
    out += (b"MM" if big_endian else b"II") + struct.pack(bo + "HI", 42, ifd_at)
    for s in strips:
        out += s
    out += extra
    out += struct.pack(bo + "H", len(entries))
    for tag, typ, count, val in sorted(entries):
        # inline SHORT values sit in the low bytes of the 4-byte field,
        # which is NOT the same packing in both byte orders — write the
        # value field as its own struct per type
        if typ == 3 and count == 1:
            field = struct.pack(bo + "HH", val, 0)
        else:
            field = struct.pack(bo + "I", val)
        out += struct.pack(bo + "HHI", tag, typ, count) + field
    out += struct.pack(bo + "I", 0)  # no next IFD
    return bytes(out)


def decode_tiff(payload: bytes) -> tuple[int, int, int, bytes]:
    """Decode a baseline TIFF → (width, height, channels, pixels).

    Real decode: byte-order detection, IFD walk with per-type value
    parsing (inline vs offset), strip concatenation with optional
    PackBits expansion. Raises ValueError outside the supported subset."""
    if len(payload) < 8:
        raise ValueError("truncated TIFF header")
    if payload[:2] == b"II":
        bo = "<"
    elif payload[:2] == b"MM":
        bo = ">"
    else:
        raise ValueError("not a TIFF (bad byte-order mark)")
    (magic, ifd_at) = struct.unpack(bo + "HI", payload[2:8])
    if magic != 42:
        raise ValueError("not a TIFF (bad magic)")
    if ifd_at + 2 > len(payload):
        raise ValueError("truncated TIFF (IFD offset out of range)")
    (n_entries,) = struct.unpack(bo + "H", payload[ifd_at : ifd_at + 2])
    tags: dict[int, list[int]] = {}
    type_size = {1: 1, 3: 2, 4: 4}
    type_fmt = {1: "B", 3: "H", 4: "I"}
    for e in range(n_entries):
        at = ifd_at + 2 + 12 * e
        if at + 12 > len(payload):
            raise ValueError("truncated IFD entry")
        tag, typ, count = struct.unpack(bo + "HHI", payload[at : at + 8])
        if typ not in type_size:
            continue  # RATIONAL etc. — not needed for the baseline subset
        total = type_size[typ] * count
        if total <= 4:
            raw = payload[at + 8 : at + 8 + total]
        else:
            (off,) = struct.unpack(bo + "I", payload[at + 8 : at + 12])
            if off + total > len(payload):
                raise ValueError("IFD value offset out of range")
            raw = payload[off : off + total]
        tags[tag] = list(
            struct.unpack(bo + str(count) + type_fmt[typ], raw)
        )

    def one(tag, default=None):
        if tag in tags:
            return tags[tag][0]
        if default is None:
            raise ValueError(f"missing required TIFF tag {tag}")
        return default

    width, height = one(_TAG_WIDTH), one(_TAG_HEIGHT)
    channels = one(_TAG_SPP, 1)
    comp = one(_TAG_COMPRESSION, _COMP_NONE)
    if comp not in (_COMP_NONE, _COMP_PACKBITS):
        raise ValueError("unsupported TIFF compression (none/PackBits only)")
    bits = tags.get(_TAG_BITS, [8])
    if any(b != 8 for b in bits) or channels not in (1, 3):
        raise ValueError("unsupported TIFF subset (8-bit gray/RGB only)")
    rps = one(_TAG_ROWS_PER_STRIP, height)
    offsets = tags.get(_TAG_STRIP_OFFSETS)
    counts = tags.get(_TAG_STRIP_COUNTS)
    if not offsets or not counts or len(offsets) != len(counts):
        raise ValueError("missing/mismatched strip tags")
    stride = width * channels
    out = bytearray()
    for i, (off, cnt) in enumerate(zip(offsets, counts)):
        if off + cnt > len(payload):
            raise ValueError("strip out of range")
        rows = min(rps, height - i * rps)
        if rows <= 0:
            raise ValueError("more strips than image rows")
        raw = payload[off : off + cnt]
        out += (
            packbits_decode(raw, rows * stride)
            if comp == _COMP_PACKBITS
            else raw
        )
    if len(out) != stride * height:
        raise ValueError("strip data does not cover the image")
    return width, height, channels, bytes(out)
