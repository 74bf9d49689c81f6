"""Minimal real PNG codec — pure stdlib (struct + zlib), no PIL required.

The container images this engine tests on carry no codec libraries, but a
correct PNG subset is implementable directly from the public spec
(RFC 2083 / W3C PNG): chunk framing with CRC-32, IHDR geometry, IDAT
zlib-compressed scanlines, and the five per-scanline filters. That makes
the multimodal *decode* step REAL for PNG payloads — actual inflate +
unfilter + pixel math; the sibling stdlib codecs in this package do the
same for JPEG, GIF, TIFF, audio and video.

Scope (asserted, not assumed): 8-bit samples, grayscale (color type 0),
RGB (color type 2) and PALETTED (color type 3, PLTE required, tRNS out of
scope), plain-scan AND ADAM7-INTERLACED (the seven-pass progressive
layout web PNGs commonly use — spec 8.2: per-pass independent filtering,
empty passes carry no bytes). Encode writes grayscale, RGB, or palette indices
+ PLTE, and can apply filter None/Sub/Up per image so decode's unfilter
paths are exercised by round-trip tests (Sub is bytes-per-pixel-aware:
the RGB delta references the same channel of the pixel to the left; a
paletted scanline is 1 byte/pixel, so Sub references the index to the
left). Paletted decode expands indices through the PLTE to interleaved
RGB — the (w, h, 3, pixels) contract downstream resize/stats share with
color type 2.

Reference parity: the reference engine treats payloads as opaque bytes
end-to-end (it has no media path at all); this module is part of the
LLM-data-pipeline extension surface (SURVEY.md §2 Table B, multimodal).
"""

from __future__ import annotations

import struct
import zlib

_SIGNATURE = b"\x89PNG\r\n\x1a\n"
# color type -> bytes per pixel IN THE SCANLINE (paletted rows carry one
# index byte per pixel; the decode output is palette-expanded RGB)
_CHANNELS = {0: 1, 2: 3, 3: 1}
# decode also accepts the alpha-carrying color types (4 = gray+alpha,
# 6 = RGBA) — the unfilter path is channel-count generic; alpha comes
# back as a 2nd/4th interleaved channel
_DECODE_CHANNELS = {**_CHANNELS, 4: 2, 6: 4}


def _chunk(tag: bytes, payload: bytes) -> bytes:
    crc = zlib.crc32(tag + payload) & 0xFFFFFFFF
    return struct.pack(">I", len(payload)) + tag + payload + struct.pack(">I", crc)


#: ADAM7 pass origins and steps (x0, y0, dx, dy) — PNG spec 8.2
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _filter_rows(
    pixels: bytes, stride: int, height: int, bpp: int, filter_type: int
) -> bytearray:
    """Apply one filter type to every scanline of a (sub-)image →
    filter-byte-prefixed raw stream (the IDAT payload before deflate)."""
    raw = bytearray()
    prev = bytes(stride)
    for y in range(height):
        row = pixels[y * stride : (y + 1) * stride]
        raw.append(filter_type)
        if filter_type == 0:
            raw += row
        elif filter_type == 1:  # Sub: delta vs same channel of pixel left
            raw += bytes(
                (row[x] - (row[x - bpp] if x >= bpp else 0)) & 0xFF
                for x in range(stride)
            )
        else:  # Up: delta vs pixel above
            raw += bytes((row[x] - prev[x]) & 0xFF for x in range(stride))
        prev = row
    return raw


def _unfilter_rows(
    raw: bytes, offset: int, stride: int, height: int, bpp: int
) -> tuple[bytearray, int]:
    """Unfilter ``height`` scanlines of ``stride`` bytes starting at
    ``offset`` in the inflated stream (full None/Sub/Up/Average/Paeth).
    Each (sub-)image starts with a zero prior row — ADAM7 passes are
    filtered independently. Returns (pixels, new_offset)."""
    if offset + (stride + 1) * height > len(raw):
        raise ValueError("decompressed size mismatch")
    out = bytearray()
    prev = bytearray(stride)
    for y in range(height):
        base = offset + y * (stride + 1)
        ftype = raw[base]
        line = bytearray(raw[base + 1 : base + 1 + stride])
        if ftype == 1:  # Sub
            for x in range(bpp, stride):
                line[x] = (line[x] + line[x - bpp]) & 0xFF
        elif ftype == 2:  # Up
            for x in range(stride):
                line[x] = (line[x] + prev[x]) & 0xFF
        elif ftype == 3:  # Average
            for x in range(stride):
                left = line[x - bpp] if x >= bpp else 0
                line[x] = (line[x] + (left + prev[x]) // 2) & 0xFF
        elif ftype == 4:  # Paeth
            for x in range(stride):
                left = line[x - bpp] if x >= bpp else 0
                upleft = prev[x - bpp] if x >= bpp else 0
                line[x] = (line[x] + _paeth(left, prev[x], upleft)) & 0xFF
        elif ftype != 0:
            raise ValueError(f"unknown filter type {ftype}")
        out += line
        prev = line
    return out, offset + (stride + 1) * height


def _encode8(
    pixels: bytes,
    width: int,
    height: int,
    ctype: int,
    filter_type: int,
    extra_chunks: bytes = b"",
    interlace: bool = False,
) -> bytes:
    """Shared 8-bit encoder for color types 0 (gray), 2 (RGB) and 3
    (palette indices): per-scanline filter None/Sub/Up, bpp-aware Sub
    deltas. ``extra_chunks`` (e.g. a PLTE) land between IHDR and IDAT.
    ``interlace`` emits the seven ADAM7 passes (PNG spec 8.2), each an
    independently filtered sub-image."""
    bpp = _CHANNELS[ctype]
    stride = width * bpp
    if len(pixels) != stride * height:
        raise ValueError("pixels length != width*height*channels")
    if filter_type not in (0, 1, 2):
        raise ValueError("encoder supports filter types 0/1/2")
    if interlace:
        raw = bytearray()
        for x0, y0, dx, dy in _ADAM7:
            pw = (width - x0 + dx - 1) // dx if width > x0 else 0
            ph = (height - y0 + dy - 1) // dy if height > y0 else 0
            if pw == 0 or ph == 0:
                continue  # empty passes contribute no bytes (not even
                # filter bytes) — PNG spec 8.2
            sub = bytearray(pw * ph * bpp)
            for i in range(ph):
                sy = y0 + i * dy
                for j in range(pw):
                    sx = x0 + j * dx
                    sub[(i * pw + j) * bpp : (i * pw + j + 1) * bpp] = pixels[
                        (sy * width + sx) * bpp : (sy * width + sx + 1) * bpp
                    ]
            raw += _filter_rows(bytes(sub), pw * bpp, ph, bpp, filter_type)
    else:
        raw = _filter_rows(pixels, stride, height, bpp, filter_type)
    ihdr = struct.pack(">IIBBBBB", width, height, 8, ctype, 0, 0, int(interlace))
    return (
        _SIGNATURE
        + _chunk(b"IHDR", ihdr)
        + extra_chunks
        + _chunk(b"IDAT", zlib.compress(bytes(raw), 6))
        + _chunk(b"IEND", b"")
    )


def encode_gray8(
    pixels: bytes,
    width: int,
    height: int,
    filter_type: int = 0,
    interlace: bool = False,
) -> bytes:
    """Encode 8-bit grayscale ``pixels`` (row-major, len == width*height)
    as a real PNG. ``filter_type`` in {0: None, 1: Sub, 2: Up} is applied
    to every scanline (legal per spec; exercises decode's unfilter);
    ``interlace`` emits the seven ADAM7 passes."""
    return _encode8(pixels, width, height, 0, filter_type, interlace=interlace)


def encode_rgb8(
    pixels: bytes,
    width: int,
    height: int,
    filter_type: int = 0,
    interlace: bool = False,
) -> bytes:
    """Encode 8-bit RGB ``pixels`` (row-major interleaved RGBRGB…,
    len == width*height*3) as a real color-type-2 PNG."""
    return _encode8(pixels, width, height, 2, filter_type, interlace=interlace)


def encode_pal8(
    indices: bytes,
    width: int,
    height: int,
    palette: list[tuple[int, int, int]],
    filter_type: int = 0,
    interlace: bool = False,
) -> bytes:
    """Encode palette ``indices`` (row-major, len == width*height, every
    index < len(palette)) as a real color-type-3 PNG with a PLTE chunk of
    RGB triples. Depth 8, so up to 256 palette entries (spec maximum)."""
    if not 1 <= len(palette) <= 256:
        raise ValueError("palette must have 1..256 entries")
    if indices and max(indices) >= len(palette):
        raise ValueError("palette index out of range")
    plte = bytes(v & 0xFF for rgb in palette for v in rgb)
    if len(plte) != 3 * len(palette):
        raise ValueError("palette entries must be (r, g, b) triples")
    return _encode8(
        indices, width, height, 3, filter_type,
        extra_chunks=_chunk(b"PLTE", plte), interlace=interlace,
    )


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def decode(png: bytes) -> tuple[int, int, int, bytes]:
    """Decode a PNG → (width, height, channels, pixels row-major).

    Real decode: chunk walk with CRC verification, IDAT concat + inflate,
    and full unfilter (None/Sub/Up/Average/Paeth). Paletted images
    (color type 3) are expanded through their PLTE to interleaved RGB —
    channels is 3 and the pixel bytes match a color-type-2 decode of the
    same image. Raises ValueError on anything outside the supported
    subset.
    """
    if png[:8] != _SIGNATURE:
        raise ValueError("not a PNG (bad signature)")
    pos = 8
    width = height = channels = ctype = None
    palette: bytes | None = None
    idat = bytearray()
    while pos < len(png):
        (length,) = struct.unpack(">I", png[pos : pos + 4])
        tag = png[pos + 4 : pos + 8]
        payload = png[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack(">I", png[pos + 8 + length : pos + 12 + length])
        if zlib.crc32(tag + payload) & 0xFFFFFFFF != crc:
            raise ValueError(f"CRC mismatch in {tag!r}")
        if tag == b"IHDR":
            width, height, depth, ctype, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", payload
            )
            if depth != 8 or ctype not in _DECODE_CHANNELS or interlace > 1:
                raise ValueError("unsupported PNG subset")
            if comp or filt:
                raise ValueError("invalid compression/filter method")
            channels = _DECODE_CHANNELS[ctype]
        elif tag == b"PLTE":
            if length % 3 or not 3 <= length <= 768:
                raise ValueError("malformed PLTE")
            palette = bytes(payload)
        elif tag == b"IDAT":
            idat += payload
        elif tag == b"IEND":
            break
        pos += 12 + length
    if width is None or not idat:
        raise ValueError("missing IHDR/IDAT")
    if ctype == 3 and palette is None:
        raise ValueError("paletted PNG missing PLTE")

    raw = zlib.decompress(bytes(idat))
    stride = width * channels
    bpp = channels  # bytes per SCANLINE pixel at 8-bit depth (1 for ctype 3)
    if interlace:
        # ADAM7: seven independently-filtered sub-images, scattered back
        # onto the full grid (PNG spec 8.2); empty passes carry no bytes
        out = bytearray(stride * height)
        offset = 0
        for x0, y0, dx, dy in _ADAM7:
            pw = (width - x0 + dx - 1) // dx if width > x0 else 0
            ph = (height - y0 + dy - 1) // dy if height > y0 else 0
            if pw == 0 or ph == 0:
                continue
            sub, offset = _unfilter_rows(raw, offset, pw * bpp, ph, bpp)
            for i in range(ph):
                sy = y0 + i * dy
                for j in range(pw):
                    sx = x0 + j * dx
                    out[(sy * width + sx) * bpp : (sy * width + sx + 1) * bpp] = (
                        sub[(i * pw + j) * bpp : (i * pw + j + 1) * bpp]
                    )
        if offset != len(raw):
            raise ValueError("decompressed size mismatch")
    else:
        out, consumed = _unfilter_rows(raw, 0, stride, height, bpp)
        if consumed != len(raw):
            raise ValueError("decompressed size mismatch")
    if ctype == 3:
        # expand indices through the PLTE to interleaved RGB — same
        # output contract as a color-type-2 decode
        n_entries = len(palette) // 3
        rgb = bytearray(len(out) * 3)
        for k, idx in enumerate(out):
            if idx >= n_entries:
                raise ValueError("palette index out of range")
            rgb[3 * k : 3 * k + 3] = palette[3 * idx : 3 * idx + 3]
        return width, height, 3, bytes(rgb)
    return width, height, channels, bytes(out)


def nearest_resize(
    pixels: bytes, width: int, height: int, new_w: int, new_h: int,
    channels: int = 1,
) -> bytes:
    """Nearest-neighbor resize of an 8-bit image (any channel count, pixels
    interleaved): output pixel (i, j) samples source
    (i*height//new_h, j*width//new_w) — the floor mapping, so results are
    integer-exact and oracle-computable."""
    stride = width * channels
    out = bytearray(new_w * new_h * channels)
    for i in range(new_h):
        sy = i * height // new_h
        row = pixels[sy * stride : (sy + 1) * stride]
        for j in range(new_w):
            sx = j * width // new_w
            out[(i * new_w + j) * channels : (i * new_w + j + 1) * channels] = (
                row[sx * channels : (sx + 1) * channels]
            )
    return bytes(out)
