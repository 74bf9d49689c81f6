"""Multimodal column plumbing: image/audio/video as opaque binary + metadata.

The container has no codec *libraries*, but the common formats need none: the
decode step is REAL for PNG payloads via the stdlib codec in
``operators/png_codec.py`` (chunk walk + CRC + inflate + unfilter;
gray8, RGB8, paletted color type 3 with PLTE expansion, and ADAM7
interlaced layouts), for
JPEG via ``operators/jpeg_codec.py`` — baseline grayscale AND 3-component
YCbCr color (huffman scan, dequantize, IDCT, chroma upsample, restart
intervals) plus PROGRESSIVE (SOF2) grayscale and color (multi-scan
spectral selection + successive approximation, interleaved DC scans) —
for animated GIF89a via ``operators/gif_codec.py`` (real LZW
variable-width entropy coding, 4-pass row interlace, global color
table), for baseline TIFF via ``operators/tiff_codec.py`` (both byte
orders, IFD tag walk, multi-strip, PackBits RLE), for
RIFF/WAVE PCM16 via ``operators/wav_codec.py``, for IMA-ADPCM compressed
audio via ``operators/adpcm_codec.py`` (adaptive-quantizer encode AND
decode), for raw-frame video via ``operators/framevid_codec.py``
(RIFF-style declared-size container), and for COMPRESSED video via
``operators/avi_codec.py`` (real RIFF AVI/Motion-JPEG: container walk +
per-frame JPEG entropy decode). These codecs are the only decoders: a
format outside them raises NotImplementedError, inter-frame-predicted
video (H.26x etc.) included, so every decoded pixel is the one the
oracles' closed forms assume. The byte-statistics stub (deterministic
fake) is the decode path for generic media. Everything Spark-side is real
and tested: binary columns, typed metadata structs, Arrow-batched
mapInPandas signatures, partitioning.

Every per-row operator is one Arrow-batched mapInPandas through
:func:`_map_rows`, the only place the pandas-batch loop is written. An
operator supplies a function from one input row's values to one output
tuple: a synthesizer's is its closed-form pattern plus the encoder, a
stats operator's is the decode plus the reduction. ``png_patch_stats``
emits many rows per image and keeps its own loop.

At 100 TB the pattern matters: media bytes stay in binary columns that are
column-pruned away unless the query touches them, metadata predicates push
down to parquet, and decode runs Arrow-batched per partition with bounded
batch sizes (spark.sql.execution.arrow.maxRecordsPerBatch) so executor
memory is payload-bound, not row-count-bound.
"""

from __future__ import annotations

import hashlib
from typing import Callable, Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def _map_rows(
    df: DataFrame, cols: list[str], fn: Callable[..., tuple], schema: str
) -> DataFrame:
    """Arrow-batched mapInPandas over ``df``'s ``cols``: ``fn(*values)``
    of each input row is one output row, a tuple in ``schema``'s column
    order. Values arrive as Python scalars (``bytes`` for a binary
    column); an empty batch yields an empty frame with the declared
    columns."""
    names = StructType.fromDDL(schema).names

    def rows(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = [fn(*r) for r in pdf.itertuples(index=False, name=None)]
            yield pd.DataFrame(out, columns=names)

    return df.select(*cols).mapInPandas(rows, schema=schema)


def _media_meta(
    media_type: str, width: Column, height: Column, n_frames: Column
) -> Column:
    """The ``media_meta`` struct every synthesized media column carries:
    (media_type STRING, width INT, height INT, n_frames INT). The sizes
    are Columns, so a literal stays a non-null literal."""
    return F.struct(
        F.lit(media_type).alias("media_type"),
        width.alias("width"),
        height.alias("height"),
        n_frames.alias("n_frames"),
    ).alias("media_meta")


def _synth_image(
    df: DataFrame, id_col: str, row: Callable[[int], tuple]
) -> DataFrame:
    """A single-frame synthesized image per row: ``row(id)`` returns
    (id, payload, width, height), and the result carries ``media_bytes``
    plus the ``media_meta`` struct."""
    flat = _map_rows(
        df, [id_col], row, f"{id_col} long, media_bytes binary, w int, h int"
    )
    return flat.select(
        id_col,
        "media_bytes",
        _media_meta("image", F.col("w"), F.col("h"), F.lit(1)),
    )


def _pcm16(i: int, n: int) -> list[int]:
    """The first ``n`` (at most 16) samples of id ``i``'s synthetic PCM16
    waveform: sample j is byte pair j of sha256(str(i)), big-endian,
    minus 32768 — the digest the audio oracles recompute."""
    dig = hashlib.sha256(str(i).encode()).digest()
    return [(dig[2 * j] << 8 | dig[2 * j + 1]) - 32768 for j in range(n)]


def _gray_ramp(d: int) -> tuple[bytes, int, int]:
    """Graded gray8 PNG pattern pixel(y, x) = (x + y + id) % 256, size
    8+id%5 × 8+id%7."""
    w, h = 8 + d % 5, 8 + d % 7
    return bytes((x + y + d) % 256 for y in range(h) for x in range(w)), w, h


def _gray_blocks(d: int) -> tuple[bytes, int, int]:
    """Block-constant gray8 JPEG pattern block(bx, by) = (37bx + 53by +
    11id) % 256, geometry 8*(1 + id%2) × 8*(1 + id%3)."""
    w, h = 8 * (1 + d % 2), 8 * (1 + d % 3)
    px = bytes(
        (37 * (x // 8) + 53 * (y // 8) + 11 * d) % 256
        for y in range(h)
        for x in range(w)
    )
    return px, w, h


def _color_tiles(d: int) -> tuple[bytes, int, int]:
    """MCU-constant RGB JPEG pattern tile(tx, ty) = ((37tx + 53ty + 11id)
    % 256, (23tx + 41ty + 7id) % 256, (29tx + 31ty + 13id) % 256),
    geometry 16*(1 + id%2) × 16*(1 + id%3)."""
    w, h = 16 * (1 + d % 2), 16 * (1 + d % 3)
    rgb = bytes(
        c
        for y in range(h)
        for x in range(w)
        for c in (
            (37 * (x // 16) + 53 * (y // 16) + 11 * d) % 256,
            (23 * (x // 16) + 41 * (y // 16) + 7 * d) % 256,
            (29 * (x // 16) + 31 * (y // 16) + 13 * d) % 256,
        )
    )
    return rgb, w, h


def _ahash(w: int, h: int, px: bytes) -> tuple[int, int]:
    """Average hash of a gray plane: 8x8 nearest-neighbor downsample, bit
    i set iff pixel i exceeds the integer mean, as (pixels 0-31, 32-63)."""
    from .png_codec import nearest_resize

    rp = nearest_resize(px, w, h, 8, 8)
    mean = sum(rp) // 64
    lo = sum((1 << i) for i in range(32) if rp[i] > mean)
    hi = sum((1 << i) for i in range(32) if rp[32 + i] > mean)
    return lo, hi


def attach_fake_media(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Derive a deterministic binary payload + typed metadata from text.

    Stands in for reading real image/audio bytes; the payload is the UTF-8
    bytes (opaque to the engine, as real media would be), metadata derived
    deterministically so oracles can check the plumbing.
    """
    payload = F.encode(F.col(text_col), "UTF-8")
    return (
        df.withColumn("media_bytes", payload)
        .withColumn(
            "media_meta",
            F.struct(
                F.when(F.col("doc_id") % 3 == 0, "image")
                .when(F.col("doc_id") % 3 == 1, "audio")
                .otherwise("video")
                .alias("media_type"),
                (F.col("doc_id") % 8 * 160 + 320).cast("int").alias("width"),
                (F.col("doc_id") % 8 * 90 + 180).cast("int").alias("height"),
                (F.col("doc_id") % 16 + 1).cast("int").alias("n_frames"),
            ),
        )
    )


def decode_media(df: DataFrame) -> DataFrame:
    """Decode step over (doc_id, media_bytes): a deterministic 4-float
    feature row per payload (byte-level statistics — a stand-in for
    decoded-pixel stats)."""

    def row(d, payload):
        digest = hashlib.sha256(payload).digest()
        return (
            d,
            float(len(payload)),
            float(payload[0] if payload else 0),
            float(sum(digest[:8]) / 8.0),
            float(digest[0]),
        )

    return _map_rows(
        df,
        ["doc_id", "media_bytes"],
        row,
        "doc_id long, n_bytes double, first_byte double, "
        "sig_mean double, sig_head double",
    )


def frame_sample(df: DataFrame, every_n: int = 4) -> DataFrame:
    """Frame sampling for video rows: explode n_frames into frame indices,
    keep every n-th — pure relational (sequence + explode + filter), so it
    scales as a projection."""
    return (
        df.where(F.col("media_meta.media_type") == "video")
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(0), F.col("media_meta.n_frames") - 1)
            ).alias("frame_idx"),
        )
        .where(F.col("frame_idx") % every_n == 0)
    )


def resize_media(
    df: DataFrame, target_w: int = 224, target_h: int = 224, fake: bool = True
) -> DataFrame:
    """Resize step: mapInPandas producing a payload scaled to the target
    pixel count, with updated metadata.

    ``fake=True``: the stub scales the byte length by the pixel ratio —
    out_len = max(1, in_len * (tw*th) // (w*h)), payload tiled/truncated
    deterministically — so the oracle can verify the plumbing through
    pure length arithmetic while the bytes stay opaque.
    ``fake=False``: REAL for grayscale AND RGB PNG payloads — decode
    (inflate + unfilter), channel-aware nearest-neighbor resample on the
    decoded pixel grid, and re-encode to a genuine PNG of the same color
    type at the target geometry (png_codec end to end); other formats
    raise NotImplementedError.
    """
    from . import png_codec

    def stub(d, payload, w, h):
        out_len = max(1, len(payload) * (target_w * target_h) // (w * h))
        tiled = (payload * (out_len // max(1, len(payload)) + 1))[:out_len]
        return d, tiled, target_w, target_h, out_len

    def real(d, payload, _w, _h):
        if payload[:8] != PNG_SIGNATURE:
            raise NotImplementedError(
                "real resize implemented for PNG payloads only"
            )
        w, h, c, px = png_codec.decode(payload)
        out = png_codec.nearest_resize(px, w, h, target_w, target_h, channels=c)
        if c == 1:
            enc = png_codec.encode_gray8(out, target_w, target_h)
        elif c == 3:
            enc = png_codec.encode_rgb8(out, target_w, target_h)
        else:
            # png_codec decodes gray+alpha and RGBA PNGs but encodes neither
            raise NotImplementedError("real re-encode implemented for gray8/rgb8")
        return d, enc, target_w, target_h, len(enc)

    flat = df.select(
        "doc_id",
        "media_bytes",
        F.col("media_meta.width").alias("width"),
        F.col("media_meta.height").alias("height"),
    )
    return _map_rows(
        flat,
        flat.columns,
        stub if fake else real,
        "doc_id long, media_bytes binary, width int, height int, n_bytes long",
    )


# -- real image decode (stdlib codecs only) ---------------------------------

PNG_SIGNATURE = b"\x89PNG\r\n\x1a\n"


def decode_image_bytes(payload: bytes) -> tuple[int, int, int, bytes]:
    """REAL image decode → (width, height, channels, pixels) through the
    stdlib codecs — PNG (gray/RGB/paletted, plus gray+alpha and RGBA),
    baseline and progressive JPEG (grayscale AND 3-component YCbCr
    color, restart intervals included), GIF (first frame, RGB) and
    baseline TIFF. Raises NotImplementedError for any other format.
    """
    if payload[:8] == PNG_SIGNATURE:
        from . import png_codec

        return png_codec.decode(payload)
    if payload[:2] == b"\xff\xd8":
        from .jpeg_codec import (
            _parse_baseline,
            _parse_progressive,
            decode_gray8_jpeg,
            decode_rgb_jpeg,
            sof_marker,
        )

        # dispatch on SOFn + component count: 1 → grayscale plane, 3 →
        # full YCbCr color decode (4:2:0/4:2:2/4:4:4); both decoders
        # route progressive (SOF2) streams through the multi-scan
        # successive-approximation coefficient decoder internally
        parse = _parse_progressive if sof_marker(payload) == 0xC2 else _parse_baseline
        ncomp = len(parse(payload)[2])
        if ncomp == 3:
            w, h, px = decode_rgb_jpeg(payload)
            return w, h, 3, px
        w, h, px = decode_gray8_jpeg(payload)
        return w, h, 1, px
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        from .gif_codec import gif_frames_rgb

        w, h, rgb_frames, _delay = gif_frames_rgb(payload)
        return w, h, 3, rgb_frames[0]  # first frame, same RGB contract
    if payload[:2] in (b"II", b"MM"):
        from .tiff_codec import decode_tiff

        return decode_tiff(payload)
    raise NotImplementedError(
        "no codec for this payload format (PNG/JPEG/GIF/TIFF decode here)"
    )


def attach_synth_png(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Attach a deterministic REAL PNG payload per row (graded pattern
    pixel(y, x) = (x + y + id) % 256, size 8+id%5 × 8+id%7, per-image
    scanline filter id % 3) — synthesized executor-side in Arrow batches,
    so the bytes crossing the plan are genuine encoded PNGs."""
    from . import png_codec

    def row(d):
        px, w, h = _gray_ramp(d)
        return d, png_codec.encode_gray8(px, w, h, filter_type=d % 3)

    return _map_rows(df, [id_col], row, f"{id_col} long, media_bytes binary")


def attach_synth_png_interlaced(
    df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Attach a deterministic REAL ADAM7-INTERLACED PNG per row — graded
    pattern pixel(y, x) = (x + 2y + id) % 256, geometry (1 + id%12) ×
    (1 + id%11) so the tiny widths/heights exercise EMPTY interlace
    passes (which carry no bytes at all, not even filter bytes — PNG
    spec 8.2), per-image scanline filter id % 3 applied independently
    per pass. Interlacing reorders wire bytes only; decoded pixels equal
    the plain encoding's, so the closed-form checksum oracle holds."""
    from . import png_codec

    def row(d):
        w, h = 1 + d % 12, 1 + d % 11
        px = bytes((x + 2 * y + d) % 256 for y in range(h) for x in range(w))
        return d, png_codec.encode_gray8(px, w, h, filter_type=d % 3, interlace=True)

    return _map_rows(df, [id_col], row, f"{id_col} long, media_bytes binary")


def png_decode_stats(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """REAL decode of PNG payloads (inflate + unfilter) → geometry and an
    exact pixel checksum the oracle can recompute in closed form."""

    def row(d, payload):
        w, h, c, px = decode_image_bytes(payload)
        return d, w, h, c, int(sum(px))

    return _map_rows(
        df,
        [id_col, "media_bytes"],
        row,
        f"{id_col} long, width int, height int, channels int, pixel_sum long",
    )


def png_resize_stats(
    df: DataFrame, new_w: int = 8, new_h: int = 8, id_col: str = "doc_id"
) -> DataFrame:
    """REAL decode + nearest-neighbor resize on the decoded pixel grid,
    reported as the resized image's exact pixel checksum."""
    from . import png_codec

    def row(d, payload):
        w, h, c, px = decode_image_bytes(payload)
        rp = png_codec.nearest_resize(px, w, h, new_w, new_h, channels=c)
        return d, new_w, new_h, int(sum(rp))

    return _map_rows(
        df,
        [id_col, "media_bytes"],
        row,
        f"{id_col} long, width int, height int, pixel_sum long",
    )


def attach_synth_png_rgb(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Attach a deterministic REAL color-type-2 (RGB8) PNG per row —
    pixel(y, x, ch) = (3x + 5y + 7ch + id) % 256, geometry 8+id%5 ×
    8+id%7, per-image scanline filter id % 3 — plus the media_meta struct
    resize_media expects. Bytes crossing the plan are genuine encoded
    PNGs; the oracle recomputes the pattern in closed form."""
    from . import png_codec

    def row(d):
        w, h = 8 + d % 5, 8 + d % 7
        px = bytes(
            (3 * x + 5 * y + 7 * ch + d) % 256
            for y in range(h)
            for x in range(w)
            for ch in range(3)
        )
        return d, png_codec.encode_rgb8(px, w, h, filter_type=d % 3), w, h

    return _synth_image(df, id_col, row)


def attach_synth_jpeg(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Attach a deterministic REAL baseline JFIF JPEG per row — grayscale,
    geometry 8*(1 + id%2) × 8*(1 + id%3), BLOCK-CONSTANT pattern
    block(bx, by) = (37bx + 53by + 11id) % 256, flat quant table q=16.
    Block-constant sources make the lossy round trip exactly
    oracle-computable (every block is DC-only — operators/jpeg_codec.py
    module docstring has the closed form); the bytes crossing the plan
    are genuine entropy-coded JPEGs."""
    from .jpeg_codec import encode_gray8_jpeg

    def row(d):
        px, w, h = _gray_blocks(d)
        return d, encode_gray8_jpeg(px, w, h, q=16), w, h

    return _synth_image(df, id_col, row)


def attach_synth_color_jpeg(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Attach a deterministic REAL color baseline JPEG per row — YCbCr
    4:2:0, geometry 16*(1 + id%2) × 16*(1 + id%3), MCU-CONSTANT tile
    pattern tile(tx, ty) = ((37tx + 53ty + 11id) % 256, (23tx + 41ty +
    7id) % 256, (29tx + 31ty + 13id) % 256) as (R, G, B), flat q=16.
    MCU-constant sources keep every stage of the color pipeline exactly
    oracle-computable: the 2x2 box chroma subsample is the identity on a
    constant tile, every block is DC-only, and the integer fixed-point
    YCbCr<->RGB conversions replay in SQL (operators/jpeg_codec.py)."""
    from .jpeg_codec import encode_rgb_jpeg

    def row(d):
        rgb, w, h = _color_tiles(d)
        return d, encode_rgb_jpeg(rgb, w, h, q=16), w, h

    return _synth_image(df, id_col, row)


def attach_synth_jpeg_dri(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Attach a deterministic REAL baseline JPEG per row WITH RESTART
    MARKERS — grayscale, geometry 8*(1 + id%2) × 8*(1 + id%3),
    block-constant pattern block(bx, by) = (37bx + 53by + 11id) % 256,
    flat q=16, DRI restart interval 1 + id%3 MCUs (so every payload
    exercises RSTm emission, byte alignment, and DC predictor resets at a
    different cadence). Restart markers change the wire bytes but not
    the decoded pixels, so the grayscale closed form still holds."""
    from .jpeg_codec import encode_gray8_jpeg

    def row(d):
        px, w, h = _gray_blocks(d)
        return d, encode_gray8_jpeg(px, w, h, q=16, restart_interval=1 + d % 3), w, h

    return _synth_image(df, id_col, row)


def attach_synth_tiff(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Attach a deterministic REAL baseline TIFF per row — grayscale,
    geometry (8 + id%9) x (4 + id%6), run-friendly pattern pixel(y, x) =
    (x//4 + y + id) % 256, PACKBITS-compressed multi-strip layout
    (RowsPerStrip = 1 + id%3) in BIG-endian ("MM") byte order for odd
    ids and little-endian ("II") for even — so the IFD walk, both
    endians, strip reassembly, and the RLE all carry real weight
    (operators/tiff_codec.py). TIFF is lossless; the oracle recomputes
    pixels directly."""
    from .tiff_codec import encode_tiff

    def row(d):
        w, h = 8 + d % 9, 4 + d % 6
        px = bytes((x // 4 + y + d) % 256 for y in range(h) for x in range(w))
        payload = encode_tiff(
            px, w, h, rows_per_strip=1 + d % 3, packbits=True, big_endian=bool(d % 2)
        )
        return d, payload

    return _map_rows(df, [id_col], row, f"{id_col} long, media_bytes binary")


def attach_synth_crossformat(
    df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Attach the SAME logical image in ONE of three lossless containers
    per row — PNG (RGB8), TIFF (PackBits, alternating byte order), or
    single-frame GIF (grayscale palette) chosen by id % 3 — where the
    pixel content depends ONLY on the duplicate key id % 7: gray value
    v(y, x) = (x + 3y + 7*(id%7)) % 256 replicated to RGB, 16x8. Rows
    sharing a key are exact duplicates that LOOK completely different on
    the wire (different container families, different entropy coders,
    different byte orders); only decoding proves it."""
    from . import png_codec
    from .gif_codec import encode_gif
    from .tiff_codec import encode_tiff

    w, h = 16, 8
    gray_palette = [(i, i, i) for i in range(256)]

    def row(d):
        key, fmt = d % 7, d % 3
        gray = bytes((x + 3 * y + 7 * key) % 256 for y in range(h) for x in range(w))
        rgb = bytes(v for g in gray for v in (g, g, g))
        if fmt == 0:
            payload = png_codec.encode_rgb8(rgb, w, h, filter_type=d % 3)
        elif fmt == 1:
            payload = encode_tiff(
                rgb, w, h, channels=3,
                rows_per_strip=1 + d % 3, packbits=True,
                big_endian=bool(d % 2),
            )
        else:
            payload = encode_gif([gray], w, h, gray_palette)
        return d, payload, fmt

    return _map_rows(
        df, [id_col], row, f"{id_col} long, media_bytes binary, fmt int"
    )


def crossformat_dedup_groups(
    df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Container-agnostic EXACT dedup: decode every payload through its
    own codec (PNG chunk/inflate, TIFF IFD/PackBits, GIF LZW — whichever
    the bytes demand), fingerprint the DECODED pixels, and group on that
    digest. One group per identical image regardless of container; the
    keeper is the smallest doc id. Output carries no digest — the oracle
    verifies the GROUPING ITSELF (membership, sizes, format diversity),
    which is only reproducible if all three decoders emit bit-identical
    pixels for the same logical image."""

    def row(d, fmt, payload):
        w, h, c, px = decode_image_bytes(payload)
        dig = hashlib.md5(f"{w}x{h}x{c}:".encode() + bytes(px)).hexdigest()
        return d, fmt, dig, w, h

    decoded = _map_rows(
        df,
        [id_col, "fmt", "media_bytes"],
        row,
        f"{id_col} long, fmt int, digest string, width int, height int",
    )
    return decoded.groupBy("digest").agg(
        F.min(id_col).alias("keeper_doc_id"),
        F.count("*").alias("n_docs"),
        F.countDistinct("fmt").alias("n_formats"),
        F.first("width").alias("width"),
        F.first("height").alias("height"),
    ).drop("digest")


def attach_synth_corrupt_media(
    df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Attach a payload that is VALID or deliberately CORRUPTED by
    id % 4: 0 → valid grayscale PNG (the attach_synth_png pattern,
    pixel = (x+y+id) % 256, 8+id%5 x 8+id%7); 1 → the same PNG with one
    IDAT payload byte flipped (CRC now lies); 2 → a baseline JPEG
    truncated to 60% (cuts mid-header or mid-scan); 3 → an animated GIF
    truncated to 60% (cuts the LZW sub-block chain). The corruptions are
    deterministic per id, so the quarantine outcome is a closed-form
    function of id arithmetic."""
    from . import png_codec
    from .gif_codec import encode_gif
    from .jpeg_codec import encode_gray8_jpeg

    def row(d):
        fmt = d % 4
        px, w, h = _gray_ramp(d)
        if fmt in (0, 1):
            payload = png_codec.encode_gray8(px, w, h, filter_type=d % 3)
            if fmt == 1:
                at = payload.index(b"IDAT") + 4 + 2
                buf = bytearray(payload)
                buf[at] ^= 0xFF  # payload byte flips, CRC does not
                payload = bytes(buf)
        elif fmt == 2:
            whole = encode_gray8_jpeg(px, w, h, q=16)
            payload = whole[: max(20, len(whole) * 3 // 5)]
        else:
            pal = [(i, i, i) for i in range(256)]
            whole = encode_gif([px, px], w, h, pal)
            payload = whole[: max(20, len(whole) * 3 // 5)]
        return d, payload, fmt

    return _map_rows(
        df, [id_col], row, f"{id_col} long, media_bytes binary, fmt int"
    )


def media_quarantine_stats(
    df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """The corruption-never-misparses contract for media (the
    kafka_wire_corrupt_view analog): decode each payload with the
    stdlib codec its magic demands; ValueError quarantines the row,
    success contributes its exact pixel checksum. Per-format totals
    prove record conservation (n = n_ok + quarantined) AND that the
    valid slice decoded to the right pixels — a decoder that silently
    accepts a corrupt payload, or quarantines a valid one, shifts a
    count or the checksum."""
    from . import png_codec
    from .gif_codec import decode_gif
    from .jpeg_codec import decode_gray8_jpeg

    def row(d, fmt, payload):
        ok, psum = 1, 0
        try:
            if payload[:8] == PNG_SIGNATURE:
                _w, _h, _c, px = png_codec.decode(payload)
                psum = int(sum(px))
            elif payload[:2] == b"\xff\xd8":
                _w, _h, px = decode_gray8_jpeg(payload)
                psum = int(sum(px))
            elif payload[:6] in (b"GIF87a", b"GIF89a"):
                _w, _h, frames, _pal, _d = decode_gif(payload)
                psum = int(sum(sum(f) for f in frames))
            else:
                ok = 0
        except ValueError:
            ok = 0
        return d, fmt, ok, psum

    decoded = _map_rows(
        df,
        [id_col, "fmt", "media_bytes"],
        row,
        f"{id_col} long, fmt int, ok int, psum long",
    )
    return decoded.groupBy("fmt").agg(
        F.count("*").alias("n"),
        F.sum("ok").alias("n_ok"),
        (F.count("*") - F.sum("ok")).alias("n_quarantined"),
        F.sum("psum").alias("pixel_sum_ok"),
    )


def attach_synth_gif(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Attach a deterministic REAL animated GIF89a per row — geometry
    8*(1 + id%2) x 8, 2 + id%3 full-size frames of the index pattern
    idx(x, y, f) = (x + 2y + 3f + id) % 16 through the fixed 16-entry
    palette entry(i) = ((3i)%256, (5i)%256, (7i)%256), frame delay
    4 + id%5 centiseconds, frame 0 row-interlaced when id is odd (the
    4-pass GIF interlace). Real LZW entropy coding per frame
    (operators/gif_codec.py); GIF is lossless, so the oracle recomputes
    pixels directly."""
    from .gif_codec import encode_gif

    palette = [((3 * i) % 256, (5 * i) % 256, (7 * i) % 256) for i in range(16)]

    def row(d):
        w, h, nf = 8 * (1 + d % 2), 8, 2 + d % 3
        frames = [
            bytes((x + 2 * y + 3 * f + d) % 16 for y in range(h) for x in range(w))
            for f in range(nf)
        ]
        payload = encode_gif(
            frames, w, h, palette, delay_cs=4 + d % 5, interlace_first=bool(d % 2)
        )
        return d, payload, w, h, nf

    flat = _map_rows(
        df,
        [id_col],
        row,
        f"{id_col} long, media_bytes binary, w int, h int, nf int",
    )
    return flat.select(
        id_col,
        "media_bytes",
        _media_meta("video", F.col("w"), F.col("h"), F.col("nf")),
    )


def gif_animation_stats(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """REAL GIF decode of ``media_bytes`` → geometry, frame count, frame
    delay and exact per-channel checksums over ALL frames plus a
    first-frame checksum (LZW decode, de-interlace, palette expansion —
    operators/gif_codec.py)."""
    from .gif_codec import gif_frames_rgb

    def row(d, payload):
        w, h, frames, delay = gif_frames_rgb(payload)
        return (
            d,
            w,
            h,
            len(frames),
            delay,
            int(sum(sum(f[0::3]) for f in frames)),
            int(sum(sum(f[1::3]) for f in frames)),
            int(sum(sum(f[2::3]) for f in frames)),
            int(sum(frames[0])),
        )

    return _map_rows(
        df,
        [id_col, "media_bytes"],
        row,
        f"{id_col} long, width int, height int, n_frames int, "
        "delay_cs int, sum_r long, sum_g long, sum_b long, sum_f0 long",
    )


def attach_synth_progressive_jpeg(
    df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Attach a deterministic REAL PROGRESSIVE (SOF2) JPEG per row —
    grayscale, geometry 8*(1 + id%2) × 8*(1 + id%3), the same
    block-constant pattern as :func:`attach_synth_jpeg`, encoded as six
    spectral-selection + successive-approximation scans with per-scan
    optimal huffman tables (operators/jpeg_codec.py::
    encode_gray8_progressive). Progressive re-orders the WIRE bits but
    reconstructs the identical coefficients, so the grayscale
    block-constant closed form still hash-checks the decode."""
    from .jpeg_codec import encode_gray8_progressive

    def row(d):
        px, w, h = _gray_blocks(d)
        return d, encode_gray8_progressive(px, w, h, q=16), w, h

    return _synth_image(df, id_col, row)


def attach_synth_progressive_color_jpeg(
    df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Attach a deterministic REAL PROGRESSIVE COLOR JPEG per row — the
    same YCbCr 4:2:0 MCU-constant tile pattern as
    :func:`attach_synth_color_jpeg`, encoded as libjpeg's ten-scan color
    progression (interleaved DC scans with separate luma/chroma optimal
    tables, per-component AC scans — operators/jpeg_codec.py::
    encode_rgb_progressive). Identical coefficients to the baseline
    encoding, so the color closed form still hash-checks the decode."""
    from .jpeg_codec import encode_rgb_progressive

    def row(d):
        rgb, w, h = _color_tiles(d)
        return d, encode_rgb_progressive(rgb, w, h, q=16), w, h

    return _synth_image(df, id_col, row)


def jpeg_color_stats(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """REAL color JPEG decode of ``media_bytes`` → geometry + exact
    per-channel checksums (interleaved-MCU huffman scan, dequantize,
    IDCT, chroma upsample, integer YCbCr→RGB — jpeg_codec.py)."""
    from .jpeg_codec import decode_rgb_jpeg

    def row(d, payload):
        w, h, px = decode_rgb_jpeg(payload)
        return d, w, h, int(sum(px[0::3])), int(sum(px[1::3])), int(sum(px[2::3]))

    return _map_rows(
        df,
        [id_col, "media_bytes"],
        row,
        f"{id_col} long, width int, height int, "
        "sum_r long, sum_g long, sum_b long",
    )


def jpeg_decode_stats(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """REAL JPEG decode of ``media_bytes`` → geometry + exact pixel
    checksum (huffman scan, dequantize, IDCT, clamp — jpeg_codec.py)."""
    from .jpeg_codec import decode_gray8_jpeg

    def row(d, payload):
        w, h, px = decode_gray8_jpeg(payload)
        return d, w, h, int(sum(px))

    return _map_rows(
        df,
        [id_col, "media_bytes"],
        row,
        f"{id_col} long, width int, height int, pixel_sum long",
    )


def jpeg_resize_stats(
    df: DataFrame, new_w: int = 8, new_h: int = 8, id_col: str = "doc_id"
) -> DataFrame:
    """REAL JPEG decode + nearest-neighbor resample on the decoded pixel
    grid → exact checksum of the resized image. Output pixel (i, j)
    samples source (i*h//new_h, j*w//new_w) — integer-exact, so a
    block-constant source stays closed-form through decode AND resize
    (the resized grid is not re-encoded: mixing blocks creates AC
    energy, which is exactly the lossiness the oracle cannot replay)."""
    from .jpeg_codec import decode_gray8_jpeg
    from .png_codec import nearest_resize

    def row(d, payload):
        w, h, px = decode_gray8_jpeg(payload)
        return d, new_w, new_h, int(sum(nearest_resize(px, w, h, new_w, new_h)))

    return _map_rows(
        df,
        [id_col, "media_bytes"],
        row,
        f"{id_col} long, width int, height int, pixel_sum long",
    )


def attach_synth_avi(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Attach a deterministic REAL AVI/Motion-JPEG video per row — 16x8
    grayscale, 2 + id%3 frames at 10 fps, each frame a genuine baseline
    JPEG of the block-constant pattern block(bx, f) = (37bx + 11id +
    19f) % 256 (one block row at h=8). Real interchange container (RIFF
    AVI: avih/strh/strf headers, movi 00dc chunks, idx1), real per-frame
    entropy coding — operators/avi_codec.py."""
    from .avi_codec import encode_avi_mjpg

    def row(d):
        w, h, n = 16, 8, 2 + d % 3
        frames = [
            bytes(
                (37 * (x // 8) + 11 * d + 19 * f) % 256
                for _y in range(h)
                for x in range(w)
            )
            for f in range(n)
        ]
        return d, encode_avi_mjpg(frames, w, h, fps=10), n

    flat = _map_rows(df, [id_col], row, f"{id_col} long, media_bytes binary, nf int")
    return flat.select(
        id_col,
        "media_bytes",
        _media_meta("video", F.lit(16), F.lit(8), F.col("nf")),
    )


def avi_video_stats(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """REAL AVI/MJPG decode → container metadata + exact pixel checksums
    (whole clip and first frame). Container parse + per-frame JPEG
    decode both on the line: a bad chunk walk, frame-count mismatch, or
    one wrong huffman bit shifts the sums."""
    from .avi_codec import decode_avi_mjpg

    def row(d, payload):
        w, h, fps, frames = decode_avi_mjpg(payload)
        return (
            d,
            len(frames),
            w,
            h,
            fps,
            int(sum(sum(f) for f in frames)),
            int(sum(frames[0])) if frames else 0,
        )

    return _map_rows(
        df,
        [id_col, "media_bytes"],
        row,
        f"{id_col} long, n_frames int, width int, height int, "
        "fps int, pixel_sum long, sum_f0 long",
    )


def attach_synth_png_pal(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Attach a deterministic REAL color-type-3 (paletted) PNG per row —
    a 16-entry palette palette[p] = ((7p + id) % 256, (11p + 2id) % 256,
    (13p + 3id) % 256), index(y, x) = (x + 2y + id) % 16, geometry
    8+id%5 × 8+id%7, per-image scanline filter id % 3. Bytes crossing the
    plan are genuine encoded PNGs with a PLTE chunk; the oracle
    recomputes the palette lookup in closed form."""
    from . import png_codec

    def row(d):
        w, h = 8 + d % 5, 8 + d % 7
        palette = [
            ((7 * p + d) % 256, (11 * p + 2 * d) % 256, (13 * p + 3 * d) % 256)
            for p in range(16)
        ]
        idx = bytes((x + 2 * y + d) % 16 for y in range(h) for x in range(w))
        return d, png_codec.encode_pal8(idx, w, h, palette, filter_type=d % 3), w, h

    return _synth_image(df, id_col, row)


def png_channel_stats(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """REAL decode of PNG payloads → geometry plus exact per-channel pixel
    checksums (gray images report their single channel as sum_r with
    sum_g/sum_b zero). Strictly stronger than png_decode_stats for color
    payloads: a channel-swap bug keeps pixel_sum but breaks sum_r/g/b."""

    def row(d, payload):
        w, h, c, px = decode_image_bytes(payload)
        sums = [0, 0, 0]
        for k, v in enumerate(px):
            sums[k % c] += v
        return d, w, h, c, int(sum(px)), *sums

    return _map_rows(
        df,
        [id_col, "media_bytes"],
        row,
        f"{id_col} long, width int, height int, channels int, "
        "pixel_sum long, sum_r long, sum_g long, sum_b long",
    )


def attach_synth_wav(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Synthesize a REAL mono PCM16 WAV per row: 16 samples derived from
    sha256(id), each sample (byte-pair big-endian) - 32768 — deterministic
    so the oracle recomputes the waveform from the same digest."""
    from .wav_codec import encode_wav

    return _map_rows(
        df,
        [id_col],
        lambda i: (i, encode_wav(_pcm16(i, 16))),
        f"{id_col} long, wav_bytes binary",
    )


def wav_decode_stats(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Decode the WAV container (REAL RIFF chunk-walk parse) and reduce to
    integer waveform statistics the oracle can recompute. A 0-sample
    payload is a valid container and yields zeroed stats."""
    from .wav_codec import decode_wav

    def row(i, payload):
        rate, _, samples = decode_wav(payload)
        peak = max((abs(s) for s in samples), default=0)
        return i, rate, len(samples), peak, sum(s * s for s in samples)

    return _map_rows(
        df,
        [id_col, "wav_bytes"],
        row,
        f"{id_col} long, sample_rate int, n_samples int, peak int, energy long",
    )


def attach_synth_wav_stereo(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Synthesize a REAL stereo PCM16 WAV per row: the 16 sha256-derived
    samples of attach_synth_wav reinterpreted as 8 frames × 2 channels
    (frame-interleaved L R L R …, the RIFF wire layout)."""
    from .wav_codec import encode_wav

    return _map_rows(
        df,
        [id_col],
        lambda i: (i, encode_wav(_pcm16(i, 16), channels=2)),
        f"{id_col} long, wav_bytes binary",
    )


def wav_stereo_stats(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Decode a stereo WAV (REAL RIFF parse incl. block-align checks),
    de-interleave the channels, and reduce to exact per-channel integer
    stats plus the L·R frame dot product (a mono-downmix/abs-stat bug
    keeps per-channel energies but breaks lr_dot). A 0-frame payload is
    a valid container and yields zeroed stats."""
    from .wav_codec import decode_wav

    def row(i, payload):
        rate, ch, samples = decode_wav(payload)
        if ch != 2:
            raise ValueError("expected a stereo payload")
        left, right = samples[0::2], samples[1::2]
        return (
            i,
            rate,
            len(left),
            max((abs(s) for s in left), default=0),
            max((abs(s) for s in right), default=0),
            sum(s * s for s in left),
            sum(s * s for s in right),
            sum(l * r for l, r in zip(left, right)),
        )

    return _map_rows(
        df,
        [id_col, "wav_bytes"],
        row,
        f"{id_col} long, sample_rate int, n_frames int, peak_l int, "
        "peak_r int, energy_l long, energy_r long, lr_dot long",
    )


def attach_synth_adpcm(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Synthesize a REAL IMA-ADPCM compressed audio payload per row: the
    same sha256-derived 16-sample PCM waveform as attach_synth_wav, run
    through the genuine adaptive-quantizer encoder (adpcm_codec.encode),
    so the bytes crossing the plan are actual 4-bit compressed audio."""
    from .adpcm_codec import encode

    return _map_rows(
        df,
        [id_col],
        lambda i: (i, encode(_pcm16(i, 16))),
        f"{id_col} long, adpcm_bytes binary",
    )


def _roundtrip_stats(
    df: DataFrame, id_col: str, bytes_col: str, decode: Callable[[bytes], list]
) -> DataFrame:
    """Reduce a lossy audio round trip to exact integer stats: peak of the
    original waveform (recomputed from the digest, proving sample
    parity), energy of the RECONSTRUCTED waveform, and the max/sum
    absolute quantization error. A 0-sample payload is a valid container
    and yields zeroed stats."""

    def row(i, payload):
        recon = decode(payload)
        orig = _pcm16(i, len(recon))
        errs = [abs(a - b) for a, b in zip(orig, recon)]
        return (
            i,
            max((abs(s) for s in orig), default=0),
            sum(r * r for r in recon),
            max(errs, default=0),
            sum(errs),
        )

    return _map_rows(
        df,
        [id_col, bytes_col],
        row,
        f"{id_col} long, peak_orig long, energy_recon long, "
        "max_abs_err long, sum_abs_err long",
    )


def adpcm_roundtrip_stats(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Parse + decode the ADPCM container (REAL adaptive-quantizer state
    machine) and reduce the lossy round trip to exact integer stats
    (:func:`_roundtrip_stats`). The oracle replays the identical encoder
    state machine with a recursive CTE, so every predictor/step-index
    transition is value-checked."""
    from .adpcm_codec import decode

    return _roundtrip_stats(df, id_col, "adpcm_bytes", decode)


def attach_synth_mulaw(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Synthesize a REAL G.711 μ-law payload per row: the sha256-derived
    16-sample PCM waveform run through the genuine ITU-T companding
    encoder (g711_codec.encode), so the bytes crossing the plan are
    actual 8-bit logarithmic PCM."""
    from .g711_codec import encode

    return _map_rows(
        df,
        [id_col],
        lambda i: (i, encode(_pcm16(i, 16))),
        f"{id_col} long, mulaw_bytes binary",
    )


def attach_synth_alaw(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Synthesize a REAL G.711 A-law payload per row: the same
    sha256-derived 16-sample PCM waveform as the μ-law fixture, run
    through the genuine PCMA companding encoder (g711_codec.alaw_encode)
    — actual European-telephony 8-bit logarithmic PCM on the wire."""
    from .g711_codec import alaw_encode

    return _map_rows(
        df,
        [id_col],
        lambda i: (i, alaw_encode(_pcm16(i, 16))),
        f"{id_col} long, alaw_bytes binary",
    )


def alaw_roundtrip_stats(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Parse + decode the ALW1 container (REAL G.711 A-law expansion) and
    reduce the lossy round trip to exact integer stats — the PCMA mirror
    of mulaw_roundtrip_stats."""
    from .g711_codec import alaw_decode

    return _roundtrip_stats(df, id_col, "alaw_bytes", alaw_decode)


def mulaw_roundtrip_stats(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Parse + decode the ULW1 container (REAL G.711 expansion) and reduce
    the lossy round trip to exact integer stats — same contract as
    adpcm_roundtrip_stats, but the stateless companding law lets the
    oracle replay encode→decode with plain integer CASE arithmetic."""
    from .g711_codec import decode

    return _roundtrip_stats(df, id_col, "mulaw_bytes", decode)


def attach_synth_framevid(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Synthesize a REAL FRV1 raw-frame video container per row: geometry
    8x6 gray8, 4 + id%5 frames, pixel(f, y, x) = (x + 2*y + f*f + id) % 256
    — the f*f term makes consecutive-frame mean deltas non-constant, so
    scene-cut detection has real structure to find. Deterministic, so the
    oracle recomputes every frame statistic in closed form."""
    from .framevid_codec import encode

    def row(d):
        w, h = 8, 6
        frames = [
            bytes((x + 2 * y + f * f + d) % 256 for y in range(h) for x in range(w))
            for f in range(4 + d % 5)
        ]
        return d, encode(frames, w, h)

    return _map_rows(df, [id_col], row, f"{id_col} long, video_bytes binary")


def framevid_scene_stats(
    df: DataFrame, cut_threshold: int = 8, id_col: str = "doc_id"
) -> DataFrame:
    """REAL video decode (FRV1 container parse) → per-payload frame
    statistics: frame count, exact pixel checksum across all frames, and
    scene-cut count (consecutive frames whose integer mean brightness
    jumps by >= cut_threshold — the classic mean-delta cut detector).
    Only the scalars leave Python; frames never cross the shuffle."""
    from .framevid_codec import decode

    def row(i, payload):
        _w, _h, _fps, frames = decode(payload)
        means = [sum(f) // len(f) for f in frames]
        cuts = sum(1 for a, b in zip(means, means[1:]) if abs(a - b) >= cut_threshold)
        return i, len(frames), sum(sum(f) for f in frames), cuts

    return _map_rows(
        df,
        [id_col, "video_bytes"],
        row,
        f"{id_col} long, n_frames long, pixel_sum long, n_scene_cuts long",
    )


def png_ahash(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """REAL decode → 8x8 nearest-neighbor downsample → average-hash: bit i
    set iff resampled pixel i exceeds the integer mean — the standard
    perceptual aHash, packed as two 32-bit words (lo: pixels 0-31, hi:
    32-63) so both engines stay in non-negative BIGINT arithmetic."""

    def row(d, payload):
        w, h, _c, px = decode_image_bytes(payload)
        return d, *_ahash(w, h, px)

    return _map_rows(
        df,
        [id_col, "media_bytes"],
        row,
        f"{id_col} long, ahash_lo long, ahash_hi long",
    )


def png_ahash_decode_stats(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Fused single-decode form of ``png_ahash`` + ``png_decode_stats``
    (r10, guide §4: move the payload through the JVM↔Python boundary
    ONCE). A pipeline that needs both the perceptual hash and the decode
    stats of the same media column would otherwise run synthesis and
    inflate+unfilter twice — one mapInPandas per consumer. This operator
    decodes each image once and emits both result groups; each output
    column is byte-identical to its unfused counterpart (pinned by
    tests/test_multimodal_fused.py against the composed originals)."""

    def row(d, payload):
        w, h, c, px = decode_image_bytes(payload)
        return d, *_ahash(w, h, px), w, h, c, int(sum(px))

    return _map_rows(
        df,
        [id_col, "media_bytes"],
        row,
        f"{id_col} long, ahash_lo long, ahash_hi long, width int,"
        " height int, channels int, pixel_sum long",
    )


def wav_vad_segments(
    df: DataFrame,
    id_col: str = "doc_id",
    frame: int = 4,
    threshold: int = 1_400_000_000,
) -> DataFrame:
    """Energy-threshold voice-activity segmentation over decoded PCM16:
    split the waveform into fixed ``frame``-sample frames, mark a frame
    active when its energy (sum of squared samples) exceeds ``threshold``,
    and reduce the active/inactive sequence to segment statistics
    (active frames, segment count, longest run) per clip.

    The whole frame walk happens INSIDE the Arrow batch right after the
    container parse — samples never leave the executor, nothing row-level
    shuffles, and the output is 5 ints per clip regardless of duration:
    the decode-at-scale shape for audio (cf. ``wav_decode_stats``).
    """
    from .wav_codec import decode_wav

    def row(i, payload):
        _, _, samples = decode_wav(payload)
        flags = [
            sum(s * s for s in samples[f0 : f0 + frame]) > threshold
            for f0 in range(0, len(samples) - frame + 1, frame)
        ]
        n_seg = run = best = 0
        prev = False
        for a in flags:
            if a:
                run += 1
                best = max(best, run)
                if not prev:
                    n_seg += 1
            else:
                run = 0
            prev = a
        return i, len(flags), sum(flags), n_seg, best

    return _map_rows(
        df,
        [id_col, "wav_bytes"],
        row,
        f"{id_col} long, n_frames int, n_active int, n_segments int, max_run int",
    )


def png_patch_stats(
    df: DataFrame, patch: int = 4, id_col: str = "doc_id"
) -> DataFrame:
    """REAL decode + ViT-style patch grid: the decoded pixel plane is cut
    into ``patch`` x ``patch`` tiles (ragged edge tiles keep their partial
    size, like ViT padding masks) and each tile reports its exact integer
    sum/count — the patch-embedding preprocessing shape, value-checkable
    because the synthetic pattern is closed-form. Payload bytes never
    leave the Arrow stage; only the bounded per-patch rows shuffle. Many
    rows per image, so it keeps its own batch loop."""

    def pt(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for d, payload in zip(pdf[id_col], pdf["media_bytes"]):
                w, h, _c, px = decode_image_bytes(payload)
                sums: dict = {}
                for y in range(h):
                    base = y * w
                    for x in range(w):
                        key = (y // patch, x // patch)
                        s, n = sums.get(key, (0, 0))
                        sums[key] = (s + px[base + x], n + 1)
                for (pi, pj), (s, n) in sums.items():
                    rows.append((d, pi, pj, n, s, s // n))
            yield pd.DataFrame(
                rows,
                columns=[
                    id_col, "patch_i", "patch_j", "n_px", "patch_sum", "patch_mean",
                ],
            )

    return df.mapInPandas(
        pt,
        schema=(
            f"{id_col} long, patch_i int, patch_j int, n_px int,"
            " patch_sum long, patch_mean long"
        ),
    )
