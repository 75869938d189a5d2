"""Multimodal column plumbing: opaque BINARY payloads + typed metadata,
processed with Arrow-batched ``mapInPandas``.

The decode seam is REAL for PNG and JPEG: ``decode_png`` is a
pure-stdlib decoder (zlib inflate + the five scanline filters, RFC 2083),
``operators/jpeg.py:decode_jpeg`` is a real sequential AND progressive
JPEG decoder (Huffman from DHT, multi-scan coefficient accumulation,
dequant, IDCT, chroma upsampling, YCbCr→RGB), and
``extract_features`` dispatches on the magic bytes, emitting true image
features (width/height/channels/bit_depth/pixel_mean). Raw-frame video
(YUV4MPEG2) parses for real too (operators/y4m.py). Only compressed
codecs this repo lacks (lossy-VP8 WebP, compressed video) remain
STUBBED behind the same seam (deterministic byte-level "features"; a
real deployment swaps ``_decode_stub`` for PIL/ffmpeg). What is tested
either way:
the schema contract (binary + struct metadata), the mapInPandas batch
path (Arrow transfer, per-partition batching), and the partition-friendly
layout — the parts that matter for running this against 100 TB of media
shards.

The testdata has no media table, so ``with_binary_payload`` derives a
binary column from documents.text (utf-8 bytes) and ``png_payload``
encodes each doc's leading bytes as a real grayscale PNG — pixel values
derive from the text, so the decode path keeps an exact SQL oracle.
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("first_byte", T.IntegerType()),
        T.StructField("byte_mean", T.DoubleType()),
        T.StructField("format", T.StringType()),
        # Real-decode columns — populated for PNG payloads, null otherwise.
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("bit_depth", T.IntegerType()),
        T.StructField("pixel_mean", T.DoubleType()),
    ]
)

PNG_MAGIC = b"\x89PNG\r\n\x1a\n"

# Samples per pixel by PNG color type (palette type 3 unsupported — it
# needs PLTE indirection; the decoder returns None and the caller falls
# back to byte features).
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def _png_chunk(tag: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + tag
        + body
        + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
    )


def encode_png(pixels: bytes, width: int, height: int, channels: int = 1) -> bytes:
    """Minimal PNG writer (8-bit, filter 0 per scanline): grayscale (1),
    gray+alpha (2), RGB (3) or RGBA (4) ``channels``. Exists so tests and
    ``png_payload`` can fabricate REAL decodable images from deterministic
    pixel bytes without any external codec."""
    color_type = {1: 0, 2: 4, 3: 2, 4: 6}[channels]
    if len(pixels) != width * height * channels:
        raise ValueError(
            f"need {width * height * channels} samples, got {len(pixels)}"
        )
    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    stride = width * channels
    raw = b"".join(
        b"\x00" + pixels[y * stride : (y + 1) * stride] for y in range(height)
    )
    return (
        PNG_MAGIC
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw))
        + _png_chunk(b"IEND", b"")
    )


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def decode_png(payload: bytes, keep_pixels: bool = False) -> dict | None:
    """Pure-stdlib PNG decoder: chunk parse, zlib inflate, and scanline
    reconstruction for all five filter types (None/Sub/Up/Average/Paeth,
    PNG spec §6). Supports 8-bit depth, color types 0/2/4/6, no interlace.
    Returns {width, height, channels, bit_depth, pixel_mean} or None when
    the payload is not a PNG this decoder handles — the caller then falls
    through to the byte-stat stub, so unsupported media degrade, not fail.
    """
    if payload is None or not payload.startswith(PNG_MAGIC):
        return None
    pos, n = len(PNG_MAGIC), len(payload)
    width = height = bit_depth = color_type = interlace = None
    idat = bytearray()
    while pos + 8 <= n:
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        tag = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + length]
        if len(body) < length:  # truncated chunk — stop parsing
            break
        pos += 12 + length  # length + tag + body + crc
        if tag == b"IHDR":
            width, height, bit_depth, color_type, _, _, interlace = struct.unpack(
                ">IIBBBBB", body
            )
        elif tag == b"IDAT":
            idat.extend(body)
        elif tag == b"IEND":
            break
    if (
        width is None
        or bit_depth != 8
        or interlace != 0
        or color_type not in _PNG_CHANNELS
        or not idat
    ):
        return None
    channels = _PNG_CHANNELS[color_type]
    stride = width * channels
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error:
        return None
    if len(raw) != (stride + 1) * height:
        return None
    prior = bytearray(stride)
    total = 0
    pixels = bytearray() if keep_pixels else None
    for y in range(height):
        row = raw[y * (stride + 1) : (y + 1) * (stride + 1)]
        ftype, filt = row[0], bytearray(row[1:])
        recon = bytearray(stride)
        bpp = channels  # 8-bit depth: bytes per pixel == channels
        for x in range(stride):
            a = recon[x - bpp] if x >= bpp else 0
            b = prior[x]
            c = prior[x - bpp] if x >= bpp else 0
            if ftype == 0:
                v = filt[x]
            elif ftype == 1:
                v = filt[x] + a
            elif ftype == 2:
                v = filt[x] + b
            elif ftype == 3:
                v = filt[x] + ((a + b) >> 1)
            elif ftype == 4:
                v = filt[x] + _paeth(a, b, c)
            else:
                return None
            recon[x] = v & 0xFF
        total += sum(recon)
        if pixels is not None:
            pixels.extend(recon)
        prior = recon
    out = {
        "width": width,
        "height": height,
        "channels": channels,
        "bit_depth": bit_depth,
        "pixel_mean": total / (stride * height),
    }
    if pixels is not None:
        out["pixels"] = bytes(pixels)
    return out


def with_binary_payload(docs: DataFrame) -> DataFrame:
    """documents → (doc_id, payload BINARY, meta STRUCT<format,n_bytes>)."""
    return docs.select(
        "doc_id",
        F.encode("text", "utf-8").alias("payload"),
        F.struct(
            F.lit("text/plain;fake-media").alias("format"),
            F.octet_length("text").cast("long").alias("n_bytes"),
        ).alias("meta"),
    )


def _decode_stub(payload: bytes) -> dict:
    """STUB decoder — deterministic byte statistics standing in for media
    decodes this repo has no codec for (lossy-VP8 WebP and compressed
    video; PNG, GIF, VP8L WebP, baseline AND progressive JPEG, and raw
    Y4M video are all real).
    Swap this function for the real codec; the Spark plumbing
    around it (schema, batching, partitioning) is the tested contract.
    PNG, baseline JPEG, GIF and lossless WebP do not reach here —
    ``decode_png``/``decode_jpeg``/``decode_gif``/``decode_webp`` are the
    real thing."""
    if payload is None or len(payload) == 0:
        return {"n_bytes": 0, "first_byte": -1, "byte_mean": 0.0}
    return {
        "n_bytes": len(payload),
        "first_byte": payload[0],
        "byte_mean": float(sum(payload)) / len(payload),
    }


_IMG_NULLS = {
    "width": None,
    "height": None,
    "channels": None,
    "bit_depth": None,
    "pixel_mean": None,
}


def _decode_dispatch(payload: bytes, declared_format: str | None) -> dict:
    """Per-payload codec dispatch: real PNG/baseline-JPEG decode when the
    magic matches (format reported from the CONTENT, not the metadata
    claim), byte-stat stub otherwise."""
    png = decode_png(payload)
    if png is not None:
        return {
            "n_bytes": len(payload),
            "first_byte": payload[0],
            "byte_mean": None,  # raw-byte mean of a compressed stream is noise
            "format": "image/png",
            **png,
        }
    if payload is not None and bytes(payload[:2]) == b"\xff\xd8":
        from pagerank_giraph_vs_mapreduce_spark.operators.jpeg import (
            decode_jpeg,
        )

        jpg = decode_jpeg(payload)
        if jpg is not None:
            return {
                "n_bytes": len(payload),
                "first_byte": payload[0],
                "byte_mean": None,
                "format": "image/jpeg",
                **jpg,
            }
    if (
        payload is not None
        and bytes(payload[:4]) == b"RIFF"
        and bytes(payload[8:12]) == b"WEBP"
    ):
        from pagerank_giraph_vs_mapreduce_spark.operators.webp import (
            decode_webp,
        )

        wp = decode_webp(payload)
        if wp is not None:
            return {
                "n_bytes": len(payload),
                "first_byte": payload[0],
                "byte_mean": None,
                "format": "image/webp",
                **wp,
            }
    if payload is not None and bytes(payload[:4]) == b"GIF8":
        from pagerank_giraph_vs_mapreduce_spark.operators.gif import (
            decode_gif,
        )

        gif = decode_gif(payload)
        if gif is not None:
            return {
                "n_bytes": len(payload),
                "first_byte": payload[0],
                "byte_mean": None,
                "format": "image/gif",
                # still-image feature view: first frame's stats
                **{
                    k: gif[k]
                    for k in (
                        "width", "height", "channels", "bit_depth",
                        "pixel_mean",
                    )
                },
            }
    return {**_decode_stub(payload), "format": declared_format, **_IMG_NULLS}


def extract_features(media: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over (doc_id, payload, meta):
    one codec dispatch per row inside the batch loop, schema fixed by
    FEATURE_SCHEMA regardless of which codec ran."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            feats = [
                _decode_dispatch(p, m["format"] if m is not None else None)
                for p, m in zip(pdf["payload"], pdf["meta"])
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": pd.Series(
                        [f["n_bytes"] for f in feats], dtype="int64"
                    ),
                    "first_byte": pd.Series(
                        [f["first_byte"] for f in feats], dtype="int32"
                    ),
                    # Nullable extension dtypes: a plain float64 Series
                    # would smuggle None in as NaN, not SQL NULL.
                    "byte_mean": pd.Series(
                        [f["byte_mean"] for f in feats], dtype="Float64"
                    ),
                    "format": pd.Series(
                        [f["format"] for f in feats], dtype="object"
                    ),
                    "width": pd.Series(
                        [f["width"] for f in feats], dtype="Int32"
                    ),
                    "height": pd.Series(
                        [f["height"] for f in feats], dtype="Int32"
                    ),
                    "channels": pd.Series(
                        [f["channels"] for f in feats], dtype="Int32"
                    ),
                    "bit_depth": pd.Series(
                        [f["bit_depth"] for f in feats], dtype="Int32"
                    ),
                    "pixel_mean": pd.Series(
                        [f["pixel_mean"] for f in feats], dtype="Float64"
                    ),
                }
            )

    return media.mapInPandas(batches, FEATURE_SCHEMA)


def decode_external(media: DataFrame, codec, formats: tuple[str, ...] = ()):
    """The C-codec seam as a first-class API: route
    payloads through an EXTERNAL decoder — the production path for the
    one media class this repo deliberately does not decode in Python
    (lossy VP8 / AV1 / H.264 bitstreams; see SCALING.md "Lossy video").

    ``codec(payload: bytes) -> dict | None`` runs once per row inside
    the Arrow batch loop and is expected to return the same keys the
    built-in decoders produce (``width height channels bit_depth
    pixel_mean`` plus ``format``); extra keys are ignored, missing ones
    null out. The contract the pytest pins (tests/test_round9_ops.py):

    - output schema is FEATURE_SCHEMA verbatim, whichever codec ran;
    - the codec sees plain ``bytes`` (never Arrow buffers), exactly one
      call per row, only for rows whose declared format matches
      ``formats`` (empty = all rows);
    - ``None`` AND per-row exceptions degrade that ROW to the byte-stat
      stub — a poison payload cannot kill the batch, task, or job;
    - results are partition-layout- and batch-boundary-independent.

    Scale shape: identical to extract_features — a row-local Arrow map,
    zero shuffle, parallel per-file."""

    def one(payload, meta) -> dict:
        fmt = meta["format"] if meta is not None else None
        out = None
        if not formats or (fmt is not None and fmt in formats):
            try:
                out = codec(bytes(payload) if payload is not None else b"")
            except Exception:  # poison row: degrade, don't kill the task
                out = None
        if out is None:
            return {**_decode_stub(payload), "format": fmt, **_IMG_NULLS}
        base = {
            "n_bytes": len(payload) if payload is not None else 0,
            "first_byte": payload[0] if payload else -1,
            "byte_mean": None,
            "format": fmt,
            **_IMG_NULLS,
        }
        # Coerce the codec's values to the schema's types HERE, per row —
        # a codec returning e.g. width="640" (or garbage) must degrade
        # only this row, not blow up later inside the typed pd.Series
        # construction and kill the whole Arrow batch (the documented
        # poison-row contract).
        def i32(v):
            # int() alone is not enough: an out-of-int32-range value
            # survives coercion here and then kills the WHOLE batch in
            # the typed Int32 pd.Series construction — range-check so an
            # absurd codec value poisons only its row
            x = int(v)
            if not (-(2**31) <= x < 2**31):
                raise ValueError(f"out of int32 range: {x}")
            return x

        def i64(v):
            x = int(v)
            if not (-(2**63) <= x < 2**63):
                raise ValueError(f"out of int64 range: {x}")
            return x

        coerce = {
            "n_bytes": i64,
            "first_byte": i32,
            "byte_mean": float,
            "format": str,
            "width": i32,
            "height": i32,
            "channels": i32,
            "bit_depth": i32,
            "pixel_mean": float,
        }
        try:
            base.update(
                {
                    k: (None if out[k] is None else coerce[k](out[k]))
                    for k in base
                    if k in out
                }
            )
        except Exception:  # wrong-typed codec output: poison row → stub
            return {**_decode_stub(payload), "format": fmt, **_IMG_NULLS}
        return base

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            feats = [
                one(p, m) for p, m in zip(pdf["payload"], pdf["meta"])
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": pd.Series(
                        [f["n_bytes"] for f in feats], dtype="int64"
                    ),
                    "first_byte": pd.Series(
                        [f["first_byte"] for f in feats], dtype="int32"
                    ),
                    "byte_mean": pd.Series(
                        [f["byte_mean"] for f in feats], dtype="Float64"
                    ),
                    "format": pd.Series(
                        [f["format"] for f in feats], dtype="object"
                    ),
                    "width": pd.Series(
                        [f["width"] for f in feats], dtype="Int32"
                    ),
                    "height": pd.Series(
                        [f["height"] for f in feats], dtype="Int32"
                    ),
                    "channels": pd.Series(
                        [f["channels"] for f in feats], dtype="Int32"
                    ),
                    "bit_depth": pd.Series(
                        [f["bit_depth"] for f in feats], dtype="Int32"
                    ),
                    "pixel_mean": pd.Series(
                        [f["pixel_mean"] for f in feats], dtype="Float64"
                    ),
                }
            )

    return media.mapInPandas(batches, FEATURE_SCHEMA)


PNG_W, PNG_H = 16, 4


def png_payload(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, payload BINARY, meta STRUCT): each doc's first
    ``PNG_W*PNG_H`` text bytes (space-padded) encoded as a REAL grayscale
    PNG via ``encode_png`` — pixels derive from the text, so downstream
    decode results stay expressible as an exact SQL oracle over the text
    column. Arrow-batched mapInPandas, same batch shape as the decode."""
    n_px = PNG_W * PNG_H
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
            T.StructField(
                "meta",
                T.StructType(
                    [
                        T.StructField("format", T.StringType()),
                        T.StructField("n_bytes", T.LongType()),
                    ]
                ),
            ),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = []
            for text in pdf[text_col]:
                px = (text or "").encode("utf-8")[:n_px].ljust(n_px, b" ")
                payloads.append(encode_png(px, PNG_W, PNG_H, channels=1))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "payload": pd.Series(payloads, dtype="object"),
                    "meta": [
                        {"format": "image/png", "n_bytes": len(p)}
                        for p in payloads
                    ],
                }
            )

    # explicit projection: mapInPandas consumes whole input rows, so
    # without it the parquet scan reads every column of `docs` (a
    # 5-column ReadSchema for a 2-column need)
    return docs.select("doc_id", text_col).mapInPandas(batches, schema)


JPEG_BLOCKS_X, JPEG_BLOCKS_Y = 4, 2  # 32x16 px, 8 block-constant tiles


def jpeg_payload(
    docs: DataFrame, text_col: str = "text", progressive: bool = False
) -> DataFrame:
    """(doc_id, payload BINARY, meta STRUCT): each doc's first
    ``JPEG_BLOCKS_X*JPEG_BLOCKS_Y`` text bytes (space-padded) become a
    REAL grayscale JPEG (operators/jpeg.py), one CONSTANT 8x8 block per
    byte. Block-constant pixels + all-ones quant tables make the lossy
    DCT round-trip bit-exact (the only nonzero coefficient is the DC
    term — see jpeg.py module docstring), so the decoded pixel_mean
    keeps an exact SQL oracle over the text column: the PNG-twin fixture
    discipline, for the codec a multimodal corpus actually ships.
    ``progressive=True`` writes SOF2 files instead (default scan script:
    interleaved DC-first at Al=1 + DC refinement + EOB-run-coded AC
    bands) — same pixels, so the same exact oracle holds."""
    import numpy as np

    from pagerank_giraph_vs_mapreduce_spark.operators.jpeg import (
        encode_jpeg_gray,
        encode_jpeg_progressive,
    )

    n_blocks = JPEG_BLOCKS_X * JPEG_BLOCKS_Y
    w, h = JPEG_BLOCKS_X * 8, JPEG_BLOCKS_Y * 8
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
            T.StructField(
                "meta",
                T.StructType(
                    [
                        T.StructField("format", T.StringType()),
                        T.StructField("n_bytes", T.LongType()),
                    ]
                ),
            ),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = []
            for text in pdf[text_col]:
                vals = (text or "").encode("utf-8")[:n_blocks].ljust(
                    n_blocks, b" "
                )
                px = np.zeros((h, w), dtype=np.uint8)
                for i, v in enumerate(vals):
                    by, bx = divmod(i, JPEG_BLOCKS_X)
                    px[by * 8 : (by + 1) * 8, bx * 8 : (bx + 1) * 8] = v
                if progressive:
                    payloads.append(encode_jpeg_progressive([px]))
                else:
                    payloads.append(encode_jpeg_gray(px.tobytes(), w, h))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "payload": pd.Series(payloads, dtype="object"),
                    "meta": [
                        {"format": "image/jpeg", "n_bytes": len(p)}
                        for p in payloads
                    ],
                }
            )

    return docs.select("doc_id", text_col).mapInPandas(batches, schema)


GIF_W, GIF_H = 16, 4  # single-frame fixture: 64 px, one per text byte
GIF_FRAME_PX = 16  # animated fixture: 4 frames x 16 px
GIF_N_FRAMES = 4


def gif_payload(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, payload BINARY, meta STRUCT): each doc's first 64 text
    bytes (space-padded) as a REAL single-frame 16x4 GIF over the
    grayscale palette (index i → rgb(i,i,i)) — real LZW, lossless, so
    the decoded pixel_mean equals the text-byte mean exactly (no
    constant-block trick needed; GIF is lossless over indices)."""
    from pagerank_giraph_vs_mapreduce_spark.operators.gif import encode_gif

    n_px = GIF_W * GIF_H
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
            T.StructField(
                "meta",
                T.StructType(
                    [
                        T.StructField("format", T.StringType()),
                        T.StructField("n_bytes", T.LongType()),
                    ]
                ),
            ),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = []
            for text in pdf[text_col]:
                px = (text or "").encode("utf-8")[:n_px].ljust(n_px, b" ")
                payloads.append(encode_gif([px], GIF_W, GIF_H))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "payload": pd.Series(payloads, dtype="object"),
                    "meta": [
                        {"format": "image/gif", "n_bytes": len(p)}
                        for p in payloads
                    ],
                }
            )

    return docs.select("doc_id", text_col).mapInPandas(batches, schema)


WEBP_W, WEBP_H = 16, 4  # 64 px, one per text byte (the GIF/PNG shape)


def webp_payload(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, payload BINARY, meta STRUCT): each doc's first 64 text
    bytes (space-padded) as a REAL lossless-WebP (VP8L) 16x4 grayscale
    image — full prefix coding, greedy LZ77 and a 5-bit color cache, so
    text with repeats exercises the backref and cache decode paths.
    Lossless: decoded RGB pixel_mean equals the byte mean exactly."""
    from pagerank_giraph_vs_mapreduce_spark.operators.webp import encode_webp

    n_px = WEBP_W * WEBP_H
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
            T.StructField(
                "meta",
                T.StructType(
                    [
                        T.StructField("format", T.StringType()),
                        T.StructField("n_bytes", T.LongType()),
                    ]
                ),
            ),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = []
            for text in pdf[text_col]:
                bs = (text or "").encode("utf-8")[:n_px].ljust(n_px, b" ")
                px = [0xFF000000 | (b << 16) | (b << 8) | b for b in bs]
                payloads.append(
                    encode_webp(px, WEBP_W, WEBP_H, cache_bits=5)
                )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "payload": pd.Series(payloads, dtype="object"),
                    "meta": [
                        {"format": "image/webp", "n_bytes": len(p)}
                        for p in payloads
                    ],
                }
            )

    return docs.select("doc_id", text_col).mapInPandas(batches, schema)


def gif_animated_payload(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, payload BINARY): a REAL 4-frame animated GIF per doc —
    frame f holds text bytes [16f, 16f+16) (space-padded) as a 16x1
    strip. The multi-image-descriptor + per-frame LZW path of the
    decoder, with text-derived per-frame means for the oracle."""
    from pagerank_giraph_vs_mapreduce_spark.operators.gif import encode_gif

    total = GIF_FRAME_PX * GIF_N_FRAMES

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = []
            for text in pdf[text_col]:
                raw = (text or "").encode("utf-8")[:total].ljust(total, b" ")
                frames = [
                    raw[f * GIF_FRAME_PX : (f + 1) * GIF_FRAME_PX]
                    for f in range(GIF_N_FRAMES)
                ]
                payloads.append(encode_gif(frames, GIF_FRAME_PX, 1))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "payload": pd.Series(payloads, dtype="object"),
                }
            )

    return docs.select("doc_id", text_col).mapInPandas(
        batches, "doc_id bigint, payload binary"
    )


def gif_frame_stats(media: DataFrame) -> DataFrame:
    """REAL frame sampling: decode every frame of each GIF payload and
    emit (doc_id, frame_idx, frame_mean) — the actual decode behind the
    row-fan-out shape sample_frames demonstrates with hashes. Arrow-
    batched; undecodable payloads contribute no rows (degrade)."""
    from pagerank_giraph_vs_mapreduce_spark.operators.gif import decode_gif

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, idxs, means = [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                d = decode_gif(payload)
                if d is None:
                    continue
                for f, m in enumerate(d["frame_means"]):
                    ids.append(int(doc_id))
                    idxs.append(f)
                    means.append(m)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "frame_mean": pd.Series(means, dtype="float64"),
                }
            )

    return media.mapInPandas(
        batches, "doc_id bigint, frame_idx int, frame_mean double"
    )


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.LongType()),
        T.StructField("frame_md5", T.StringType()),
        T.StructField("frame_n", T.LongType()),
    ]
)


def ascii_payload(docs: DataFrame) -> DataFrame:
    """(doc_id, payload STRING): printable-ASCII-sanitized text standing in
    for a decoded media byte stream (chars == bytes after sanitization, so
    character ops below are exactly byte ops)."""
    return docs.select(
        "doc_id", F.regexp_replace("text", "[^ -~]", "").alias("payload")
    )


def sample_frames(media: DataFrame, frame_chars: int = 64, every: int = 4) -> DataFrame:
    """Frame sampling: split each payload into fixed-size frames, keep every
    ``every``-th — the video-frame-extraction batch shape (one input row →
    many output rows) as Arrow-batched ``mapInPandas``.

    Emits md5 of each kept frame (the stand-in for "decoded frame tensor");
    a real deployment replaces the hash with the codec call — the row
    fan-out, schema and batching are the contract under test. Fan-out is
    bounded per input row, so task memory stays flat; output partitioning
    inherits the input's (no shuffle)."""
    import hashlib

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, idxs, hashes, lens = [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                if payload is None:
                    continue
                n_frames = -(-len(payload) // frame_chars)
                for i in range(0, n_frames, every):
                    frame = payload[i * frame_chars : (i + 1) * frame_chars]
                    ids.append(doc_id)
                    idxs.append(i)
                    hashes.append(hashlib.md5(frame.encode("utf-8")).hexdigest())
                    lens.append(len(frame))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int64"),
                    "frame_md5": pd.Series(hashes, dtype="object"),
                    "frame_n": pd.Series(lens, dtype="int64"),
                }
            )

    return media.mapInPandas(batches, FRAME_SCHEMA)


RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("thumb", T.StringType()),
        T.StructField("stride", T.LongType()),
    ]
)


def resize_payload(media: DataFrame, target: int = 32) -> DataFrame:
    """Downsample each payload to ≤``target`` chars by strided selection —
    the image-resize/audio-resample shape (one row in, one smaller row
    out), again as Arrow-batched ``mapInPandas``. Deterministic stand-in
    for a real resampler; stride = ceil(len/target)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out_thumb, out_stride = [], []
            for payload in pdf["payload"]:
                if payload is None or len(payload) == 0:
                    out_thumb.append("")
                    out_stride.append(1)
                    continue
                stride = -(-len(payload) // target)
                out_thumb.append(payload[::stride])
                out_stride.append(stride)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "thumb": pd.Series(out_thumb, dtype="object"),
                    "stride": pd.Series(out_stride, dtype="int64"),
                }
            )

    return media.mapInPandas(batches, RESIZE_SCHEMA)


def decode_pixels(payload: bytes) -> tuple[int, int, int, bytes] | None:
    """Codec-dispatched full-pixel decode: (width, height, channels,
    row-major samples) for PNG, baseline JPEG, or GIF (first frame),
    None for anything else — the shared seam under every pixel-consuming
    transform (resize, patchify, feature extractors)."""
    d = decode_png(payload, keep_pixels=True)
    if d is not None:
        return d["width"], d["height"], d["channels"], d["pixels"]
    if payload is not None and bytes(payload[:2]) == b"\xff\xd8":
        from pagerank_giraph_vs_mapreduce_spark.operators.jpeg import (
            decode_jpeg,
        )

        j = decode_jpeg(payload, keep_pixels=True)
        if j is not None:
            return j["width"], j["height"], j["channels"], j["pixels"]
    if payload is not None and bytes(payload[:4]) == b"GIF8":
        from pagerank_giraph_vs_mapreduce_spark.operators.gif import (
            decode_gif,
        )

        g = decode_gif(payload, keep_pixels=True)
        if g is not None:
            fw, fh, rgb = g["frames"][0]
            return fw, fh, 3, rgb
    if (
        payload is not None
        and bytes(payload[:4]) == b"RIFF"
        and bytes(payload[8:12]) == b"WEBP"
    ):
        from pagerank_giraph_vs_mapreduce_spark.operators.webp import (
            decode_webp,
        )

        wp = decode_webp(payload, keep_pixels=True)
        if wp is not None:
            ch = wp["channels"]
            buf = bytearray()
            for p in wp["pixels"]:
                buf += bytes(
                    ((p >> 16) & 0xFF, (p >> 8) & 0xFF, p & 0xFF)
                    if ch == 3
                    else (
                        (p >> 16) & 0xFF,
                        (p >> 8) & 0xFF,
                        p & 0xFF,
                        (p >> 24) & 0xFF,
                    )
                )
            return wp["width"], wp["height"], ch, bytes(buf)
    return None


def resize_nearest(media: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """Nearest-neighbor image resize through the multimodal seam — the
    transform step of an image-pretraining pipeline (decode → RESIZE →
    feature/patchify), Arrow-batched like the decode: each batch decodes
    the payload to its full pixel buffer (PNG, baseline JPEG or GIF via
    ``decode_pixels``) and samples
    src[(floor(y*H/out_h))*W + floor(x*W/out_w)] per output pixel and
    channel — pure index arithmetic, so text-derived fixtures keep an
    exact SQL oracle. Rows whose payload no decoder handles emit
    NULL dims (degrade, not fail — same contract as extract_features).
    At 100 TB this is a narrow map over the media scan: no shuffle, and
    only the (much smaller) resized buffers leave the stage."""
    import hashlib

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("width", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
            T.StructField("resized_mean", T.DoubleType()),
            T.StructField("resized_md5", T.StringType()),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                d = decode_pixels(payload)
                if d is None:
                    rows.append((int(doc_id), None, None, None, None))
                    continue
                w, h, ch, src = d
                out = bytearray()
                for y in range(out_h):
                    sy = (y * h) // out_h
                    for x in range(out_w):
                        sx = (x * w) // out_w
                        base = (sy * w + sx) * ch
                        out.extend(src[base : base + ch])
                mean = sum(out) / len(out)
                rows.append(
                    (
                        int(doc_id),
                        out_w,
                        out_h,
                        mean,
                        hashlib.md5(bytes(out)).hexdigest(),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "width", "height", "resized_mean", "resized_md5"],
            ).astype(
                {
                    "doc_id": "int64",
                    "width": "Int32",
                    "height": "Int32",
                    "resized_mean": "Float64",
                    "resized_md5": "object",
                }
            )

    return media.mapInPandas(batches, schema)


# ------------------------------------------------------------------ audio

WAV_SCHEMA = "doc_id bigint, wav binary"
AUDIO_STATS_SCHEMA = (
    "doc_id bigint, n_samples int, sample_rate int, peak int, rms double"
)


def _synth_samples(doc_id: int) -> list[int]:
    """Deterministic 16-bit PCM samples — pure function of doc_id, shared
    contract with the SQL oracle."""
    n = 100 + doc_id % 50
    return [((doc_id * 31 + k * 17) % 65536) - 32768 for k in range(n)]


def synth_wav(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(doc_id, wav BINARY): a REAL RIFF/WAVE file per row (stdlib
    ``wave`` encoder, mono 16-bit PCM @ 8 kHz) over deterministic
    samples. Arrow-batched mapInPandas; the payload is a valid .wav any
    player opens — the audio twin of the real PNG codec path."""
    import pandas as pd

    def batches(it):
        import io
        import struct
        import wave

        for pdf in it:
            rows = []
            for doc_id in pdf[id_col]:
                samples = _synth_samples(int(doc_id))
                buf = io.BytesIO()
                with wave.open(buf, "wb") as w:
                    w.setnchannels(1)
                    w.setsampwidth(2)
                    w.setframerate(8000)
                    w.writeframes(
                        struct.pack(f"<{len(samples)}h", *samples)
                    )
                rows.append((int(doc_id), buf.getvalue()))
            yield pd.DataFrame(rows, columns=["doc_id", "wav"])

    return docs.select(id_col).mapInPandas(batches, WAV_SCHEMA)


def audio_stats(media: DataFrame) -> DataFrame:
    """Decode the WAV payloads back (stdlib ``wave`` parser — header
    validation, frame extraction) and emit per-clip signal stats:
    n_samples, sample_rate, peak |amplitude|, RMS (6 dp). The decode is
    row-local Arrow-batched Python — the mapInPandas seam where a real
    audio featurizer (mel spectrogram, VAD) drops in; everything around
    it (schema, batching, partition locality) is the tested contract."""
    import pandas as pd

    def batches(it):
        import io
        import math
        import struct
        import wave

        for pdf in it:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["wav"]):
                with wave.open(io.BytesIO(bytes(payload)), "rb") as w:
                    n = w.getnframes()
                    rate = w.getframerate()
                    raw = w.readframes(n)
                samples = struct.unpack(f"<{n}h", raw)
                sq = sum(s * s for s in samples)  # exact in int
                rms = round(math.sqrt(sq / n), 6) if n else 0.0
                peak = max(abs(s) for s in samples) if n else 0
                rows.append((int(doc_id), n, rate, peak, rms))
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "n_samples", "sample_rate", "peak", "rms",
                ],
            )

    return media.mapInPandas(batches, AUDIO_STATS_SCHEMA)


AHASH_W, AHASH_H = 8, 2


def ahash16(media: DataFrame) -> DataFrame:
    """16-bit average perceptual hash per image: decode → nearest-resize
    to 8x2 grayscale (first channel; same index arithmetic as
    ``resize_nearest``) → bit k set iff its pixel exceeds the tile mean,
    as the EXACT integer comparison ``16·px_k > Σ px`` (no float mean —
    cross-engine ties are impossible). The image analog of SimHash:
    near-identical images (recompression, slight crops at the resample
    grid) land within small Hamming distance, so image dedup reuses the
    text pipeline's multi-probe blocker (dedup.simhash_pairs_from_sigs,
    bits=16). Production pHash uses 64-bit DCT signatures — same
    plumbing, wider blocks (the simhash_wide discipline); 16 bits is the
    fixture-sized instance with an exact SQL oracle.

    Narrow Arrow-batched map over the media scan: no shuffle; undecodable
    payloads emit NULL (degrade-not-fail, the decode_pixels contract)."""
    n_px = AHASH_W * AHASH_H
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("ahash", T.LongType()),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                d = decode_pixels(payload)
                if d is None:
                    rows.append((int(doc_id), None))
                    continue
                w, h, ch, src = d
                px = []
                for y in range(AHASH_H):
                    sy = (y * h) // AHASH_H
                    for x in range(AHASH_W):
                        sx = (x * w) // AHASH_W
                        px.append(src[(sy * w + sx) * ch])
                total = sum(px)
                sig = 0
                for k, v in enumerate(px):
                    if n_px * v > total:
                        sig |= 1 << k
                rows.append((int(doc_id), sig))
            yield pd.DataFrame(rows, columns=["doc_id", "ahash"])

    return media.select("doc_id", "payload").mapInPandas(batches, schema)


Y4M_FRAME_W, Y4M_FRAME_H = 8, 2  # 16 px/frame
Y4M_N_FRAMES = 4

IVF_CHUNK = 16  # text bytes per IVF frame payload
IVF_N_FRAMES = 4


def ivf_payload(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, payload BINARY): a REAL IVF (DKIF) compressed-video
    container per doc — frame f carries text bytes [16f, 16f+16) as its
    opaque codec payload (UNpadded: trailing frames shrink with the
    text, exercising variable frame sizes), fourcc VP80, timestamps
    0..3. The container framing is real; the payloads stand in for the
    codec bitstreams decode_external hands to a C library."""
    from pagerank_giraph_vs_mapreduce_spark.operators.ivf_container import (
        encode_ivf,
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = []
            for text in pdf[text_col]:
                raw = (text or "").encode("utf-8")
                frames = [
                    raw[f * IVF_CHUNK : (f + 1) * IVF_CHUNK]
                    for f in range(IVF_N_FRAMES)
                ]
                payloads.append(encode_ivf(frames, 16, 9, fourcc=b"VP80"))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "payload": pd.Series(payloads, dtype="object"),
                }
            )

    return docs.select("doc_id", text_col).mapInPandas(
        batches, "doc_id bigint, payload binary"
    )


def ivf_frame_stats(media: DataFrame) -> DataFrame:
    """Parse every frame header of each IVF payload and emit (doc_id,
    frame_idx, frame_size, ts, byte_mean, n_frames, fourcc) — the
    container-side statistics available WITHOUT decompressing the codec
    bitstream. Arrow-batched; unparseable payloads contribute no rows
    (degrade)."""
    from pagerank_giraph_vs_mapreduce_spark.operators.ivf_container import (
        decode_ivf,
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows: dict[str, list] = {
                "doc_id": [], "frame_idx": [], "frame_size": [], "ts": [],
                "byte_mean": [], "n_frames": [], "fourcc": [],
            }
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                d = decode_ivf(payload)
                if d is None:
                    continue
                for f in range(d["n_frames"]):
                    rows["doc_id"].append(int(doc_id))
                    rows["frame_idx"].append(f)
                    rows["frame_size"].append(d["frame_sizes"][f])
                    rows["ts"].append(d["timestamps"][f])
                    rows["byte_mean"].append(d["frame_byte_means"][f])
                    rows["n_frames"].append(d["n_frames"])
                    rows["fourcc"].append(d["fourcc"])
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(rows["doc_id"], dtype="int64"),
                    "frame_idx": pd.Series(rows["frame_idx"], dtype="int32"),
                    "frame_size": pd.Series(rows["frame_size"], dtype="int64"),
                    "ts": pd.Series(rows["ts"], dtype="int64"),
                    "byte_mean": pd.Series(rows["byte_mean"], dtype="float64"),
                    "n_frames": pd.Series(rows["n_frames"], dtype="int32"),
                    "fourcc": pd.Series(rows["fourcc"], dtype="object"),
                }
            )

    return media.mapInPandas(
        batches,
        "doc_id bigint, frame_idx int, frame_size bigint, ts bigint, "
        "byte_mean double, n_frames int, fourcc string",
    )


IVF_ZLIB_FOURCC = "ZL00"
IVF_ZLIB_W, IVF_ZLIB_H = 8, 2  # 16-byte luma plane per frame


def ivf_zlib_payload(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, payload BINARY): a REAL IVF container whose 4 frame
    payloads are REAL zlib streams — each frame f deflates the 16-byte
    luma plane text[16f, 16f+16) (space-padded), fourcc ZL00. Unlike
    ivf_payload (opaque stand-in payloads), these frames round-trip
    through an actual C codec (zlib), so the container -> seam -> codec
    -> features chain is provable end-to-end with an exact oracle."""
    import zlib

    from pagerank_giraph_vs_mapreduce_spark.operators.ivf_container import (
        encode_ivf,
    )

    n_px = IVF_ZLIB_W * IVF_ZLIB_H

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = []
            for text in pdf[text_col]:
                raw = (text or "").encode("utf-8")
                frames = [
                    zlib.compress(
                        raw[f * n_px : (f + 1) * n_px].ljust(n_px, b" ")
                    )
                    for f in range(IVF_N_FRAMES)
                ]
                payloads.append(
                    encode_ivf(
                        frames,
                        IVF_ZLIB_W,
                        IVF_ZLIB_H,
                        fourcc=IVF_ZLIB_FOURCC.encode("ascii"),
                    )
                )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "payload": pd.Series(payloads, dtype="object"),
                }
            )

    return docs.select("doc_id", text_col).mapInPandas(
        batches, "doc_id bigint, payload binary"
    )


def ivf_explode_frames(media: DataFrame) -> DataFrame:
    """Container -> seam adapter: parse each IVF payload and emit ONE
    seam-ready row PER FRAME — (doc_id*IVF_N_FRAMES + frame_idx as the
    seam row id, payload = the raw codec-frame bytes, meta.format = the
    container's fourcc) — exactly the (doc_id, payload, meta) shape
    decode_external consumes. This is the composition point where
    container parsing (Spark's job) hands codec bitstreams to the
    external-codec seam. Row-local Arrow map, zero shuffle; unparseable
    containers contribute no rows (degrade)."""
    from pagerank_giraph_vs_mapreduce_spark.operators.ivf_container import (
        decode_ivf,
    )

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
            T.StructField(
                "meta",
                T.StructType(
                    [
                        T.StructField("format", T.StringType()),
                        T.StructField("n_bytes", T.LongType()),
                    ]
                ),
            ),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids: list[int] = []
            frames: list[bytes] = []
            metas: list[dict] = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                d = decode_ivf(payload, keep_frames=True)
                if d is None:
                    continue
                for f, body in enumerate(d["frames"]):
                    ids.append(int(doc_id) * IVF_N_FRAMES + f)
                    frames.append(body)
                    metas.append({"format": d["fourcc"], "n_bytes": len(body)})
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "payload": pd.Series(frames, dtype="object"),
                    "meta": pd.Series(metas, dtype="object"),
                }
            )

    return media.mapInPandas(batches, schema)


def zlib_luma16_codec(payload: bytes) -> dict | None:
    """A REAL external codec for the decode_external seam: inflate the
    frame with zlib (an actual C library — the first genuine codec
    driven through the seam) and featurize the
    decoded 16-byte 8x2 luma plane. Reports the DECODED byte stats
    (n_bytes/first_byte/byte_mean describe the decompressed plane — the
    codec-override path of decode_external's contract), so every output
    column is oracle-expressible over the source text while the
    compressed input bytes vary with zlib's encoder."""
    import zlib

    data = zlib.decompress(payload)  # wrong bytes -> exception -> stub row
    if len(data) != IVF_ZLIB_W * IVF_ZLIB_H:
        return None  # not a luma plane this codec handles: degrade
    mean = sum(data) / len(data)
    return {
        "n_bytes": len(data),
        "first_byte": data[0],
        "byte_mean": mean,
        "width": IVF_ZLIB_W,
        "height": IVF_ZLIB_H,
        "channels": 1,
        "bit_depth": 8,
        "pixel_mean": mean,
    }


def y4m_payload(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, payload BINARY): a REAL 4-frame YUV4MPEG2 video per doc —
    frame f holds text bytes [16f, 16f+16) (space-padded) as an 8x2 luma
    plane (C420jpeg with neutral chroma, the colorspace mainstream tools
    emit). Raw-frame video: the container the compressed-codec toolchain
    interchanges, parseable with zero codec dependencies."""
    from pagerank_giraph_vs_mapreduce_spark.operators.y4m import encode_y4m

    px = Y4M_FRAME_W * Y4M_FRAME_H
    total = px * Y4M_N_FRAMES

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = []
            for text in pdf[text_col]:
                raw = (text or "").encode("utf-8")[:total].ljust(total, b" ")
                frames = [
                    raw[f * px : (f + 1) * px] for f in range(Y4M_N_FRAMES)
                ]
                payloads.append(
                    encode_y4m(
                        frames, Y4M_FRAME_W, Y4M_FRAME_H, colorspace="420jpeg"
                    )
                )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "payload": pd.Series(payloads, dtype="object"),
                }
            )

    return docs.select("doc_id", text_col).mapInPandas(
        batches, "doc_id bigint, payload binary"
    )


def y4m_frame_stats(media: DataFrame) -> DataFrame:
    """Decode every frame of each Y4M payload and emit (doc_id,
    frame_idx, luma_mean, n_frames, width, height) — video frame
    sampling with REAL container parsing. Arrow-batched; unparseable
    payloads contribute no rows (degrade)."""
    from pagerank_giraph_vs_mapreduce_spark.operators.y4m import decode_y4m

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows: dict[str, list] = {
                "doc_id": [], "frame_idx": [], "luma_mean": [],
                "n_frames": [], "width": [], "height": [],
            }
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                d = decode_y4m(payload)
                if d is None:
                    continue
                for f, m in enumerate(d["frame_luma_means"]):
                    rows["doc_id"].append(int(doc_id))
                    rows["frame_idx"].append(f)
                    rows["luma_mean"].append(m)
                    rows["n_frames"].append(d["n_frames"])
                    rows["width"].append(d["width"])
                    rows["height"].append(d["height"])
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(rows["doc_id"], dtype="int64"),
                    "frame_idx": pd.Series(rows["frame_idx"], dtype="int32"),
                    "luma_mean": pd.Series(rows["luma_mean"], dtype="float64"),
                    "n_frames": pd.Series(rows["n_frames"], dtype="int32"),
                    "width": pd.Series(rows["width"], dtype="int32"),
                    "height": pd.Series(rows["height"], dtype="int32"),
                }
            )

    return media.mapInPandas(
        batches,
        "doc_id bigint, frame_idx int, luma_mean double, "
        "n_frames int, width int, height int",
    )


def wav_decimate(media: DataFrame, factor: int = 4) -> DataFrame:
    """Decimation resample: decode each WAV, keep every ``factor``-th
    PCM frame (indices 0, f, 2f, ...), and RE-ENCODE a valid RIFF/WAVE
    at rate/factor — the integer-ratio downsample a speech pipeline runs
    to normalize mixed-rate corpora (48 k -> 16 k is factor 3). Plain
    decimation (no anti-alias filter) is the declared semantics: it is
    sample-exact, so the decode -> select -> re-encode round trip lands
    in the oracle's value hash; a windowed-sinc low-pass would drop in
    at the same seam as float DSP. Row-local Arrow-batched map — zero
    shuffle, parallel per clip, the mm_audio_stats scale shape."""
    import pandas as pd

    if factor < 1:
        raise ValueError(f"decimation factor must be >= 1, got {factor}")

    def batches(it):
        import io
        import struct
        import wave

        for pdf in it:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["wav"]):
                with wave.open(io.BytesIO(bytes(payload)), "rb") as w:
                    n = w.getnframes()
                    rate = w.getframerate()
                    nch = w.getnchannels()
                    width = w.getsampwidth()
                    raw = w.readframes(n)
                # The '<{n}h' unpack and the re-encode below assume
                # mono/16-bit; anything else would mis-interleave or
                # raise an opaque struct.error mid-batch — fail loudly
                # with the clip identified instead.
                if nch != 1 or width != 2:
                    raise ValueError(
                        f"wav_decimate supports mono 16-bit PCM only; "
                        f"doc_id={int(doc_id)} has nchannels={nch}, "
                        f"sampwidth={width}"
                    )
                samples = struct.unpack(f"<{n}h", raw)[::factor]
                buf = io.BytesIO()
                with wave.open(buf, "wb") as w:
                    w.setnchannels(1)
                    w.setsampwidth(2)
                    w.setframerate(max(1, rate // factor))
                    w.writeframes(struct.pack(f"<{len(samples)}h", *samples))
                rows.append((int(doc_id), buf.getvalue()))
            yield pd.DataFrame(rows, columns=["doc_id", "wav"])

    return media.mapInPandas(batches, WAV_SCHEMA)


def wrongtype_marker_codec(payload: bytes) -> dict | None:
    """Poison-mix probe codec: payloads carrying the
    b'WT' marker get a WRONG-TYPED return (width is a non-numeric
    string) so decode_external's per-row coercion contract — degrade
    exactly that row to the byte-stat stub, never the batch — is
    exercised under the DRIVER GATE, not only in pytest; every other
    payload rides the real zlib codec."""
    if bytes(payload[:2]) == b"WT":
        return {
            "width": "not-an-int",
            "height": 2,
            "channels": 1,
            "bit_depth": 8,
            "pixel_mean": 1.0,
        }
    return zlib_luma16_codec(payload)
