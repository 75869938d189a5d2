"""Declared multimodal-column queries (operators/multimodal.py).

``mm_meta`` oracles the schema/metadata plumbing (binary payload sizes).
``mm_features`` exercises the Arrow-batched mapInPandas decode path; its
stub decoder computes byte statistics which for ASCII text are expressible
in SQL, so even the UDF path keeps an exact oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pagerank_giraph_vs_mapreduce_spark.operators.multimodal import (
    extract_features,
    with_binary_payload,
)
from pagerank_giraph_vs_mapreduce_spark.plans.registry import query
from pagerank_giraph_vs_mapreduce_spark.sources.tables import load_table


@query(
    "mm_meta",
    oracle="""SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes,
       'text/plain;fake-media' AS format
FROM documents""",
)
def mm_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload + typed metadata struct: size/format contract."""
    media = with_binary_payload(load_table(spark, sf_dir, "documents"))
    return media.select(
        "doc_id",
        F.col("meta.n_bytes").alias("n_bytes"),
        F.col("meta.format").alias("format"),
    )


@query(
    "mm_features",
    oracle="""SELECT doc_id,
       CAST(strlen(text) AS BIGINT) AS n_bytes,
       ascii(substr(text, 1, 1)) AS first_byte,
       round(CAST(list_sum(list_transform(range(1, length(text) + 1),
                  i -> CAST(ascii(substr(text, CAST(i AS INT), 1)) AS BIGINT))) AS DOUBLE)
             / strlen(text), 9) AS byte_mean,
       'text/plain;fake-media' AS format
FROM documents""",
)
def mm_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas feature extraction (stub decoder = byte stats; for the
    all-ASCII testdata the byte stats are SQL-expressible, so the Arrow/UDF
    batch path itself is oracle-checked)."""
    media = with_binary_payload(load_table(spark, sf_dir, "documents"))
    f = extract_features(media)
    return f.select(
        "doc_id",
        "n_bytes",
        F.col("first_byte").cast("int").alias("first_byte"),
        F.round("byte_mean", 9).alias("byte_mean"),
        "format",
    )


@query(
    "mm_png_decode",
    oracle="""SELECT doc_id,
       'image/png' AS format,
       16 AS width, 4 AS height, 1 AS channels, 8 AS bit_depth,
       round((CAST(list_sum(list_transform(range(1, least(length(text), 64) + 1),
                  i -> CAST(ascii(substr(text, CAST(i AS INT), 1)) AS BIGINT))) AS DOUBLE)
              + 32 * (64 - least(length(text), 64))) / 64.0, 9) AS pixel_mean
FROM documents""",
)
def mm_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image codec through the multimodal seam: each doc's first 64
    text bytes are encoded as a genuine 16x4 grayscale PNG (zlib stream,
    filtered scanlines) by png_payload, then extract_features detects the
    magic and runs the pure-stdlib decoder — chunk parse, inflate, filter
    reconstruction. Pixels derive from the text, so the decoded pixel_mean
    has an exact SQL oracle: a wrong filter, stride or channel count in
    either codec breaks the hash match. The byte-stat stub now covers only
    formats the stdlib cannot decode (JPEG/audio/video)."""
    from pagerank_giraph_vs_mapreduce_spark.operators.multimodal import (
        extract_features,
        png_payload,
    )

    media = png_payload(load_table(spark, sf_dir, "documents"))
    f = extract_features(media)
    return f.select(
        "doc_id",
        "format",
        "width",
        "height",
        "channels",
        "bit_depth",
        F.round("pixel_mean", 9).alias("pixel_mean"),
    )


@query(
    "mm_jpeg_decode",
    oracle="""SELECT doc_id,
       'image/jpeg' AS format,
       32 AS width, 16 AS height, 1 AS channels, 8 AS bit_depth,
       round((CAST(list_sum(list_transform(range(1, least(length(text), 8) + 1),
                  i -> CAST(ascii(substr(text, CAST(i AS INT), 1)) AS BIGINT))) AS DOUBLE)
              + 32 * (8 - least(length(text), 8))) / 8.0, 9) AS pixel_mean
FROM documents""",
)
def mm_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline-JPEG codec through the multimodal seam:
    each doc's first 8 text bytes become one constant 8x8 block
    each of a genuine 32x16 grayscale JPEG (jpeg_payload), then
    extract_features detects the FFD8 magic and runs the full decoder —
    marker parse, DHT canonical Huffman, entropy decode with byte
    unstuffing, dequant, de-zigzag, IDCT. Block-constant pixels with
    all-ones quant tables round-trip the DCT exactly, so the decoded
    pixel_mean has an exact SQL oracle over the text — a wrong Huffman
    table, zigzag order, quant layout or IDCT scale breaks the hash."""
    from pagerank_giraph_vs_mapreduce_spark.operators.multimodal import (
        extract_features,
        jpeg_payload,
    )

    media = jpeg_payload(load_table(spark, sf_dir, "documents"))
    f = extract_features(media)
    return f.select(
        "doc_id",
        "format",
        "width",
        "height",
        "channels",
        "bit_depth",
        F.round("pixel_mean", 9).alias("pixel_mean"),
    )


@query(
    "mm_jpeg_progressive_decode",
    oracle="""SELECT doc_id,
       'image/jpeg' AS format,
       32 AS width, 16 AS height, 1 AS channels, 8 AS bit_depth,
       round((CAST(list_sum(list_transform(range(1, least(length(text), 8) + 1),
                  i -> CAST(ascii(substr(text, CAST(i AS INT), 1)) AS BIGINT))) AS DOUBLE)
              + 32 * (8 - least(length(text), 8))) / 8.0, 9) AS pixel_mean
FROM documents""",
)
def mm_jpeg_progressive_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL progressive-JPEG (SOF2) decode through the multimodal seam:
    the same block-constant fixture
    as mm_jpeg_decode, but the file is written with a genuine progressive
    scan script — interleaved DC-first at Al=1, successive-approximation
    DC refinement, and EOB-run-coded AC band scans — and the decoder
    accumulates every scan into coefficient buffers before one IDCT pass.
    Same pixels as the baseline file, so the same exact SQL oracle over
    the text column holds; a wrong EOBn run length, refinement bit
    position, or scan-script geometry breaks the hash. AC value/refine
    paths (nonzero ACs, correction bits) are pinned by the pytest parity
    suite against the baseline decode of identical coefficients
    (tests/test_jpeg_progressive.py)."""
    from pagerank_giraph_vs_mapreduce_spark.operators.multimodal import (
        extract_features,
        jpeg_payload,
    )

    media = jpeg_payload(
        load_table(spark, sf_dir, "documents"), progressive=True
    )
    f = extract_features(media)
    return f.select(
        "doc_id",
        "format",
        "width",
        "height",
        "channels",
        "bit_depth",
        F.round("pixel_mean", 9).alias("pixel_mean"),
    )


@query(
    "mm_webp_decode",
    oracle="""SELECT doc_id,
       'image/webp' AS format,
       16 AS width, 4 AS height, 3 AS channels, 8 AS bit_depth,
       round((CAST(list_sum(list_transform(range(1, least(length(text), 64) + 1),
                  i -> CAST(ascii(substr(text, CAST(i AS INT), 1)) AS BIGINT))) AS DOUBLE)
              + 32 * (64 - least(length(text), 64))) / 64.0, 9) AS pixel_mean
FROM documents""",
)
def mm_webp_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL lossless-WebP codec through the multimodal seam
    (operators/webp.py): each doc's first 64 text
    bytes become a genuine VP8L 16x4 grayscale WebP (canonical prefix
    codes, greedy LZ77 backrefs, 5-bit color cache), then
    extract_features detects the RIFF....WEBP magic and runs the full
    decoder — container parse, code-length-coded prefix trees, backref
    copy, cache inserts. VP8L is lossless, so the RGB pixel_mean equals
    the byte mean exactly — a wrong canonical-code assignment, cache
    hash, or copy distance breaks the hash. The byte-stat stub domain
    shrinks to lossy VP8 / video."""
    from pagerank_giraph_vs_mapreduce_spark.operators.multimodal import (
        extract_features,
        webp_payload,
    )

    media = webp_payload(load_table(spark, sf_dir, "documents"))
    f = extract_features(media)
    return f.select(
        "doc_id",
        "format",
        "width",
        "height",
        "channels",
        "bit_depth",
        F.round("pixel_mean", 9).alias("pixel_mean"),
    )


@query(
    "mm_gif_decode",
    oracle="""SELECT doc_id,
       'image/gif' AS format,
       16 AS width, 4 AS height, 3 AS channels, 8 AS bit_depth, 1 AS n_frames,
       round((CAST(list_sum(list_transform(range(1, least(length(text), 64) + 1),
                  i -> CAST(ascii(substr(text, CAST(i AS INT), 1)) AS BIGINT))) AS DOUBLE)
              + 32 * (64 - least(length(text), 64))) / 64.0, 9) AS pixel_mean
FROM documents""",
)
def mm_gif_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL GIF codec through the multimodal seam (operators/gif.py):
    each doc's first 64 text bytes become a genuine single-frame 16x4
    GIF (grayscale palette, real LZW), then extract_features detects
    the GIF8 magic and runs the full decoder — container parse, color
    table, variable-width LZW with clear-code resets. GIF is lossless
    over indices and the gray palette maps index i to rgb(i,i,i), so
    the RGB pixel_mean equals the byte mean exactly — a wrong LZW
    width-growth rule or palette stride breaks the hash."""
    from pagerank_giraph_vs_mapreduce_spark.operators.multimodal import (
        extract_features,
        gif_payload,
    )

    media = gif_payload(load_table(spark, sf_dir, "documents"))
    f = extract_features(media)
    return f.select(
        "doc_id",
        "format",
        "width",
        "height",
        "channels",
        "bit_depth",
        F.lit(1).alias("n_frames"),
        F.round("pixel_mean", 9).alias("pixel_mean"),
    )


@query(
    "mm_gif_frames",
    oracle="""SELECT doc_id, CAST(f.f AS INT) AS frame_idx,
       round((coalesce(CAST(list_sum(list_transform(range(1, least(greatest(length(text) - f.f * 16, 0), 16) + 1),
                  i -> CAST(ascii(substr(text, CAST(f.f * 16 + i AS INT), 1)) AS BIGINT))) AS DOUBLE), 0)
              + 32 * (16 - least(greatest(length(text) - f.f * 16, 0), 16))) / 16.0, 9) AS frame_mean
FROM documents, LATERAL unnest(range(0, 4)) AS f(f)""",
)
def mm_gif_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL frame extraction from an animated format: each doc becomes a
    genuine 4-frame animated GIF (frame f = text bytes [16f, 16f+16),
    one image descriptor + LZW stream per frame), and gif_frame_stats
    decodes EVERY frame, emitting per-frame pixel means — the actual
    decode behind the frame-sampling row-fan-out that mm_frame_sample
    demonstrates with hashes. Frames past the text's end are all
    space-padding: the oracle coalesces DuckDB's NULL empty-list sum to
    0 so the pad term alone carries those frames, matching the
    encoder's space fill."""
    from pagerank_giraph_vs_mapreduce_spark.operators.multimodal import (
        gif_animated_payload,
        gif_frame_stats,
    )

    media = gif_animated_payload(load_table(spark, sf_dir, "documents"))
    return gif_frame_stats(media).select(
        "doc_id", "frame_idx", F.round("frame_mean", 9).alias("frame_mean")
    )


@query(
    "mm_frame_sample",
    oracle="""WITH media AS (
  SELECT doc_id, regexp_replace(text, '[^ -~]', '', 'g') AS payload
  FROM documents
),
frames AS (
  SELECT doc_id, payload,
         unnest(range(0, CAST(ceil(length(payload) / 64.0) AS BIGINT))) AS frame_idx
  FROM media
)
SELECT doc_id, frame_idx,
       md5(substring(payload, 1 + CAST(frame_idx AS BIGINT) * 64, 64)) AS frame_md5,
       CAST(length(substring(payload, 1 + CAST(frame_idx AS BIGINT) * 64, 64)) AS BIGINT) AS frame_n
FROM frames WHERE frame_idx % 4 = 0""",
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling (video-extraction batch shape): every 4th 64-char
    frame of the sanitized payload, md5-fingerprinted, via Arrow-batched
    mapInPandas row fan-out. ASCII sanitization makes chars ≡ bytes, so
    the SQL oracle reproduces the framing exactly; md5 is standardized, so
    the per-frame digests hash-match too."""
    from pagerank_giraph_vs_mapreduce_spark.operators.multimodal import (
        ascii_payload,
        sample_frames,
    )

    media = ascii_payload(load_table(spark, sf_dir, "documents"))
    return sample_frames(media, frame_chars=64, every=4)


@query(
    "mm_resize",
    oracle="""WITH px AS (
  SELECT doc_id,
         list_transform(range(0, 16), k ->
           CASE WHEN (32*(k//8) + 2*(k%8)) < length(text)
                THEN substr(text, CAST(32*(k//8) + 2*(k%8) + 1 AS INT), 1)
                ELSE ' ' END) AS chars
  FROM documents)
SELECT doc_id, 8 AS width, 2 AS height,
       round(list_sum(list_transform(chars,
             c -> CAST(ascii(c) AS BIGINT))) / 16.0, 9) AS resized_mean,
       md5(array_to_string(chars, '')) AS resized_md5
FROM px""",
)
def mm_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image RESIZE through the multimodal seam — the transform the
    decode/feature/frame queries didn't yet cover: each doc's 16x4
    text-derived PNG is decoded to its full pixel buffer and
    nearest-neighbor downsampled to 8x2 inside the Arrow batch loop
    (operators/multimodal.py:resize_nearest). Sampling is pure index
    arithmetic — out(x, y) = src(2x, 2y) — so the oracle reconstructs the
    resized bytes from the text column directly; md5 over the resized
    buffer makes any stride/filter/offset bug a hash mismatch, and
    resized_mean (exact /16 fraction, 9 dp) pins the values."""
    from pagerank_giraph_vs_mapreduce_spark.operators.multimodal import (
        png_payload,
        resize_nearest,
    )

    media = png_payload(load_table(spark, sf_dir, "documents"))
    r = resize_nearest(media, 8, 2)
    return r.select(
        "doc_id",
        "width",
        "height",
        F.round("resized_mean", 9).alias("resized_mean"),
        "resized_md5",
    )


@query(
    "mm_resize_jpeg",
    oracle="""WITH px AS (
  SELECT doc_id,
         list_transform(range(0, 32), k ->
           CASE WHEN ((k//8)//2)*4 + (k%8)//2 < length(text)
                THEN substr(text, CAST(((k//8)//2)*4 + (k%8)//2 + 1 AS INT), 1)
                ELSE ' ' END) AS chars
  FROM documents)
SELECT doc_id, 8 AS width, 4 AS height,
       round(list_sum(list_transform(chars,
             c -> CAST(ascii(c) AS BIGINT))) / 32.0, 9) AS resized_mean,
       md5(array_to_string(chars, '')) AS resized_md5
FROM px""",
)
def mm_resize_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decode→resize pipeline over a LOSSY codec: each doc's 32x16
    block-constant baseline JPEG (8 constant 8x8 tiles, bit-exact
    round-trip — see mm_jpeg_decode) is fully decoded
    (decode_jpeg keep_pixels through decode_pixels' dispatch) and
    nearest-neighbor downsampled to 8x4: out(x,y) = src(4x, 4y) lands
    in tile (y//2, x//2), i.e. text byte (y//2)*4 + x//2. md5 over the
    resized buffer pins every sample; the mean is an exact /32
    fraction. Certifies the JPEG full-pixel path (not just stats) at
    driver level."""
    from pagerank_giraph_vs_mapreduce_spark.operators.multimodal import (
        jpeg_payload,
        resize_nearest,
    )

    media = jpeg_payload(load_table(spark, sf_dir, "documents"))
    r = resize_nearest(media, 8, 4)
    return r.select(
        "doc_id",
        "width",
        "height",
        F.round("resized_mean", 9).alias("resized_mean"),
        "resized_md5",
    )


@query(
    "mm_thumbnail",
    oracle="""WITH media AS (
  SELECT doc_id, regexp_replace(text, '[^ -~]', '', 'g') AS payload
  FROM documents),
s AS (
  SELECT doc_id, payload,
         CASE WHEN length(payload) = 0 THEN 1
              ELSE (length(payload) + 31) // 32 END AS stride
  FROM media)
SELECT doc_id,
       CASE WHEN length(payload) = 0 THEN ''
            ELSE array_to_string(list_transform(
                   range(0, (length(payload) + stride - 1) // stride),
                   i -> substr(payload, CAST(i * stride + 1 AS INT), 1)), '')
       END AS thumb,
       CAST(stride AS BIGINT) AS stride
FROM s""",
)
def mm_thumbnail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strided thumbnail/resample stand-in
    (operators/multimodal.py:resize_payload) driver-certified: each
    sanitized payload is downsampled to <=32 chars by stride
    ceil(len/32) selection — the 1-D audio-resample shape next to
    mm_resize's true 2-D pixel resize. The oracle replays the stride
    arithmetic and character picks exactly (ASCII sanitization makes
    chars = bytes)."""
    from pagerank_giraph_vs_mapreduce_spark.operators.multimodal import (
        ascii_payload,
        resize_payload,
    )

    media = ascii_payload(load_table(spark, sf_dir, "documents"))
    return resize_payload(media, target=32)


@query(
    "mm_audio_stats",
    oracle="""WITH clips AS (
  SELECT doc_id, 100 + doc_id % 50 AS n
  FROM documents),
samples AS (
  SELECT doc_id, n,
         ((doc_id * 31 + r.k * 17) % 65536) - 32768 AS v
  FROM clips, LATERAL unnest(range(0, n)) AS r(k))
SELECT doc_id,
       CAST(any_value(n) AS INT) AS n_samples,
       CAST(8000 AS INT) AS sample_rate,
       CAST(max(abs(v)) AS INT) AS peak,
       round(sqrt(CAST(sum(v * v) AS DOUBLE) / any_value(n)), 6) AS rms
FROM samples GROUP BY doc_id""",
)
def mm_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUDIO modality end-to-end through a REAL codec: deterministic
    16-bit PCM clips are encoded to genuine RIFF/WAVE files (stdlib
    ``wave``) in one Arrow-batched pass, then a second pass parses the
    WAV headers back and emits per-clip n_samples/peak/RMS
    (operators/multimodal.py:synth_wav/audio_stats). The oracle
    regenerates the sample function in SQL, so the encode→decode round
    trip — header layout, frame packing, byte order — lands in the
    value hash. The decode seam is where a real featurizer (mel
    spectrogram, VAD) drops in at 100 TB: row-local mapInPandas,
    no shuffle."""
    from pagerank_giraph_vs_mapreduce_spark.operators.multimodal import (
        audio_stats,
        synth_wav,
    )

    docs = load_table(spark, sf_dir, "documents")
    return audio_stats(synth_wav(docs))


_AHASH_SQL = """WITH px AS (
  SELECT doc_id,
         list_transform(range(0, 16), k ->
           CASE WHEN (32*(k//8) + 2*(k%8)) < length(text)
                THEN CAST(ascii(substr(text, CAST(32*(k//8) + 2*(k%8) + 1 AS INT), 1)) AS BIGINT)
                ELSE 32 END) AS px
  FROM documents),
tot AS (SELECT doc_id, px, list_sum(px) AS total FROM px),
sig AS (
  SELECT doc_id,
         list_sum(list_transform(range(0, 16),
           k -> CASE WHEN 16 * px[k + 1] > total
                THEN CAST(1 AS BIGINT) << CAST(k AS INT) ELSE 0 END)) AS h
  FROM tot)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.h, b.h)) AS BIGINT) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.h, b.h)) <= 2"""


@query("mm_ahash_pairs", oracle=_AHASH_SQL)
def mm_ahash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup detection: 16-bit average perceptual hash per
    decoded image (operators/multimodal.py:ahash16 — integer-exact
    threshold), then Hamming-≤2 pairs through the SAME multi-probe
    pigeonhole blocker the text SimHash path uses
    (dedup.simhash_pairs_from_sigs, bits=16) — image dedup rides the
    existing exact-recall blocking infrastructure instead of an
    all-pairs join. The oracle IS the all-pairs answer, so the blocker's
    exact-recall claim is re-proven on image signatures."""
    from pagerank_giraph_vs_mapreduce_spark.operators.dedup import (
        simhash_pairs_from_sigs,
    )
    from pagerank_giraph_vs_mapreduce_spark.operators.multimodal import (
        ahash16,
        png_payload,
    )

    media = png_payload(load_table(spark, sf_dir, "documents"))
    sigs = ahash16(media).select(
        F.col("doc_id").alias("id"), F.col("ahash").alias("simhash")
    )
    pairs = simhash_pairs_from_sigs(sigs, max_hamming=2, bits=16)
    return pairs.select(
        F.col("id_a"), F.col("id_b"), F.col("hamming").cast("bigint").alias("hamming")
    )


@query(
    "mm_ivf_frames",
    # NOTE: this oracle indexes CHARACTERS (length/ascii/substr) while the
    # Spark side slices UTF-8 BYTES — equal only because the documents
    # fixture is pure ASCII, pinned by
    # tests/test_round10_ops.py::test_documents_fixture_is_ascii_only
    # (shared with mm_y4m_frames).
    oracle="""SELECT doc_id, CAST(f.f AS INT) AS frame_idx,
       CAST(least(greatest(length(text) - f.f * 16, 0), 16) AS BIGINT)
         AS frame_size,
       CAST(f.f AS BIGINT) AS ts,
       CASE WHEN least(greatest(length(text) - f.f * 16, 0), 16) = 0
            THEN 0.0
            ELSE round(CAST(list_sum(list_transform(
                   range(1, least(greatest(length(text) - f.f * 16, 0), 16) + 1),
                   i -> CAST(ascii(substr(text, CAST(f.f * 16 + i AS INT), 1))
                             AS BIGINT))) AS DOUBLE)
                 / least(greatest(length(text) - f.f * 16, 0), 16), 9)
       END AS byte_mean,
       4 AS n_frames, 'VP80' AS fourcc
FROM documents, LATERAL unnest(range(0, 4)) AS f(f)""",
)
def mm_ivf_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL compressed-video CONTAINER parsing (operators/ivf_container.py):
    each doc becomes a genuine IVF/DKIF stream — the framing format the
    VP8/VP9/AV1 toolchain interchanges — with 4 variable-size frames
    carrying text bytes [16f, 16f+16) as opaque codec payloads.
    ivf_frame_stats validates the 32-byte header and walks the 12-byte
    frame headers, emitting sizes/timestamps/byte-means with exact SQL
    oracles over the text. Together with Y4M (raw frames) this reduces
    the video stub domain to codec DECOMPRESSION alone, which is the
    decode_external C-seam's job (SCALING.md §25)."""
    from pagerank_giraph_vs_mapreduce_spark.operators.multimodal import (
        ivf_frame_stats,
        ivf_payload,
    )

    media = ivf_payload(load_table(spark, sf_dir, "documents"))
    return ivf_frame_stats(media).select(
        "doc_id",
        "frame_idx",
        "frame_size",
        "ts",
        F.round("byte_mean", 9).alias("byte_mean"),
        "n_frames",
        "fourcc",
    )


@query(
    "mm_ivf_external_features",
    # Character indexing again — covered by the shared ASCII fixture pin
    # (tests/test_round10_ops.py::test_documents_fixture_is_ascii_only).
    oracle="""WITH px AS (
  SELECT d.doc_id, f.f AS fi,
    list_transform(range(1, 17),
      i -> CASE WHEN f.f * 16 + i <= length(d.text)
                THEN CAST(ascii(substr(d.text, CAST(f.f * 16 + i AS INT), 1))
                          AS BIGINT)
                ELSE 32 END) AS b
  FROM documents d, LATERAL unnest(range(0, 4)) AS f(f))
SELECT doc_id, CAST(fi AS INT) AS frame_idx,
  CAST(16 AS BIGINT) AS n_bytes,
  CAST(b[1] AS INT) AS first_byte,
  CAST(list_sum(b) AS DOUBLE) / 16.0 AS byte_mean,
  'ZL00' AS format,
  8 AS width, 2 AS height, 1 AS channels, 8 AS bit_depth,
  CAST(list_sum(b) AS DOUBLE) / 16.0 AS pixel_mean
FROM px""",
)
def mm_ivf_external_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A REAL external codec driven through the decode_external seam
    (the seam was previously pinned only against a
    fake): documents become genuine IVF containers whose frame payloads
    are genuine zlib streams (ivf_zlib_payload), the container parser
    hands each frame's bitstream to the seam (ivf_explode_frames), and
    the seam's codec is actual C-library zlib decompression
    (zlib_luma16_codec) followed by featurization of the decoded 8x2
    luma plane. The oracle recomputes every feature from the source
    text, so a single wrong decompressed byte lands in the value hash —
    container -> seam -> codec -> features proven end-to-end through
    real bytes. The decoded-plane mean is sum/16 (a power-of-two
    divide): exact in IEEE double on both engines, no rounding needed.

    Scale shape: three chained row-local Arrow maps (encode, explode,
    decode) — zero shuffle, parallel per-file; identical plumbing to
    what a libvpx/dav1d codec would ride at 100 TB."""
    from pagerank_giraph_vs_mapreduce_spark.operators.multimodal import (
        IVF_N_FRAMES,
        decode_external,
        ivf_explode_frames,
        ivf_zlib_payload,
        zlib_luma16_codec,
    )

    docs = load_table(spark, sf_dir, "documents")
    frames = ivf_explode_frames(ivf_zlib_payload(docs))
    feats = decode_external(frames, zlib_luma16_codec, formats=("ZL00",))
    n = IVF_N_FRAMES
    return feats.select(
        F.expr(f"doc_id DIV {n}").alias("doc_id"),
        (F.col("doc_id") % n).cast("int").alias("frame_idx"),
        "n_bytes",
        "first_byte",
        "byte_mean",
        "format",
        "width",
        "height",
        "channels",
        "bit_depth",
        "pixel_mean",
    )


# Per-frame luma means over the text-byte Y4M fixture — shared by
# mm_y4m_frames and mm_scene_cuts. Same ASCII-only fixture assumption as
# mm_ivf_frames — pinned by
# tests/test_round10_ops.py::test_documents_fixture_is_ascii_only.
_Y4M_LUMA_SQL = """SELECT doc_id, CAST(f.f AS INT) AS frame_idx,
       round((coalesce(CAST(list_sum(list_transform(range(1, least(greatest(length(text) - f.f * 16, 0), 16) + 1),
                  i -> CAST(ascii(substr(text, CAST(f.f * 16 + i AS INT), 1)) AS BIGINT))) AS DOUBLE), 0)
              + 32 * (16 - least(greatest(length(text) - f.f * 16, 0), 16))) / 16.0, 9) AS luma_mean,
       4 AS n_frames, 8 AS width, 2 AS height
FROM documents, LATERAL unnest(range(0, 4)) AS f(f)"""


@query("mm_y4m_frames", oracle=_Y4M_LUMA_SQL)
def mm_y4m_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video-container parsing through the multimodal seam: each doc
    becomes a genuine 4-frame YUV4MPEG2 stream (operators/y4m.py — the
    raw-frame interchange format every video toolchain reads), frame f
    carrying text bytes [16f, 16f+16) as its 8x2 luma plane over neutral
    C420jpeg chroma; y4m_frame_stats parses the stream header, frames the
    FRAME markers, and emits per-frame luma means with exact SQL oracles
    over the text. Video "decode" splits into container parsing (real,
    here) and codec decompression (the C-library seam, stubbed) — with
    Y4M the stub domain is compressed codecs only."""
    from pagerank_giraph_vs_mapreduce_spark.operators.multimodal import (
        y4m_frame_stats,
        y4m_payload,
    )

    media = y4m_payload(load_table(spark, sf_dir, "documents"))
    return y4m_frame_stats(media).select(
        "doc_id",
        "frame_idx",
        F.round("luma_mean", 9).alias("luma_mean"),
        "n_frames",
        "width",
        "height",
    )


@query(
    "mm_wav_decimate",
    oracle="""WITH clips AS (
  SELECT doc_id, 100 + doc_id % 50 AS n
  FROM documents),
samples AS (
  SELECT doc_id, r.k,
         ((doc_id * 31 + r.k * 17) % 65536) - 32768 AS v
  FROM clips, LATERAL unnest(range(0, n)) AS r(k)),
dec AS (SELECT doc_id, v FROM samples WHERE k % 4 = 0)
SELECT doc_id,
       CAST(count(*) AS INT) AS n_samples,
       CAST(2000 AS INT) AS sample_rate,
       CAST(max(abs(v)) AS INT) AS peak,
       round(sqrt(CAST(sum(v * v) AS DOUBLE) / count(*)), 6) AS rms
FROM dec GROUP BY doc_id""",
)
def mm_wav_decimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio resample end-to-end through REAL codecs: encode deterministic
    PCM to genuine WAV files, decimate by 4 with re-encode at 2 kHz
    (operators/multimodal.py:wav_decimate), then parse the resampled
    files back and emit per-clip stats. THREE codec passes (encode ->
    decimate/re-encode -> decode) land in the value hash — header
    layout, frame packing and the index arithmetic all checked; the
    oracle regenerates the sample function in SQL and keeps k % 4 = 0.
    All passes are row-local mapInPandas: zero shuffle at any scale."""
    from pagerank_giraph_vs_mapreduce_spark.operators.multimodal import (
        audio_stats,
        synth_wav,
        wav_decimate,
    )

    docs = load_table(spark, sf_dir, "documents")
    return audio_stats(wav_decimate(synth_wav(docs), factor=4))


SCENE_CUT_THRESHOLD = 8.0

_SCENE_SQL = f"""WITH fr AS ({_Y4M_LUMA_SQL}),
lg AS (SELECT doc_id, frame_idx, luma_mean,
              lag(luma_mean) OVER (PARTITION BY doc_id
                                   ORDER BY frame_idx) AS prev_mean
       FROM fr)
SELECT doc_id, frame_idx, luma_mean, prev_mean,
       round(abs(luma_mean - prev_mean), 9) AS luma_diff,
       CAST(CASE WHEN abs(luma_mean - prev_mean) > {SCENE_CUT_THRESHOLD}
                 THEN 1 ELSE 0 END AS INT) AS is_cut
FROM lg WHERE frame_idx >= 1"""


@query("mm_scene_cuts", oracle=_SCENE_SQL)
def mm_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scene-change detection over the REAL Y4M streams: parse each
    container (operators/y4m.py — the same pass as mm_y4m_frames), then
    flag frame transitions whose luma-mean jump exceeds
    SCENE_CUT_THRESHOLD — the shot-boundary heuristic a video curation
    pipeline runs to pick keyframes before featurizing. Composition
    shape: row-local container parse (mapInPandas, zero shuffle) -> ONE
    per-video window (partitions are 4-frame groups — state is tiny and
    perfectly balanced) -> codegen filter. The diff is computed on the
    9-dp-rounded means BOTH engines already agree on, so no new float
    surface crosses the boundary."""
    from pagerank_giraph_vs_mapreduce_spark.operators.multimodal import (
        y4m_frame_stats,
        y4m_payload,
    )

    media = y4m_payload(load_table(spark, sf_dir, "documents"))
    fr = y4m_frame_stats(media).select(
        "doc_id", "frame_idx", F.round("luma_mean", 9).alias("luma_mean")
    )
    w = Window.partitionBy("doc_id").orderBy("frame_idx")
    lg = fr.withColumn("prev_mean", F.lag("luma_mean").over(w))
    return lg.filter(F.col("frame_idx") >= 1).select(
        "doc_id",
        "frame_idx",
        "luma_mean",
        "prev_mean",
        F.round(F.abs(F.col("luma_mean") - F.col("prev_mean")), 9).alias(
            "luma_diff"
        ),
        F.when(
            F.abs(F.col("luma_mean") - F.col("prev_mean"))
            > SCENE_CUT_THRESHOLD,
            1,
        )
        .otherwise(0)
        .cast("int")
        .alias("is_cut"),
    )


@query(
    "mm_external_poison_mix",
    # Healthy rows recompute the decoded plane from text (the ASCII
    # fixture pin again); poison rows degrade to byte stats of their
    # CONSTANT poison payloads, so every branch is oracle-exact:
    # mode 1 = corrupt bitstream b'\\x00BAD' (zlib raises),
    # mode 2 = NULL payload (stub of empty),
    # mode 3 = b'WT!!' marker (codec returns wrong-typed width).
    oracle="""WITH px AS (
  SELECT d.doc_id, f.f AS fi, (d.doc_id * 4 + f.f) % 5 AS mode,
    list_transform(range(1, 17),
      i -> CASE WHEN f.f * 16 + i <= length(d.text)
                THEN CAST(ascii(substr(d.text, CAST(f.f * 16 + i AS INT), 1))
                          AS BIGINT)
                ELSE 32 END) AS b
  FROM documents d, LATERAL unnest(range(0, 4)) AS f(f))
SELECT doc_id, CAST(fi AS INT) AS frame_idx, CAST(mode AS INT) AS mode,
  CAST(CASE mode WHEN 1 THEN 4 WHEN 2 THEN 0 WHEN 3 THEN 4
       ELSE 16 END AS BIGINT) AS n_bytes,
  CAST(CASE mode WHEN 1 THEN 0 WHEN 2 THEN -1 WHEN 3 THEN 87
       ELSE b[1] END AS INT) AS first_byte,
  CASE mode WHEN 1 THEN 49.75 WHEN 2 THEN 0.0 WHEN 3 THEN 59.25
       ELSE CAST(list_sum(b) AS DOUBLE) / 16.0 END AS byte_mean,
  'ZL00' AS format,
  CASE WHEN mode IN (1, 2, 3) THEN NULL ELSE 8 END AS width,
  CASE WHEN mode IN (1, 2, 3) THEN NULL ELSE 2 END AS height,
  CASE WHEN mode IN (1, 2, 3) THEN NULL ELSE 1 END AS channels,
  CASE WHEN mode IN (1, 2, 3) THEN NULL ELSE 8 END AS bit_depth,
  CASE WHEN mode IN (1, 2, 3) THEN NULL
       ELSE CAST(list_sum(b) AS DOUBLE) / 16.0 END AS pixel_mean
FROM px""",
)
def mm_external_poison_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The external-seam degradation contract under the DRIVER GATE
    (previously pinned only in pytest): one frame
    stream mixes healthy zlib frames with all three poison classes —
    corrupt bitstreams (decompression raises), NULL payloads, and a
    marker that makes the codec return a WRONG-TYPED width — chosen by
    the deterministic rule cid % 5 so the oracle can mirror exactly
    which rows degrade. Each poison row must collapse to the byte-stat
    stub of ITS OWN payload (constants, oracle-exact) while every
    healthy row still decodes through the real zlib codec; a single
    poison row killing its Arrow batch would take ~4 healthy rows'
    values with it and break the hash. Same zero-shuffle row-local map
    shape as mm_ivf_external_features."""
    from pagerank_giraph_vs_mapreduce_spark.operators.multimodal import (
        IVF_N_FRAMES,
        decode_external,
        ivf_explode_frames,
        ivf_zlib_payload,
        wrongtype_marker_codec,
    )

    docs = load_table(spark, sf_dir, "documents")
    frames = ivf_explode_frames(ivf_zlib_payload(docs))
    mode = (F.col("doc_id") % 5).cast("int")
    poisoned = frames.withColumn(
        "payload",
        F.when(mode == 1, F.lit(bytearray(b"\x00BAD")))
        .when(mode == 2, F.lit(None).cast("binary"))
        .when(mode == 3, F.lit(bytearray(b"WT!!")))
        .otherwise(F.col("payload")),
    )
    feats = decode_external(poisoned, wrongtype_marker_codec, formats=("ZL00",))
    n = IVF_N_FRAMES
    return feats.select(
        F.expr(f"doc_id DIV {n}").alias("doc_id"),
        (F.col("doc_id") % n).cast("int").alias("frame_idx"),
        (F.col("doc_id") % 5).cast("int").alias("mode"),
        "n_bytes",
        "first_byte",
        "byte_mean",
        "format",
        "width",
        "height",
        "channels",
        "bit_depth",
        "pixel_mean",
    )
