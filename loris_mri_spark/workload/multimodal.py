"""Multimodal-column workload: binary media columns with typed metadata,
decode-stage feature extraction, frame sampling (BASELINE.json north
star). Media bytes are the documents' UTF-8 text (the corpus is ASCII, so
byte framing == char framing and DuckDB's VARCHAR hashes oracle the
binary path exactly)."""

from __future__ import annotations

import hashlib
import os as _osmod

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from loris_mri_spark.catalog import load_table
from loris_mri_spark.operators.media import extract_features, sample_frames
from loris_mri_spark.sources.files import map_rows
from loris_mri_spark.workload import query


def _media_dir(sub: str) -> str:
    """Committed media fixture dir for ``sub`` (jpeg/video/audio),
    overridable via LORIS_MM_FIXTURES: the media scale sweep
    (bench_scale.py media_extension) points the REGISTERED queries at
    genuinely scaled binary inputs (.scale/media/sfK) without changing
    their plan shape. Correctness runs never set the env var, so the
    golden oracles always see the committed fixtures."""
    base = _osmod.environ.get("LORIS_MM_FIXTURES") or _osmod.path.join(
        _osmod.path.dirname(_osmod.path.dirname(_osmod.path.dirname(__file__))),
        "tests", "fixtures",
    )
    return _osmod.path.join(base, sub)


@query(
    "mm_binary_metadata",
    oracle="""
    SELECT doc_id,
           'image/raw' AS media_type,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           sha256(text) AS content_sha256
    FROM documents
    """,
)
def mm_binary_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multimodal column contract: opaque binary + typed metadata
    (media_type, size, content hash) — SURVEY §1.1's blob row
    (path/hash/params) as engine-native columns."""
    d = load_table(spark, sf_dir, "documents")
    bin_col = F.encode("text", "utf-8")
    return d.select(
        "doc_id",
        F.lit("image/raw").alias("media_type"),
        F.length(bin_col).cast("long").alias("n_bytes"),
        F.sha2(bin_col, 256).alias("content_sha256"),
    )


@query(
    "mm_frame_sample",
    oracle="""
    WITH frames AS (
      SELECT doc_id, CAST(f AS INT) AS frame_idx,
             substr(text, f * 64 + 1, 64) AS frame
      FROM documents,
           unnest(range(0, CAST(octet_length(encode(text)) // 64 AS INT))) t(f)
      WHERE f % 4 = 0)
    SELECT doc_id, frame_idx, md5(frame) AS frame_md5 FROM frames
    """,
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over the binary stream (every 4th 64-byte frame,
    per-frame checksum) in an Arrow map — the video-column access
    pattern; the oracle frames the ASCII text identically."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("content")
    )
    return sample_frames(d, "content", "doc_id", frame_bytes=64, every_k=4)


@query(
    "mm_audio_wav_meta",
    oracle="""
    SELECT * FROM (VALUES
      ('sub-01_audio.wav', 1, 16000, 16, CAST(1600 AS BIGINT),
       CAST(100 AS BIGINT), 580.2663181677875),
      ('sub-02_audio.wav', 2, 8000, 16, CAST(400 AS BIGINT),
       CAST(50 AS BIGINT), 568.2618234581662))
      AS t(file, channels, sample_rate, bits, n_frames, duration_ms, rms)
    """,
)
def mm_audio_wav_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio modality: PCM WAV decode (stdlib RIFF chunk walk) -> typed
    metadata + exact-integer RMS over the int16 samples. Compressed
    codecs are the injected-decoder boundary, same as images; the golden
    oracle pins the committed fixtures' independently computed values."""
    from loris_mri_spark.operators.media import read_wav_meta

    fixtures = _media_dir("audio")
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.wav")
        .load(fixtures)
        .select("path", "content")
    )
    return read_wav_meta(files).filter(F.col("is_wav")).select(
        F.element_at(F.split("path", "/"), -1).alias("file"),
        "channels",
        "sample_rate",
        "bits",
        "n_frames",
        "duration_ms",
        "rms",
    )


@query(
    "mm_decode_features",
    oracle="""
    WITH d AS (
      SELECT doc_id, text,
             CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
             CAST(floor(sqrt(CAST(octet_length(encode(text)) AS DOUBLE)))
                  AS INT) AS side
      FROM documents
    ),
    px AS (
      SELECT doc_id, n_bytes, side,
             GREATEST(side // 4, 1) AS block,
             CAST(p AS INT) // side AS r,
             CAST(p AS INT) % side AS c,
             CAST(ascii(substr(text, CAST(p AS INT) + 1, 1)) AS BIGINT) AS v
      FROM d, unnest(range(0, CAST(side AS BIGINT) * side)) t(p)
    )
    SELECT doc_id, n_bytes, side,
           CAST(SUM(v) AS DOUBLE) / (side * side) AS mean_px,
           sqrt(GREATEST(
             CAST(SUM(v * v) AS DOUBLE) / (side * side)
               - (CAST(SUM(v) AS DOUBLE) / (side * side))
                 * (CAST(SUM(v) AS DOUBLE) / (side * side)),
             0)) AS std_px,
           CAST(SUM(CASE WHEN r < block AND c < block THEN v END)
                AS DOUBLE) / (block * block) AS thumb_00,
           CAST(SUM(CASE WHEN r >= 3 * block AND r < 4 * block
                          AND c >= 3 * block AND c < 4 * block THEN v END)
                AS DOUBLE) / (block * block) AS thumb_33
    FROM px
    GROUP BY doc_id, n_bytes, side, block
    """,
)
def mm_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode + feature-extract stage: bytes -> grayscale interpretation
    -> stats + 4x4 block-mean thumbnail (the codec itself is the injected
    stub boundary — see operators/media.decode_media). Stats come from
    exact integer sums (single IEEE division/sqrt), so the DuckDB oracle
    reproduces them bit-identically; the ASCII corpus makes char position
    == byte position."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("content")
    )
    feats = extract_features(d, "content", "doc_id")
    return feats.select(
        "doc_id", "n_bytes", "side", "mean_px", "std_px",
        F.element_at("thumb", 1).alias("thumb_00"),
        F.element_at("thumb", 16).alias("thumb_33"),
    )


@query(
    "mm_decode_png_roundtrip",
    oracle="""
    -- ASCII-corpus assumption (shared with mm_decode_features): ascii()/
    -- substr() index CHARACTERS while the engine samples BYTES, so this
    -- oracle is only valid while the documents text is 7-bit ASCII (true
    -- of the generator corpus); empty docs are filtered on both sides
    -- (the engine emits no pixels, and p % 0 has no meaning).
    WITH d AS (
      SELECT doc_id, text, octet_length(encode(text)) AS len FROM documents
      WHERE octet_length(encode(text)) > 0
    ),
    px AS (
      SELECT doc_id, CAST(p AS INT) AS p,
             CAST(ascii(substr(text, CAST(p % len AS INT) + 1, 1))
                  AS BIGINT) AS v
      FROM d, unnest(range(0, 64)) t(p)
    )
    SELECT doc_id,
           -- stored-deflate framing: sig(8) + IHDR(12+13) + IEND(12) +
           -- IDAT(12 + zlib hdr 2 + one stored block hdr 5 + raster + adler 4)
           -- with raster = height * (1 + width) filter bytes
           CAST(8 + 25 + 12 + 12 + 2 + 5 + 8 * (1 + 8) + 4 AS BIGINT)
             AS n_png_bytes,
           8 AS width, 8 AS height,
           CAST(SUM(v) AS DOUBLE) / 64 AS mean_px,
           CAST(MAX(CASE WHEN p = 0 THEN v END) AS INT) AS px_00,
           CAST(MAX(CASE WHEN p = 63 THEN v END) AS INT) AS px_77
    FROM px GROUP BY doc_id
    """,
)
def mm_decode_png_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PNG codec roundtrip, both directions NATIVE: each document's bytes
    become an 8x8 grayscale thumbnail encoded as a real PNG
    (sinks.png_preview_udf, stored-deflate zlib), then decoded back by the
    stdlib PNG reader (operators/media.decode_png_bytes — chunk walk,
    inflate, scanline unfilter) and reduced to exact pixel stats. The
    oracle recomputes every pixel from the source text independently of
    both codecs, so a bug in EITHER the encoder or the decoder breaks the
    hash. n_png_bytes pins the stored-deflate framing (140 bytes for 8x8:
    8 sig + 25 IHDR + 95 IDAT + 12 IEND)."""
    from loris_mri_spark.operators.media import extract_png_features
    from loris_mri_spark.sinks import png_preview_udf

    d = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.encode("text", "utf-8").alias("content"))
        .filter(F.length("content") > 0)  # zero pixels, nothing to encode
    )
    pngs = d.select("doc_id", png_preview_udf(F.col("content"), 8).alias("png"))
    return extract_png_features(pngs, "png", "doc_id")


def _jpeg_oracle() -> str:
    """Golden from the BLOCK-VALUE SPEC (tests/fixtures/generate.py
    jpeg_block_values) — independent of both the JPEG encoder and the
    decoder; the flat-block/q_DC=8 construction makes the lossy pipeline
    exact, so the spec IS the decoded image."""
    import hashlib

    rows = []
    bw, bh = 4, 3
    for inst in (1, 2):
        vals = [(17 * (by * bw + bx) + 29 * inst) % 256
                for by in range(bh) for bx in range(bw)]
        img = bytearray()
        for py in range(bh * 8):
            for px_ in range(bw * 8):
                img.append(vals[(py // 8) * bw + px_ // 8])
        rows.append(
            f"('img-{inst}.jpg', {bh * 8}, {bw * 8}, "
            f"CAST({sum(img)} AS BIGINT), "
            f"'{hashlib.md5(bytes(img)).hexdigest()}')"
        )
    return (
        "SELECT * FROM (VALUES " + ", ".join(rows)
        + ") AS t(file, height, width, px_sum, px_md5)"
    )


@query("mm_decode_jpeg_baseline", oracle=_jpeg_oracle())
def mm_decode_jpeg_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal image decode, JPEG edition: NATIVE grayscale baseline
    T.81 decode (marker walk, Huffman entropy decode with byte
    unstuffing, dequantize, float64 IDCT) inside Arrow-batched tasks —
    the codec seam now covers PNG + baseline JPEG + PCM WAV natively.
    Oracle: golden from the block-value spec, independent of encoder and
    decoder (the fixtures' flat-block construction makes the lossy
    pipeline exact)."""
    import os as _os

    from loris_mri_spark.operators.media import decode_jpeg_baseline

    fixtures = _media_dir("jpeg")
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "img-*.jpg")
        .load(fixtures)
        .select("path", "content")
    )
    schema = "file string, height int, width int, px_sum long, px_md5 string"

    def decode(path, content):
        img = decode_jpeg_baseline(content)
        if img is None:
            return
        yield {
            "file": _os.path.basename(path),
            "height": img.shape[0],
            "width": img.shape[1],
            "px_sum": int(img.astype("int64").sum()),
            "px_md5": hashlib.md5(img.tobytes()).hexdigest(),
        }

    return map_rows(files, decode, schema)


def _mjpeg_oracle() -> str:
    """Golden from the block-value spec (frame f of clip inst uses
    jpeg_block_values(inst + 11 * f, 2, 2)) — independent of the AVI
    writer, the JPEG encoder and both decoders."""
    import hashlib

    rows = []
    bw, bh = 2, 2
    for inst in (1, 2):
        for f in range(3):
            seed = inst + 11 * f
            vals = [(17 * (by * bw + bx) + 29 * seed) % 256
                    for by in range(bh) for bx in range(bw)]
            img = bytearray()
            for py in range(bh * 8):
                for px_ in range(bw * 8):
                    img.append(vals[(py // 8) * bw + px_ // 8])
            rows.append(
                f"('clip-{inst}.avi', {f}, 16, 16, 3, "
                f"CAST({sum(img)} AS BIGINT), "
                f"'{hashlib.md5(bytes(img)).hexdigest()}')"
            )
    return (
        "SELECT * FROM (VALUES " + ", ".join(rows)
        + ") AS t(file, frame_idx, width, height, n_frames_declared, "
        + "px_sum, px_md5)"
    )


@query("mm_video_mjpeg_frames", oracle=_mjpeg_oracle())
def mm_video_mjpeg_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal VIDEO decode, native path: RIFF/AVI container walk
    (operators/media.parse_avi_mjpeg) -> '00dc' MJPEG chunks -> per-frame
    grayscale baseline JPEG decode — video frame extraction with zero
    injected codecs. Inter-frame codecs (H.264 etc.) stay on the seam;
    MJPEG is JPEG-per-frame, so the engine's own decoder covers it.
    Oracle: spec-derived golden, independent of writer and decoders."""
    import os as _os

    from loris_mri_spark.operators.media import (
        decode_jpeg_baseline,
        parse_avi_mjpeg,
    )

    fixtures = _media_dir("video")
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.avi")
        .load(fixtures)
        .select("path", "content")
    )
    schema = (
        "file string, frame_idx int, width int, height int, "
        "n_frames_declared int, px_sum long, px_md5 string"
    )

    def decode(path, content):
        avi = parse_avi_mjpeg(content)
        if avi is None:
            return
        for f, jpg in enumerate(avi["frames"]):
            img = decode_jpeg_baseline(jpg)
            if img is None:
                continue
            yield {
                "file": _os.path.basename(path),
                "frame_idx": f,
                "width": img.shape[1],
                "height": img.shape[0],
                "n_frames_declared": avi["n_frames_declared"],
                "px_sum": int(img.astype("int64").sum()),
                "px_md5": hashlib.md5(img.tobytes()).hexdigest(),
            }

    return map_rows(files, decode, schema)


def _jpeg_color_oracle() -> str:
    """Golden from the per-block (Y, Cb, Cr) spec
    (tests/fixtures/generate.py jpeg_color_block_values)."""
    import hashlib

    rows = []
    bw, bh = 3, 2
    for inst in (1, 2):
        spec = [
            ((17 * i + 29 * inst) % 256, (23 * i + 31 * inst) % 256,
             (41 * i + 37 * inst) % 256)
            for i in range(bw * bh)
        ]
        img = bytearray()
        sums = [0, 0, 0]
        for py in range(bh * 8):
            for px_ in range(bw * 8):
                triple = spec[(py // 8) * bw + px_ // 8]
                img += bytes(triple)
                for c in range(3):
                    sums[c] += triple[c]
        rows.append(
            f"('color-{inst}.jpg', {bh * 8}, {bw * 8}, "
            f"CAST({sums[0]} AS BIGINT), CAST({sums[1]} AS BIGINT), "
            f"CAST({sums[2]} AS BIGINT), "
            f"'{hashlib.md5(bytes(img)).hexdigest()}')"
        )
    return (
        "SELECT * FROM (VALUES " + ", ".join(rows)
        + ") AS t(file, height, width, y_sum, cb_sum, cr_sum, px_md5)"
    )


@query("mm_decode_jpeg_color", oracle=_jpeg_color_oracle())
def mm_decode_jpeg_color(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Color (3-component 4:4:4) baseline JPEG decode: interleaved MCUs
    with per-component Huffman/quant tables and DC predictors — the
    native decoder's color path, emitting per-plane sums in the encoded
    YCbCr space (the RGB transform is a caller choice, kept off the
    exactness-checked path). 4:2:0 subsampling also decodes natively
    (pinned in tests/test_multimodal.py); progressive streams stay on
    the injected seam."""
    import os as _os

    from loris_mri_spark.operators.media import decode_jpeg_baseline

    fixtures = _media_dir("jpeg")
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "color-*.jpg")
        .load(fixtures)
        .select("path", "content")
    )
    schema = (
        "file string, height int, width int, y_sum long, cb_sum long, "
        "cr_sum long, px_md5 string"
    )

    def decode(path, content):
        img = decode_jpeg_baseline(content)
        if img is None or img.ndim != 3:
            return
        s = img.astype("int64").sum(axis=(0, 1))
        yield {
            "file": _os.path.basename(path),
            "height": img.shape[0],
            "width": img.shape[1],
            "y_sum": int(s[0]),
            "cb_sum": int(s[1]),
            "cr_sum": int(s[2]),
            "px_md5": hashlib.md5(img.tobytes()).hexdigest(),
        }

    return map_rows(files, decode, schema)


@query(
    "mm_audio_features",
    oracle="""
    SELECT * FROM (VALUES
      ('sub-01_audio.wav', CAST(19 AS BIGINT), CAST(1000 AS BIGINT),
       CAST(1600 AS BIGINT)),
      ('sub-02_audio.wav', CAST(11 AS BIGINT), CAST(1000 AS BIGINT),
       CAST(800 AS BIGINT)))
      AS t(file, zero_crossings, peak, n_samples)
    """,
)
def mm_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio SIGNAL FEATURES beyond the RMS meta: zero-crossing count
    (the classic voicing/noisiness heuristic — a pure tone crosses at
    ~2x its frequency x duration, noise far more) and peak amplitude,
    both exact integers over the decoded int16 stream
    (operators/media.py:wav_signal_features, vectorized numpy inside
    the same Arrow-batched scan). Golden oracle pins the committed
    fixtures' independently computed values."""
    from loris_mri_spark.operators.media import read_wav_features

    fixtures = _media_dir("audio")
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.wav")
        .load(fixtures)
        .select("path", "content")
    )
    return read_wav_features(files).filter(F.col("is_wav")).select(
        F.element_at(F.split("path", "/"), -1).alias("file"),
        "zero_crossings",
        "peak",
        (F.col("n_frames") * F.col("channels")).alias("n_samples"),
    )
