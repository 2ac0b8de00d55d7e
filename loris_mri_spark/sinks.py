"""Sinks (SURVEY §2.1 S10-S15, S17) — the reference's MySQL insert/update
surface re-expressed as parquet writers + id-assignment expressions.

Mutation model: Spark storage is immutable, so
- S10/S11 (row + bulk insert with autoincrement ids) become one APPEND of
  a whole DataFrame with DETERMINISTIC ids (content hash via md5_60, or
  max+row_number sequences via operators.get_or_create) — the
  row-at-a-time `lib/database.py:146-186` loop becomes a single write job.
- S12 (UPDATE ... WHERE) becomes snapshot overwrite (catalog.write_snapshot)
  or dynamic PARTITION overwrite (`overwrite_partitions`): partition the
  table on the mutation key so an update rewrites one partition, not the
  world (`lib/database.py:188-208`).
- S13 (S3) is a path scheme: Spark reads/writes `s3a://` natively; the
  engine provides the reference's URL-rewrite expression
  (`lib/aws_s3.py:93-257` path -> s3 URL mapping).
- S14/S15 (protobuf chunks, PNG previews) are binary-encoding expressions/
  UDFs producing `binary` columns; the bytes are written with any
  DataFrame writer (parquet keeps them splittable; foreachPartition can
  emit one object per row when a filesystem layout is required).
"""

from __future__ import annotations

import struct
import zlib

import pandas as pd
import pyarrow as pa

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType


def append_with_ids(
    df: DataFrame,
    path: str,
    id_col: str = "id",
    natural_key: Column | None = None,
) -> None:
    """S10/S11: bulk append with deterministic ids (md5_60 of the natural
    key — reproducible across runs/executors, no autoincrement
    coordination; SURVEY §7.3)."""
    from loris_mri_spark.functions.texthash import md5_60

    if natural_key is not None:
        df = df.withColumn(id_col, md5_60(natural_key))
    df.write.mode("append").parquet(path)


def overwrite_partitions(df: DataFrame, path: str, partition_by: list[str]) -> None:
    """S12 at scale: dynamic partition overwrite — only the partitions
    present in ``df`` are replaced (the UPDATE-one-upload pattern:
    partition on TarchiveID/upload id)."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_by)
        .parquet(path)
    )


def to_s3_url(path_col: Column | str, bucket: str) -> Column:
    """S13: the reference's local-path -> S3 URL rewrite
    (`push_imaging_files_to_s3_pipeline.py`; `aws_s3.py:93-257`). Reading/
    writing the returned URLs is native (s3a://) when the cluster has the
    S3 filesystem connector; no engine code is required."""
    c = F.col(path_col) if isinstance(path_col, str) else path_col
    return F.concat(
        F.lit(f"s3://{bucket}/"), F.regexp_replace(c, r"^.*?([^/]+/[^/]+)$", "$1")
    )


# --------------------------------------------------------------------------
# S13 transfer semantics — the upload/download/delete/exists surface of the
# reference's boto3 layer (`aws_s3.py:93-257`: upload_file, download_file,
# delete_file, check_if_file_key_exists), expressed on Hadoop's FileSystem
# abstraction: the SAME calls run against file://, hdfs://, or s3a://
# depending on the URL scheme, so the sandbox tests the copy/delete
# semantics on file:// and a connector-equipped cluster gets real S3 with
# zero code change. Driver-side control-plane ops (one file apiece), not
# data-plane — bulk data still moves via DataFrame read/write.
# --------------------------------------------------------------------------


def _hadoop_fs(spark, url: str):
    jvm = spark._jvm
    uri = jvm.java.net.URI(url)
    conf = spark._jsc.hadoopConfiguration()
    return jvm.org.apache.hadoop.fs.FileSystem.get(uri, conf), jvm


def fs_exists(spark, url: str) -> bool:
    """check_if_file_key_exists (aws_s3.py:120-143)."""
    fs, jvm = _hadoop_fs(spark, url)
    return bool(fs.exists(jvm.org.apache.hadoop.fs.Path(url)))


def fs_copy(spark, src_url: str, dst_url: str) -> None:
    """upload_file/download_file (aws_s3.py:145-208): scheme-to-scheme
    copy (file->s3a = upload, s3a->file = download)."""
    fs_src, jvm = _hadoop_fs(spark, src_url)
    fs_dst, _ = _hadoop_fs(spark, dst_url)
    Path = jvm.org.apache.hadoop.fs.Path
    FileUtil = jvm.org.apache.hadoop.fs.FileUtil
    ok = FileUtil.copy(
        fs_src, Path(src_url), fs_dst, Path(dst_url),
        False,  # deleteSource
        True,   # overwrite
        spark._jsc.hadoopConfiguration(),
    )
    if not ok:
        raise IOError(f"copy failed: {src_url} -> {dst_url}")


def fs_delete(spark, url: str) -> bool:
    """delete_file (aws_s3.py:210-236). Returns True if something was
    deleted, False if the key did not exist (idempotent-delete contract)."""
    fs, jvm = _hadoop_fs(spark, url)
    return bool(fs.delete(jvm.org.apache.hadoop.fs.Path(url), False))


def _pb_varint(n: int) -> bytes:
    """Protobuf base-128 varint (non-negative)."""
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def pb_encode_float_chunk(
    index: int, downsampling: int, cutoff: int, samples: list[float]
) -> bytes:
    """Wire-compatible proto3 encoding of the reference's `FloatChunk`
    message (descriptor in `loris_ephys_chunker/.../chunk_pb2.py`:
    `int64 index = 1; int64 downsampling = 2; int64 cutoff = 3;
    repeated float samples = 4;`; writer `chunking.py:134-157`). Hand-
    rolled wire format — varint fields with zero values omitted (proto3),
    samples packed as little-endian float32 — byte-identical to
    `FloatChunk(...).SerializeToString()`, so existing chunk viewers read
    the engine's .buf blobs unchanged."""
    out = bytearray()
    if index:
        out += b"\x08" + _pb_varint(index)
    if downsampling:
        out += b"\x10" + _pb_varint(downsampling)
    if cutoff:
        out += b"\x18" + _pb_varint(cutoff)
    if samples:
        payload = struct.pack(f"<{len(samples)}f", *[float(x) for x in samples])
        out += b"\x22" + _pb_varint(len(payload)) + payload
    return bytes(out)


def pb_encode_float_chunk_vec(idx, ds, cut, samp) -> "tuple[list[bytes], int]":
    """Vectorized FloatChunk message encoding — the single buffer-slicing
    core shared by the expression-level encoder (encode_float_chunk,
    below) and both ``loris_chunks`` Arrow writers (sources/pyds.py).
    ``idx``/``ds``/``cut`` are int64 numpy arrays; ``samp`` is a pyarrow
    ListArray (or ChunkedArray) of floats with NO null lists or null
    elements — callers guard and fall back to the row encoder. The float
    payload is the Arrow child buffer itself (already little-endian
    float32 after one whole-buffer astype) — sliced per row, never
    converted float-by-float through Python. Per-row work is only the
    tag/varint headers. Byte-identical to pb_encode_float_chunk per row
    (pinned in tests/test_pyds.py and tests/test_sinkops.py).

    Returns (messages, total_message_bytes)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    if isinstance(samp, pa.ChunkedArray):
        samp = samp.combine_chunks()
    lengths = np.asarray(
        pc.list_value_length(samp).to_numpy(zero_copy_only=False),
        dtype=np.int64,
    )
    payload = (
        samp.flatten()
        .to_numpy(zero_copy_only=False)
        .astype(np.float32, copy=False)
        .tobytes()
    )
    ends = np.cumsum(lengths)
    starts = ends - lengths
    msgs: list[bytes] = []
    total = 0
    for i in range(len(lengths)):
        msg = bytearray()
        if idx[i]:
            msg += b"\x08" + _pb_varint(int(idx[i]))
        if ds[i]:
            msg += b"\x10" + _pb_varint(int(ds[i]))
        if cut[i]:
            msg += b"\x18" + _pb_varint(int(cut[i]))
        if lengths[i]:
            nb = int(lengths[i]) * 4
            msg += (
                b"\x22"
                + _pb_varint(nb)
                + payload[int(starts[i]) * 4 : int(ends[i]) * 4]
            )
        msgs.append(bytes(msg))
        total += len(msg)
    return msgs, total


def encode_float_chunk(
    index_col: Column, downsampling_col: Column, samples_col: Column
) -> Column:
    """S14: FloatChunk protobuf sink encoding (see pb_encode_float_chunk);
    cutoff = len(samples), mirroring encode_chunk(chunking.py:134-138).
    Arrow-batched since r10: an ``arrow_udf`` receiving pyarrow Arrays
    directly and delegating to pb_encode_float_chunk_vec — the same
    buffer-slicing core as the ``loris_chunks`` writers (the per-row
    pandas_udf loop calling pb_encode_float_chunk with ``list(s)`` per
    row was the expression path's measured throughput ceiling, the same
    class the t13 sink writers graduated from in r9). Null lists/elements
    or null index/downsampling fall back to the row encoder, which raises
    — a null sample is malformed input, not data (the pre-r10 loop raised
    the same way)."""
    from pyspark.sql.functions import arrow_udf

    @arrow_udf(BinaryType())
    def _enc(idx: pa.Array, ds: pa.Array, samples: pa.Array) -> pa.Array:
        import numpy as np
        import pyarrow as _pa
        # `import pyarrow` does NOT import the compute submodule; the
        # pyspark 4.1 Arrow worker merely happens to have imported it
        # before user code runs. Import it explicitly so the UDF body
        # never depends on that side effect.
        import pyarrow.compute as _pc

        if isinstance(samples, _pa.ChunkedArray):
            samples = samples.combine_chunks()
        if (
            idx.null_count
            or ds.null_count
            or samples.null_count
            or samples.flatten().null_count
        ):
            return _pa.array(
                [
                    pb_encode_float_chunk(int(i), int(d), len(s), list(s))
                    for i, d, s in zip(
                        idx.to_pylist(), ds.to_pylist(), samples.to_pylist()
                    )
                ],
                type=_pa.binary(),
            )
        idx_np = np.asarray(
            idx.to_numpy(zero_copy_only=False), dtype=np.int64
        )
        ds_np = np.asarray(ds.to_numpy(zero_copy_only=False), dtype=np.int64)
        lengths = np.asarray(
            _pc.list_value_length(samples).to_numpy(zero_copy_only=False),
            dtype=np.int64,
        )
        msgs, _ = pb_encode_float_chunk_vec(idx_np, ds_np, lengths, samples)
        return _pa.array(msgs, type=_pa.binary())

    return _enc(index_col, downsampling_col, samples_col)


def decode_float_chunk(payload: bytes) -> tuple[int, int, int, list[float]]:
    """Proto3 wire decoder for FloatChunk (tests/viewer shims): returns
    (index, downsampling, cutoff, samples)."""
    pos, fields = 0, {1: 0, 2: 0, 3: 0}
    samples: list[float] = []
    while pos < len(payload):
        tag = payload[pos]
        field, wtype = tag >> 3, tag & 7
        pos += 1
        if wtype == 0:  # varint
            val, shift = 0, 0
            while True:
                b = payload[pos]
                val |= (b & 0x7F) << shift
                shift += 7
                pos += 1
                if not b & 0x80:
                    break
            fields[field] = val
        elif wtype == 2:  # length-delimited
            ln, shift = 0, 0
            while True:
                b = payload[pos]
                ln |= (b & 0x7F) << shift
                shift += 7
                pos += 1
                if not b & 0x80:
                    break
            if field == 4:
                samples = list(struct.unpack_from(f"<{ln // 4}f", payload, pos))
            pos += ln
        else:
            raise ValueError(f"unexpected wire type {wtype}")
    return fields[1], fields[2], fields[3], samples


def png_preview(gray_rows: list[list[int]]) -> bytes:
    """S15: minimal REAL grayscale PNG encoder (stdlib zlib/struct) — the
    reference renders ortho-slice previews via nilearn
    (`imaging.py:1176-1219`); the engine's preview sink writes true PNG
    bytes so any viewer opens them. The pixel source is the caller's
    (real slice data, or a deterministic thumbnail of it)."""
    h = len(gray_rows)
    w = len(gray_rows[0]) if h else 0

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)  # 8-bit grayscale
    raw = b"".join(b"\x00" + bytes(row) for row in gray_rows)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", _zlib_stored(raw))
        + chunk(b"IEND", b"")
    )


def _zlib_stored(data: bytes) -> bytes:
    """Valid zlib stream using stored (uncompressed) deflate blocks.

    Thumbnails are tens of bytes — compression saves nothing there, and
    the stored encoding makes the PNG byte length an exact function of
    the dimensions (len = 8 + 25 + 12 + zlib(2 + 5*nblocks + raw + 4)
    + 12), so the sink's output size can be oracled precisely. Any
    inflater reads it (it IS deflate)."""
    out = bytearray(b"\x78\x01")
    pos = 0
    while True:
        blk = data[pos : pos + 0xFFFF]
        pos += len(blk)
        final = 1 if pos >= len(data) else 0
        out += bytes([final]) + struct.pack("<HH", len(blk), len(blk) ^ 0xFFFF)
        out += blk
        if final:
            break
    out += struct.pack(">I", zlib.adler32(data) & 0xFFFFFFFF)
    return bytes(out)


ORTHO_SCHEMA = (
    "path string, plane string, width int, height int, n_png_bytes int, "
    "mean_px_r double, px_center int"
)


def _ortho_rows(path: str, content: bytes):
    """ortho_preview's row function: the three (file, plane) rows of one
    volume, or none for an undecodable or non-int16 one."""
    import gzip

    from loris_mri_spark.sources.nifti import parse_nifti_bytes

    b = content
    if b[:2] == b"\x1f\x8b":
        try:
            b = gzip.decompress(b)
        except Exception:
            return
    meta = parse_nifti_bytes(b)
    if not meta.get("is_nifti") or meta.get("datatype") != 4:
        return  # int16 volumes only; others stay on the seam
    nx, ny, nz = meta["xspace"], meta["yspace"], meta["zspace"]
    nvox = nx * ny * nz
    if nx <= 0 or ny <= 0 or nz <= 0 or 352 + 2 * nvox > len(b):
        return
    v = struct.unpack_from(f"<{nvox}h", b, 352)  # t=0 volume
    vmin, vmax = min(v), max(v)
    span = vmax - vmin

    def px(val: int) -> int:
        # round-half-up((val-vmin)*255/span) in pure ints
        return ((val - vmin) * 510 + span) // (2 * span) if span else 0

    def at(x: int, y: int, z: int) -> int:
        return v[x + y * nx + z * nx * ny]  # x-fastest layout

    planes = {
        "axial": [
            [px(at(x, y, nz // 2)) for x in range(nx)] for y in range(ny)
        ],
        "coronal": [
            [px(at(x, ny // 2, z)) for x in range(nx)] for z in range(nz)
        ],
        "sagittal": [
            [px(at(nx // 2, y, z)) for y in range(ny)] for z in range(nz)
        ],
    }
    for plane, grid in planes.items():
        h, w = len(grid), len(grid[0])
        png = png_preview(grid)
        s = sum(sum(r) for r in grid)
        yield {
            "path": path,
            "plane": plane,
            "width": w,
            "height": h,
            "n_png_bytes": len(png),
            "mean_px_r": round(s / (w * h), 4),
            "px_center": grid[h // 2][w // 2],
        }


def ortho_preview(df: DataFrame) -> DataFrame:
    """S15 completion: 3-plane ortho-slice preview — the reference's pic
    is a nilearn ortho plot of the volume's three central orthogonal
    slices (`python/lib/imaging.py:1176-1219`, `imaging_lib/nifti_pic.py`).
    Input: binaryFile rows of NIfTI volumes (gzip-transparent). Per file,
    the central axial (z), coronal (y) and sagittal (x) slices of the
    first timepoint are normalized to 8-bit over the volume's global
    min/max (integer round-half-up — deterministic, oracle-exact) and
    each encoded as a real PNG with the stored-deflate encoder above, so
    n_png_bytes is an exact function of the slice dims. Output: one row
    per (file, plane) with the PNG size and slice stats; undecodable or
    non-int16 volumes are skipped (classify, don't fail). One task per
    file batch through `sources.files.map_rows` — per-file Python is
    inherent to preview rendering (the reference shells out to nilearn
    per file)."""
    from loris_mri_spark.sources.files import map_rows

    return map_rows(df.select("path", "content"), _ortho_rows, ORTHO_SCHEMA)


def png_preview_udf(content_col: Column, size: int = 8) -> Column:
    """Preview-sink UDF: derive a deterministic ``size x size`` grayscale
    thumbnail from a binary column and encode it as a real PNG."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(BinaryType())
    def _png(content: pd.Series) -> pd.Series:
        out = []
        for blob in content:
            b = bytes(blob)
            rows = [
                [b[(r * size + c) % len(b)] if b else 0 for c in range(size)]
                for r in range(size)
            ]
            out.append(png_preview(rows))
        return pd.Series(out)

    return _png(content_col)


def write_keyed_store(
    df: DataFrame,
    path: str,
    key_col: str,
    expected_ndv: int = 1_000_000,
    mode: str = "overwrite",
) -> None:
    """Write a lookup/store table with a PARQUET BLOOM FILTER on its key
    column — the store side of membership checks (duplicate suppression,
    `database_lib/files.py:40-101`). At 100 TB the incremental-dedup
    anti-join probes the store by fingerprint; with bloom filters each
    row group answers "definitely absent" from its footer, so the scan
    skips row groups without touching data pages (min/max stats are
    useless for uniformly-distributed hash keys — blooms are the only
    skipping that works there). ``expected_ndv`` sizes the filter; set it
    to the approximate distinct-key count per file."""
    (
        df.write.mode(mode)
        .option(f"parquet.bloom.filter.enabled#{key_col}", "true")
        .option(
            f"parquet.bloom.filter.expected.ndv#{key_col}",
            str(int(expected_ndv)),
        )
        .parquet(path)
    )
