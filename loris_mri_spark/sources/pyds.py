"""Spark Python Data Source (`pyspark.sql.datasource`, Spark 4) exposing
the engine's stdlib header parsers as a REAL registered source:

    spark.dataSource.register(HeadersDataSource)
    spark.read.format("loris_headers").option("kind", "dicom").load(dir)

This is the idiomatic Spark-4 packaging of the S1/S4 scans (reference:
per-file Perl/pydicom loops, `summary_get.py:21-63`,
`python/lib/imaging_lib/nifti.py:7-30`): the directory listing happens
once at planning time (metadata only — names, no file reads), each task
parses its own slice of files, and Catalyst-pushed `path` predicates prune
FILES before a single byte is read (`pushFilters`: EqualTo /
StringStartsWith / StringEndsWith / StringContains on `path`), the same
partition-pruning contract a parquet scan gives you. Pushdown is opt-in
(``.option("pushdown", "true")`` plus the runtime conf
``spark.sql.python.filterPushdown.enabled=true``) because Spark rejects
pushFilters readers outright when the conf is off.

Batch reader: one `InputPartition` per `filesPerTask` files (default 4) —
at 100 TB the unit of parallelism is the file, the output is a narrow
header table, and pixel payloads never leave the task.

Streaming reader (`simpleStreamReader`): incremental header ingest over a
landing directory. The offset is the sorted list of already-seen file
names — exact, replayable (`readBetweenOffsets` re-derives the delta from
the two offsets alone), and exactly-once under Structured Streaming's
offset log. Listing-sized offsets are the same trade Spark's own file
source makes with its seen-files map; compaction beyond that is the
checkpoint's job, not the source's.

Both readers classify-don't-fail: unreadable bytes produce an
``is_<kind>=false`` row, never an exception (DCMSUM.pm skip semantics).
"""

from __future__ import annotations

import os
from typing import Any, Iterator, Sequence

from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    DataSourceStreamArrowWriter,
    DataSourceStreamWriter,
    DataSource,
    DataSourceReader,
    EqualTo,
    Filter,
    InputPartition,
    SimpleDataSourceStreamReader,
    StringContains,
    StringEndsWith,
    StringStartsWith,
)

from loris_mri_spark.sources.dicom import DICOM_SCHEMA, parse_dicom_bytes
from loris_mri_spark.sources.files import map_rows
from loris_mri_spark.sources.nifti import NIFTI_SCHEMA, parse_nifti_bytes

FORMAT_NAME = "loris_headers"

# kind -> (DDL schema, bytes-parser). The schemas/parsers are the exact
# ones the binaryFile scans use, so the two paths agree row-for-row.
_KINDS: dict[str, tuple[str, Any]] = {
    "dicom": (DICOM_SCHEMA, parse_dicom_bytes),
    "nifti": (NIFTI_SCHEMA, parse_nifti_bytes),
}


def _schema_cols(ddl: str) -> list[str]:
    return [c.strip().split(" ")[0] for c in ddl.split(",")]


def _list_files(root: str) -> list[str]:
    """Deterministic recursive listing (names only, no reads)."""
    out: list[str] = []
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            out.append(os.path.join(dirpath, f))
    return sorted(out)


def _path_pred(filters: Sequence[Filter]):
    """Compile supported path filters into one predicate; return
    (predicate, unsupported). Only `path` filters prune at listing time —
    everything else stays in Spark's post-scan Filter."""
    preds, unsupported = [], []
    for f in filters:
        attr = getattr(f, "attribute", None)
        if attr == ("path",):
            if isinstance(f, EqualTo):
                preds.append(lambda p, v=f.value: p == v)
                continue
            if isinstance(f, StringStartsWith):
                preds.append(lambda p, v=f.value: p.startswith(v))
                continue
            if isinstance(f, StringEndsWith):
                preds.append(lambda p, v=f.value: p.endswith(v))
                continue
            if isinstance(f, StringContains):
                preds.append(lambda p, v=f.value: v in p)
                continue
        unsupported.append(f)
    if not preds:
        return (lambda _p: True), unsupported
    return (lambda p: all(pr(p) for pr in preds)), unsupported


def _parse_file(path: str, parser, cols: list[str]) -> tuple:
    try:
        with open(path, "rb") as fh:
            content = fh.read()
        row = {"path": path, **parser(content)}
    except OSError:
        row = {"path": path}
    return tuple(row.get(c) for c in cols)


class _FileSlice(InputPartition):
    def __init__(self, paths: list[str]) -> None:
        self.paths = paths


class _HeadersReader(DataSourceReader):
    def __init__(self, options: dict) -> None:
        self.path = options.get("path")
        if not self.path:
            raise ValueError("loris_headers: .load(<directory>) is required")
        kind = options.get("kind", "dicom")
        if kind not in _KINDS:
            raise ValueError(f"loris_headers: unknown kind {kind!r}")
        self.kind = kind
        self.files_per_task = int(options.get("filesPerTask", "4"))
        self._pred = lambda _p: True

    def partitions(self) -> Sequence[InputPartition]:
        files = [p for p in _list_files(self.path) if self._pred(p)]
        n = max(self.files_per_task, 1)
        return [
            _FileSlice(files[i : i + n]) for i in range(0, len(files), n)
        ] or [_FileSlice([])]

    def read(self, partition: _FileSlice) -> Iterator[tuple]:
        ddl, parser = _KINDS[self.kind]
        cols = _schema_cols(ddl)
        for path in partition.paths:
            yield _parse_file(path, parser, cols)


class _HeadersPushdownReader(_HeadersReader):
    """Pushdown-capable variant. Spark REFUSES any reader that defines
    pushFilters unless ``spark.sql.python.filterPushdown.enabled`` is on
    (it is runtime-settable but defaults off), so this subclass is chosen
    only when the read sets ``.option("pushdown", "true")`` alongside the
    conf — a vanilla session reading without the option keeps working."""

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        self._pred, unsupported = _path_pred(filters)
        return iter(unsupported)


class _HeadersStreamReader(SimpleDataSourceStreamReader):
    """Incremental landing-directory ingest: each micro-batch emits header
    rows for files not present in the start offset."""

    def __init__(self, options: dict) -> None:
        self.path = options.get("path")
        if not self.path:
            raise ValueError("loris_headers: .load(<directory>) is required")
        self.kind = options.get("kind", "dicom")
        ddl, self._parser = _KINDS[self.kind]
        self._cols = _schema_cols(ddl)

    def initialOffset(self) -> dict:
        return {"seen": []}

    def read(self, start: dict) -> tuple[Iterator[tuple], dict]:
        seen = set(start.get("seen", []))
        files = _list_files(self.path)
        new = [p for p in files if p not in seen]
        end = {"seen": sorted(seen | set(new))}
        rows = iter(
            [_parse_file(p, self._parser, self._cols) for p in new]
        )
        return rows, end

    def readBetweenOffsets(
        self, start: dict, end: dict
    ) -> Iterator[tuple]:
        delta = sorted(set(end.get("seen", [])) - set(start.get("seen", [])))
        return iter(
            [_parse_file(p, self._parser, self._cols) for p in delta]
        )


class HeadersDataSource(DataSource):
    """`loris_headers`: neuroimaging header tables as a first-class Spark
    source (batch + streaming). Options: ``kind`` (dicom | nifti),
    ``filesPerTask`` (batch parallelism granularity)."""

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self) -> str:
        kind = self.options.get("kind", "dicom")
        if kind not in _KINDS:
            raise ValueError(f"loris_headers: unknown kind {kind!r}")
        return _KINDS[kind][0]

    def reader(self, schema) -> DataSourceReader:
        opts = dict(self.options)
        if opts.get("pushdown", "false").lower() == "true":
            return _HeadersPushdownReader(opts)
        return _HeadersReader(opts)

    def simpleStreamReader(self, schema) -> SimpleDataSourceStreamReader:
        return _HeadersStreamReader(dict(self.options))


def register(spark) -> None:
    """Idempotently register the source on a session."""
    spark.dataSource.register(HeadersDataSource)


# ---------------------------------------------------------------------------
# Write side: the S14 protobuf chunk sink as a registered format —
# ``df.write.format("loris_chunks").save(dir)`` with the full two-phase
# commit protocol (tasks stage into a job-scoped tmp dir and return commit
# messages; the driver moves staged files into place and writes a _SUCCESS
# manifest on commit, or deletes the staging dir on abort). Local-FS here;
# on a cluster the rename/delete calls go through the same Hadoop
# FileSystem surface as sinks.fs_copy (S13) — the protocol is unchanged.
# ---------------------------------------------------------------------------

import json
import shutil
import struct as _struct
import time
import uuid
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSourceArrowWriter,
    DataSourceWriter,
    WriterCommitMessage,
)

from loris_mri_spark.sinks import _pb_varint

CHUNKS_FORMAT = "loris_chunks"

# Staged "bx-" files (no batch-id local property at write time) are only
# swept once older than this — a live concurrent writer's in-flight files
# are minutes old at most, while true orphans persist across sessions.
_BX_SWEEP_AGE_SEC = 3600.0

# Input contract: (index long, downsampling long, cutoff long,
#                  samples array<float>) — the FloatChunk fields.
CHUNK_WRITE_SCHEMA = (
    "index long, downsampling long, cutoff long, samples array<float>"
)


def _encode_chunk_row(row) -> bytes:
    from loris_mri_spark.sinks import pb_encode_float_chunk

    return pb_encode_float_chunk(
        int(row["index"] or 0),
        int(row["downsampling"] or 0),
        int(row["cutoff"] or 0),
        list(row["samples"] or []),
    )


def _encode_chunk_record_batch(batch) -> "tuple[bytes, int, int]":
    """Vectorized varint-delimited FloatChunk stream encoding of one
    Arrow RecordBatch — BYTE-IDENTICAL to framing each row with
    `pb_encode_float_chunk` (equivalence pinned in tests/test_pyds.py,
    incl. zero/negative/null/empty-array edges). The win over the row
    path: the float payload is the Arrow child buffer itself (already
    little-endian float32 — sliced per row, never converted
    float-by-float through Python), and rows never materialize as
    pyspark Row objects at all. Returns (framed bytes, n_records,
    message_bytes) — message_bytes excludes the frame varints, matching
    the row path's commit-manifest accounting.

    Falls back to the row encoder when the batch has null sample LISTS
    (Arrow's flatten drops null slots, which would desync the offsets)
    OR null float ELEMENTS inside a list (flatten().to_numpy() would
    surface those as NaN and silently encode them; the row path raises
    on a null element, which is the contract — a null sample is
    malformed input, not data). Real chunk streams produce neither."""
    import numpy as np
    import pyarrow.compute as pc

    from loris_mri_spark.sinks import (
        pb_encode_float_chunk,
        pb_encode_float_chunk_vec,
    )

    n = batch.num_rows
    if n == 0:
        return b"", 0, 0
    samp = batch.column("samples")
    if samp.null_count or samp.flatten().null_count:
        out = bytearray()
        msg_total = 0
        for row in batch.to_pylist():
            msg = pb_encode_float_chunk(
                int(row["index"] or 0),
                int(row["downsampling"] or 0),
                int(row["cutoff"] or 0),
                list(row["samples"] or []),
            )
            out += _pb_varint(len(msg)) + msg
            msg_total += len(msg)
        return bytes(out), n, msg_total

    def _ints(name: str) -> "np.ndarray":
        return np.asarray(
            pc.fill_null(batch.column(name), 0).to_numpy(
                zero_copy_only=False
            ),
            dtype=np.int64,
        )

    idx, ds, cut = _ints("index"), _ints("downsampling"), _ints("cutoff")
    # buffer-slicing core shared with the expression-level encoder
    # (sinks.pb_encode_float_chunk_vec) — framing stays here because
    # only the file writers varint-delimit their message streams
    msgs, msg_total = pb_encode_float_chunk_vec(idx, ds, cut, samp)
    out = bytearray()
    for msg in msgs:
        out += _pb_varint(len(msg)) + msg
    return bytes(out), n, msg_total


@dataclass
class _ChunkCommit(WriterCommitMessage):
    filename: str
    n_records: int
    n_bytes: int


class _ChunksWriter(DataSourceWriter):
    def __init__(self, options: dict, overwrite: bool) -> None:
        self.path = options.get("path")
        if not self.path:
            raise ValueError("loris_chunks: .save(<directory>) is required")
        self.overwrite = overwrite
        # job-scoped staging dir: chosen on the driver, shared by every
        # task via pickling, so commit/abort see exactly this job's files
        self.staging = os.path.join(self.path, f"_staging-{uuid.uuid4().hex}")

    def write(self, iterator) -> _ChunkCommit:
        from pyspark import TaskContext

        ctx = TaskContext.get()
        part = ctx.partitionId() if ctx is not None else 0
        os.makedirs(self.staging, exist_ok=True)
        fname = f"part-{part:05d}.pb"
        n, total = 0, 0
        # length-prefixed (varint-delimited) FloatChunk stream — the
        # standard protobuf framing for message sequences in one file
        with open(os.path.join(self.staging, fname), "wb") as fh:
            for row in iterator:
                msg = _encode_chunk_row(row)
                fh.write(_pb_varint(len(msg)))
                fh.write(msg)
                n += 1
                total += len(msg)
        return _ChunkCommit(filename=fname, n_records=n, n_bytes=total)

    def commit(self, messages) -> None:
        os.makedirs(self.path, exist_ok=True)
        if self.overwrite:
            for f in os.listdir(self.path):
                if f.endswith(".pb"):
                    os.remove(os.path.join(self.path, f))
        manifest = []
        for m in messages:
            if m is None:
                continue
            os.replace(
                os.path.join(self.staging, m.filename),
                os.path.join(self.path, m.filename),
            )
            manifest.append(
                {
                    "file": m.filename,
                    "n_records": m.n_records,
                    "n_bytes": m.n_bytes,
                }
            )
        shutil.rmtree(self.staging, ignore_errors=True)
        with open(os.path.join(self.path, "_SUCCESS"), "w") as fh:
            json.dump({"files": manifest}, fh, sort_keys=True)

    def abort(self, messages) -> None:
        shutil.rmtree(self.staging, ignore_errors=True)


class _ChunksArrowWriter(_ChunksWriter, DataSourceArrowWriter):
    """Arrow-batched variant of the batch chunk writer — the registered
    batch path since r9 (same rationale and encoder as the streaming
    `_ChunksStreamArrowWriter`: the batch sink is what a corpus-scale
    pipeline actually writes through, and the per-row Row + per-float
    struct.pack path was its measured throughput ceiling). Staging,
    two-phase commit, and _SUCCESS manifest are inherited unchanged."""

    def write(self, iterator) -> _ChunkCommit:
        from pyspark import TaskContext

        ctx = TaskContext.get()
        part = ctx.partitionId() if ctx is not None else 0
        os.makedirs(self.staging, exist_ok=True)
        fname = f"part-{part:05d}.pb"
        n, total = 0, 0
        with open(os.path.join(self.staging, fname), "wb") as fh:
            for batch in iterator:
                data, nrec, msg_bytes = _encode_chunk_record_batch(batch)
                fh.write(data)
                n += nrec
                total += msg_bytes
        return _ChunkCommit(filename=fname, n_records=n, n_bytes=total)


class _ChunksStreamWriter(DataSourceStreamWriter):
    """STREAMING form of the chunk sink: each micro-batch's task files
    stage under a task-unique name (carried in the commit message), and
    ``commit(messages, batchId)`` lands them in a ``bid=<batchId>``
    directory with a per-batch manifest — so an at-least-once retry of
    a batch REPLACES that batch's directory instead of appending next
    to it (the T4 idempotence rule enforced inside the connector, where
    it belongs). ``abort`` deletes only this writer's staged files."""

    def __init__(self, options: dict) -> None:
        self.path = options.get("path")
        if not self.path:
            raise ValueError("loris_chunks: option('path', <dir>) required")
        # FIXED staging dir (not uuid-fresh): the streaming runtime
        # re-instantiates the writer in a separate commit process, so a
        # per-instance random dir would differ between the write side
        # and the commit side. Task files are made unique by attempt
        # uuid in the FILENAME; commit messages carry the exact names.
        self.staging = os.path.join(self.path, "_stream-staging")

    def write(self, iterator) -> _ChunkCommit:
        from pyspark import TaskContext

        ctx = TaskContext.get()
        part = ctx.partitionId() if ctx is not None else 0
        # Stamp the staged filename with this micro-batch's id (the runtime
        # exposes it to tasks as a local property) so commit can sweep
        # leftovers of THIS batch only — the staging dir is shared, and an
        # unscoped sweep would delete a concurrent writer's staged-but-
        # uncommitted task files, failing ITS commit's os.replace.
        bid = (ctx.getLocalProperty("streaming.sql.batchId") if ctx else None) or "x"
        os.makedirs(self.staging, exist_ok=True)
        fname = f"b{bid}-task-{part:05d}-{uuid.uuid4().hex[:8]}.pb"
        n, total = 0, 0
        with open(os.path.join(self.staging, fname), "wb") as fh:
            for row in iterator:
                msg = _encode_chunk_row(row)
                fh.write(_pb_varint(len(msg)))
                fh.write(msg)
                n += 1
                total += len(msg)
        return _ChunkCommit(filename=fname, n_records=n, n_bytes=total)

    def commit(self, messages, batchId: int) -> None:
        bdir = os.path.join(self.path, f"bid={batchId}")
        if os.path.isdir(bdir):  # retried batch: replace, never append
            shutil.rmtree(bdir)
        os.makedirs(bdir)
        manifest = []
        for i, m in enumerate(messages):
            if m is None:
                continue
            dst = f"part-{i:05d}.pb"
            os.replace(
                os.path.join(self.staging, m.filename),
                os.path.join(bdir, dst),
            )
            manifest.append(
                {"file": dst, "n_records": m.n_records, "n_bytes": m.n_bytes}
            )
        with open(os.path.join(bdir, "_MANIFEST"), "w") as fh:
            json.dump({"batch": batchId, "files": manifest}, fh, sort_keys=True)
        # sweep leftovers from failed/speculative attempts of THIS batch's
        # tasks only (filenames are batch-prefixed at write time): anything
        # still staged under this batch's prefix was superseded by a
        # committed attempt, so the staging dir never grows unboundedly —
        # while files of OTHER batches/writers sharing the dir are untouched.
        # "bx-" files (written when the runtime exposed no batch-id local
        # property) are swept only past an AGE threshold: when NO writer
        # sees a batch id, two concurrent writers sharing the path both
        # stage under "bx-", and an unconditional sweep here would delete
        # the other writer's in-flight task files, failing ITS commit's
        # os.replace. Age-gating keeps the no-accretion guarantee (true
        # orphans are old) without ever matching a live writer's files.
        now = time.time()
        try:
            for leftover in os.listdir(self.staging):
                full = os.path.join(self.staging, leftover)
                if leftover.startswith(f"b{batchId}-"):
                    os.unlink(full)
                elif leftover.startswith("bx-"):
                    try:
                        if now - os.path.getmtime(full) > _BX_SWEEP_AGE_SEC:
                            os.unlink(full)
                    except OSError:
                        pass
        except OSError:
            pass

    def abort(self, messages, batchId: int) -> None:
        # delete ONLY this batch's staged task files (the filenames its
        # commit messages carry) — the staging dir is SHARED, so an
        # rmtree could destroy a concurrent writer's staged work
        for m in messages or []:
            if m is not None:
                try:
                    os.unlink(os.path.join(self.staging, m.filename))
                except OSError:
                    pass


class _ChunksStreamArrowWriter(_ChunksStreamWriter, DataSourceStreamArrowWriter):
    """Arrow-batched variant of the streaming chunk writer — the
    registered stream path since r9. Identical staging/commit/abort
    protocol (inherited); only write() differs: tasks receive pyarrow
    RecordBatches instead of pyspark Rows, and each batch encodes via
    the vectorized `_encode_chunk_record_batch` (byte-identical framing,
    float payload sliced straight from the Arrow child buffer). At 100x
    event volume the per-row Python path — Row materialization plus a
    per-float struct.pack — was the sink's measured throughput ceiling
    (SCALE.md: t13 ~linear at 147 s)."""

    def write(self, iterator) -> _ChunkCommit:
        from pyspark import TaskContext

        ctx = TaskContext.get()
        part = ctx.partitionId() if ctx is not None else 0
        bid = (ctx.getLocalProperty("streaming.sql.batchId") if ctx else None) or "x"
        os.makedirs(self.staging, exist_ok=True)
        fname = f"b{bid}-task-{part:05d}-{uuid.uuid4().hex[:8]}.pb"
        n, total = 0, 0
        with open(os.path.join(self.staging, fname), "wb") as fh:
            for batch in iterator:
                data, nrec, msg_bytes = _encode_chunk_record_batch(batch)
                fh.write(data)
                n += nrec
                total += msg_bytes
        return _ChunkCommit(filename=fname, n_records=n, n_bytes=total)


class ChunksDataSource(DataSource):
    """`loris_chunks`: the FloatChunk protobuf sink as a write format —
    batch (two-phase staging commit + _SUCCESS manifest) AND streaming
    (batch-id-keyed directories, retry-idempotent)."""

    @classmethod
    def name(cls) -> str:
        return CHUNKS_FORMAT

    def schema(self) -> str:
        return CHUNK_WRITE_SCHEMA

    def writer(self, schema, overwrite: bool) -> DataSourceWriter:
        # Arrow-batched since r9 (see _ChunksArrowWriter); the Row
        # writer remains the protocol reference.
        return _ChunksArrowWriter(dict(self.options), overwrite)

    def streamWriter(self, schema, overwrite: bool) -> DataSourceStreamWriter:
        # Arrow-batched since r9 (see _ChunksStreamArrowWriter); the Row
        # writer remains the protocol reference and the null-list
        # fallback's byte-parity twin.
        return _ChunksStreamArrowWriter(dict(self.options))


def decode_chunk_stream(data: bytes) -> list[dict]:
    """Pure-python reader for the varint-delimited FloatChunk stream —
    the test/verification twin of the writer."""
    out, pos = [], 0

    def varint(p: int) -> tuple[int, int]:
        shift = val = 0
        while True:
            b = data[p]
            val |= (b & 0x7F) << shift
            p += 1
            if not b & 0x80:
                return val, p
            shift += 7

    while pos < len(data):
        size, pos = varint(pos)
        end = pos + size
        msg = {"index": 0, "downsampling": 0, "cutoff": 0, "samples": []}
        while pos < end:
            tag, pos = varint(pos)
            if tag == 0x08:
                msg["index"], pos = varint(pos)
            elif tag == 0x10:
                msg["downsampling"], pos = varint(pos)
            elif tag == 0x18:
                msg["cutoff"], pos = varint(pos)
            elif tag == 0x22:
                ln, pos = varint(pos)
                msg["samples"] = list(
                    _struct.unpack(f"<{ln // 4}f", data[pos : pos + ln])
                )
                pos += ln
            else:  # unknown field: stop parsing this message defensively
                pos = end
        out.append(msg)
    return out


def _chunk_stream_totals(content: bytes) -> Iterator[dict]:
    recs = decode_chunk_stream(content)
    yield {
        "n_chunks": len(recs),
        "sum_index": sum(r["index"] for r in recs),
        "n_floats": sum(len(r["samples"]) for r in recs),
    }


def read_chunk_totals(spark, paths):
    """Read-back audit of landed FloatChunk stream files: every file is
    decoded on the EXECUTORS (binaryFile scan + decode_chunk_stream
    through ``files.map_rows``, never a driver loop over blobs), and the
    one returned Row sums their n_chunks, sum_index and n_floats."""
    return (
        map_rows(
            spark.read.format("binaryFile").load(paths).select("content"),
            _chunk_stream_totals,
            "n_chunks long, sum_index long, n_floats long",
        )
        .agg(
            F.sum("n_chunks").alias("n_chunks"),
            F.sum("sum_index").alias("sum_index"),
            F.sum("n_floats").alias("n_floats"),
        )
        .first()
    )


def register_chunks(spark) -> None:
    spark.dataSource.register(ChunksDataSource)
