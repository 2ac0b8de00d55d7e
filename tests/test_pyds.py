"""The Spark-4 Python Data Source (sources/pyds.py) must agree row-for-row
with the binaryFile scans, prune files at listing time under
filter pushdown, and do exactly-once incremental ingest as a stream."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from loris_mri_spark.sources import pyds
from loris_mri_spark.sources.dicom import scan_dicom_dir
from loris_mri_spark.sources.nifti import read_nifti_headers

FIXTURES = os.path.join(os.path.dirname(__file__), "fixtures")


def _rows_by_basename(df):
    cols = df.columns[1:]
    return sorted(
        (os.path.basename(r["path"]),) + tuple(r[c] for c in cols)
        for r in df.collect()
    )


@pytest.fixture()
def registered(spark):
    pyds.register(spark)
    return spark


def test_dicom_matches_mapinpandas_scan(registered):
    ds = (
        registered.read.format("loris_headers")
        .option("kind", "dicom")
        .load(f"{FIXTURES}/dicom")
    )
    legacy = scan_dicom_dir(registered, f"{FIXTURES}/dicom")
    assert ds.columns == legacy.columns
    assert _rows_by_basename(ds) == _rows_by_basename(legacy)


def test_nifti_matches_mapinpandas_scan(registered):
    ds = (
        registered.read.format("loris_headers")
        .option("kind", "nifti")
        .load(f"{FIXTURES}/nifti")
    )
    legacy = read_nifti_headers(registered, f"{FIXTURES}/nifti")
    assert ds.columns == legacy.columns
    assert _rows_by_basename(ds) == _rows_by_basename(legacy)


def test_vanilla_session_read_without_pushdown_option(registered):
    # No pushdown option, conf untouched: the plain reader must plan fine.
    n = (
        registered.read.format("loris_headers")
        .option("kind", "dicom")
        .load(f"{FIXTURES}/dicom")
        .count()
    )
    assert n == 7  # 6 DICOMs + README classified not-DICOM


def test_pushdown_prunes_files_at_listing(registered):
    registered.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    try:
        reader = pyds._HeadersPushdownReader(
            {"path": f"{FIXTURES}/dicom", "kind": "dicom"}
        )
        from pyspark.sql.datasource import StringEndsWith

        unsupported = list(reader.pushFilters([StringEndsWith(("path",), ".dcm")]))
        assert unsupported == []
        files = [p for part in reader.partitions() for p in part.paths]
        assert files and all(p.endswith(".dcm") for p in files)

        # end-to-end: the filtered read returns only DICOM rows
        df = (
            registered.read.format("loris_headers")
            .option("kind", "dicom")
            .option("pushdown", "true")
            .load(f"{FIXTURES}/dicom")
            .filter(F.col("path").endswith(".dcm"))
        )
        got = df.collect()
        assert len(got) == 6 and all(r["is_dicom"] for r in got)
    finally:
        registered.conf.set(
            "spark.sql.python.filterPushdown.enabled", "false"
        )


def test_unsupported_filters_are_returned(registered):
    from pyspark.sql.datasource import EqualTo, StringEndsWith

    reader = pyds._HeadersPushdownReader(
        {"path": f"{FIXTURES}/dicom", "kind": "dicom"}
    )
    keep = list(
        reader.pushFilters(
            [StringEndsWith(("path",), ".dcm"), EqualTo(("modality",), "MR")]
        )
    )
    # the non-path filter must stay in Spark's post-scan Filter
    assert keep == [EqualTo(("modality",), "MR")]


def test_stream_incremental_exactly_once(registered, tmp_path):
    land = tmp_path / "land"
    land.mkdir()
    outd = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    src = sorted(
        os.path.join(f"{FIXTURES}/dicom", f)
        for f in os.listdir(f"{FIXTURES}/dicom")
        if f.endswith(".dcm")
    )

    def run_batch():
        sdf = (
            registered.readStream.format("loris_headers")
            .option("kind", "dicom")
            .load(str(land))
        )
        q = (
            sdf.writeStream.format("parquet")
            .option("path", outd)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)

    shutil.copy(src[0], land)
    shutil.copy(src[1], land)
    run_batch()
    assert registered.read.parquet(outd).count() == 2

    shutil.copy(src[2], land)
    run_batch()  # only the new file lands — the first two are in the offset
    out = registered.read.parquet(outd)
    assert out.count() == 3
    assert out.select("path").distinct().count() == 3
    assert out.filter(F.col("is_dicom")).count() == 3


def test_chunks_writer_roundtrip_and_commit(registered, tmp_path):
    pyds.register_chunks(registered)
    rows = [(1, 2, 3, [1.0, 2.5]), (4, 0, 0, [0.5]), (7, 1, 2, [])]
    df = registered.createDataFrame(rows, pyds.CHUNK_WRITE_SCHEMA).repartition(2)
    out = str(tmp_path / "chunks")
    df.write.format("loris_chunks").mode("append").save(out)

    import json

    files = sorted(os.listdir(out))
    assert "_SUCCESS" in files
    manifest = json.load(open(os.path.join(out, "_SUCCESS")))
    assert sum(m["n_records"] for m in manifest["files"]) == 3
    assert not any(f.startswith("_staging") for f in files)

    got = []
    for f in files:
        if f.endswith(".pb"):
            data = open(os.path.join(out, f), "rb").read()
            got += pyds.decode_chunk_stream(data)
    assert sorted(
        (m["index"], m["downsampling"], m["cutoff"], tuple(m["samples"]))
        for m in got
    ) == sorted((a, b, c, tuple(s)) for a, b, c, s in rows)


def test_chunks_writer_message_bytes_match_s14_encoder(registered, tmp_path):
    from loris_mri_spark.sinks import pb_encode_float_chunk

    pyds.register_chunks(registered)
    df = registered.createDataFrame(
        [(9, 4, 2, [3.25, -1.5])], pyds.CHUNK_WRITE_SCHEMA
    ).coalesce(1)
    out = str(tmp_path / "one")
    df.write.format("loris_chunks").mode("append").save(out)
    (pb_file,) = [f for f in os.listdir(out) if f.endswith(".pb")]
    data = open(os.path.join(out, pb_file), "rb").read()
    expected = pb_encode_float_chunk(9, 4, 2, [3.25, -1.5])
    # varint length prefix + the exact S14 wire bytes
    assert data == bytes([len(expected)]) + expected


def test_chunks_writer_overwrite_replaces(registered, tmp_path):
    pyds.register_chunks(registered)
    out = str(tmp_path / "ow")
    mk = lambda rows: registered.createDataFrame(  # noqa: E731
        rows, pyds.CHUNK_WRITE_SCHEMA
    ).coalesce(1)
    mk([(1, 1, 1, [1.0])]).write.format("loris_chunks").mode("append").save(out)
    mk([(2, 2, 2, [2.0])]).write.format("loris_chunks").mode(
        "overwrite"
    ).save(out)
    got = []
    for f in os.listdir(out):
        if f.endswith(".pb"):
            got += pyds.decode_chunk_stream(
                open(os.path.join(out, f), "rb").read()
            )
    assert [m["index"] for m in got] == [2]


def test_stream_writer_commit_is_retry_idempotent(tmp_path):
    """A retried micro-batch must REPLACE its bid directory, never append
    beside its first attempt (the at-least-once contract the connector
    enforces internally)."""
    import json
    import os

    from loris_mri_spark.sources.pyds import (
        _ChunkCommit,
        _ChunksStreamWriter,
        decode_chunk_stream,
    )

    sink = str(tmp_path / "sink")
    os.makedirs(sink)
    w = _ChunksStreamWriter({"path": sink})

    def stage(payload: bytes, name: str) -> _ChunkCommit:
        os.makedirs(w.staging, exist_ok=True)
        with open(os.path.join(w.staging, name), "wb") as fh:
            fh.write(payload)
        return _ChunkCommit(filename=name, n_records=1, n_bytes=len(payload))

    # attempt 1 of batch 7
    m1 = stage(b"\x02\x08\x01", "task-a.pb")  # varint len + {index:1}
    w.commit([m1], 7)
    # retry of batch 7 (different task file contents)
    m2 = stage(b"\x02\x08\x02", "task-b.pb")
    w.commit([m2], 7)

    bdir = os.path.join(sink, "bid=7")
    pbs = [f for f in os.listdir(bdir) if f.endswith(".pb")]
    assert pbs == ["part-00000.pb"], pbs  # replaced, not appended
    with open(os.path.join(bdir, pbs[0]), "rb") as fh:
        recs = decode_chunk_stream(fh.read())
    assert [r["index"] for r in recs] == [2]  # the RETRY's content won
    manifest = json.load(open(os.path.join(bdir, "_MANIFEST")))
    assert manifest["batch"] == 7 and len(manifest["files"]) == 1


def test_stream_writer_commit_sweep_is_batch_scoped(tmp_path):
    """commit()'s leftover sweep must only remove THIS batch's staged
    files (batch-prefixed names) — the fixed staging dir is shared, and
    an unscoped sweep would delete a concurrent writer's staged-but-
    uncommitted task files, failing ITS commit's os.replace."""
    import os

    from loris_mri_spark.sources.pyds import _ChunkCommit, _ChunksStreamWriter

    sink = str(tmp_path / "sink")
    os.makedirs(sink)
    w = _ChunksStreamWriter({"path": sink})
    os.makedirs(w.staging, exist_ok=True)

    def stage(name: str) -> None:
        with open(os.path.join(w.staging, name), "wb") as fh:
            fh.write(b"\x02\x08\x01")

    stage("b7-task-00000-aaaa.pb")   # batch 7's winning attempt
    stage("b7-task-00000-bbbb.pb")   # batch 7 speculative leftover
    stage("b8-task-00000-cccc.pb")   # ANOTHER writer/batch's staged work
    w.commit(
        [_ChunkCommit(filename="b7-task-00000-aaaa.pb", n_records=1, n_bytes=3)],
        7,
    )
    left = sorted(os.listdir(w.staging))
    assert left == ["b8-task-00000-cccc.pb"], left  # b7 swept, b8 untouched


def test_arrow_batch_chunk_encoding_is_byte_identical(tmp_path):
    """The r9 Arrow stream writer's vectorized batch encoder must frame
    EXACTLY the bytes the per-row pb_encode_float_chunk path produces —
    including proto3 zero-field omission, empty sample arrays, and the
    null-list fallback (contract: null list == empty list)."""
    import pyarrow as pa

    from loris_mri_spark.sinks import _pb_varint, pb_encode_float_chunk
    from loris_mri_spark.sources.pyds import _encode_chunk_record_batch

    rows = [
        (9, 4, 2, [3.25, -1.5]),
        (0, 1, 2, []),           # zero index omitted; empty samples omitted
        (300, 0, 0, [0.0]),      # multi-byte varint; zero float kept
        (7, 0, 5, [1.0, 2.0, 3.14159, -0.5]),
    ]
    batch = pa.RecordBatch.from_pydict(
        {
            "index": pa.array([r[0] for r in rows], pa.int64()),
            "downsampling": pa.array([r[1] for r in rows], pa.int64()),
            "cutoff": pa.array([r[2] for r in rows], pa.int64()),
            "samples": pa.array(
                [r[3] for r in rows], pa.list_(pa.float32())
            ),
        }
    )
    expected = bytearray()
    exp_msg_total = 0
    for i, d, c, s in rows:
        msg = pb_encode_float_chunk(i, d, c, s)
        expected += _pb_varint(len(msg)) + msg
        exp_msg_total += len(msg)
    data, n, msg_total = _encode_chunk_record_batch(batch)
    assert data == bytes(expected)
    assert n == len(rows) and msg_total == exp_msg_total

    # null-list fallback path: null == empty, same bytes either way
    batch_null = pa.RecordBatch.from_pydict(
        {
            "index": pa.array([5, 6], pa.int64()),
            "downsampling": pa.array([1, 1], pa.int64()),
            "cutoff": pa.array([0, 0], pa.int64()),
            "samples": pa.array([None, [2.5]], pa.list_(pa.float32())),
        }
    )
    expected2 = bytearray()
    for i, d, c, s in [(5, 1, 0, []), (6, 1, 0, [2.5])]:
        msg = pb_encode_float_chunk(i, d, c, s)
        expected2 += _pb_varint(len(msg)) + msg
    data2, n2, _ = _encode_chunk_record_batch(batch_null)
    assert data2 == bytes(expected2) and n2 == 2


def test_stream_writer_bx_sweep_is_age_gated(tmp_path):
    """The r8 ADVICE fix: "bx-" files (staged when the runtime exposed no
    batch-id local property) are swept only past an age threshold — when
    NO writer sees a batch id, two concurrent writers sharing the path
    both stage under "bx-", and an unconditional sweep would delete the
    other writer's in-flight files, failing ITS commit's os.replace. A
    fresh bx- file (a live concurrent writer) must survive; a stale one
    (a true orphan) must be swept."""
    import os

    from loris_mri_spark.sources import pyds
    from loris_mri_spark.sources.pyds import _ChunkCommit, _ChunksStreamWriter

    sink = str(tmp_path / "sink")
    os.makedirs(sink)
    w = _ChunksStreamWriter({"path": sink})
    os.makedirs(w.staging, exist_ok=True)

    def stage(name: str) -> None:
        with open(os.path.join(w.staging, name), "wb") as fh:
            fh.write(b"\x02\x08\x01")

    stage("b7-task-00000-aaaa.pb")   # batch 7's winning attempt
    stage("bx-task-00000-live.pb")   # concurrent no-batch-id writer, fresh
    stage("bx-task-00000-old0.pb")   # true orphan from a dead session
    old = os.path.join(w.staging, "bx-task-00000-old0.pb")
    past = os.path.getmtime(old) - pyds._BX_SWEEP_AGE_SEC - 60
    os.utime(old, (past, past))
    w.commit(
        [_ChunkCommit(filename="b7-task-00000-aaaa.pb", n_records=1, n_bytes=3)],
        7,
    )
    left = sorted(os.listdir(w.staging))
    assert left == ["bx-task-00000-live.pb"], left  # orphan swept, live kept


def test_run_external_classifies_null_content(spark):
    """Oversized-archive-member inventory rows carry content=None
    (sources/archive.py caps extraction): the external-binary operator
    must classify them per-row, never raise TypeError in the task."""
    from pyspark.sql import functions as F

    from loris_mri_spark.operators.external import run_external

    df = spark.createDataFrame(
        [("small", bytearray(b"hello")), ("huge", None)],
        "member string, content binary",
    )
    out = run_external(
        df, ["md5sum", "{input}"], content_col="content",
        passthrough_cols=["member"],
    )
    rows = {r.member: r for r in out.collect()}
    assert rows["small"].exit_code == 0
    assert rows["huge"].exit_code == -2
    assert "oversized" in rows["huge"].stderr
    # downstream filter keeps only successful rows — the composed-scan shape
    assert [r.member for r in out.filter(F.col("exit_code") == 0).collect()] == ["small"]


def test_run_external_batched_matches_per_row_and_classifies(spark):
    """The batched S16 variant (one subprocess per chunk) must return the
    same per-row results as hashlib ground truth, classify NULL-content
    rows without exec, and survive a chunk split (batch_size < n rows)."""
    import hashlib

    from pyspark.sql import functions as F

    from loris_mri_spark.operators.external import run_external_batched

    payloads = [(f"m{i}", bytearray(f"data-{i}".encode())) for i in range(5)]
    rows_in = payloads + [("gone", None)]
    df = spark.createDataFrame(rows_in, "member string, content binary").coalesce(1)
    out = run_external_batched(
        df, ["md5sum", "{inputs}"], content_col="content",
        passthrough_cols=["member"], batch_size=2,
    )
    got = {r.member: r for r in out.collect()}
    assert len(got) == 6
    for name, data in payloads:
        r = got[name]
        assert r.exit_code == 0
        assert r.stdout.split()[0] == hashlib.md5(bytes(data)).hexdigest()
    assert got["gone"].exit_code == -2
    assert "unavailable" in got["gone"].stderr
    assert out.filter(F.col("exit_code") == 0).count() == 5


def test_mapinarrow_kernel_handles_ragged_rows(spark):
    """c8b's Arrow kernel must be correct for ragged list rows (the
    general contract), not just the fixed-width embeddings table."""
    from pyspark.sql import functions as F

    from loris_mri_spark.workload.vectors import (  # noqa: F401
        c8b_mapinarrow_vector_stats,
    )
    from loris_mri_spark import workload

    df = spark.createDataFrame(
        [(1, [1.0, -2.0, 2.0]), (2, [3.0]), (3, [0.0, 4.0])],
        "vec_id long, embedding array<float>",
    )

    def stats_via_kernel(e):
        # reuse the registered query's kernel through mapInArrow directly
        from loris_mri_spark.workload.vectors import _ragged_stats_kernel

        return e.mapInArrow(
            _ragged_stats_kernel,
            "vec_id long, n_dims long, n_pos long, l2_r double, mean_r double",
        )

    got = {
        r.vec_id: (r.n_dims, r.n_pos, r.l2_r, r.mean_r)
        for r in stats_via_kernel(df).collect()
    }
    assert got[1] == (3, 2, 3.0, round(1.0 / 3, 4))
    assert got[2] == (1, 1, 3.0, 3.0)
    assert got[3] == (2, 1, 4.0, 2.0)
