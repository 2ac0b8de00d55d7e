"""Sink + external-operator workload (SURVEY §2.1 S10-S17, §2.10 X3),
over the fixtures and the star-schema tables.

Write-path queries write under ``<repo>/.scratch`` (gitignored) into a
fresh per-run directory, then read the sink back and return it — the
declared query checks the full write+read round trip against the oracle.
"""

from __future__ import annotations

import hashlib
import io
import os
import tarfile
import tempfile
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from loris_mri_spark.catalog import load_table
from loris_mri_spark.operators.external import run_external
from loris_mri_spark.sinks import (
    append_with_ids,
    encode_float_chunk,
    overwrite_partitions,
    png_preview_udf,
    to_s3_url,
)
from loris_mri_spark.sources.archive import read_tar_members
from loris_mri_spark.workload import query

_REPO = Path(__file__).resolve().parents[2]
FIXTURES = str(_REPO / "tests" / "fixtures")
SCRATCH = str(_REPO / ".scratch")


def _run_dir(tag: str) -> str:
    """Fresh sink dir per run; prior runs of the same tag are pruned so
    repeated invocations (tests, driver rounds, bench) don't accumulate."""
    import shutil

    os.makedirs(SCRATCH, exist_ok=True)
    for old in os.listdir(SCRATCH):
        if old.startswith(f"{tag}-"):
            shutil.rmtree(os.path.join(SCRATCH, old), ignore_errors=True)
    return tempfile.mkdtemp(prefix=f"{tag}-", dir=SCRATCH)


@query(
    "s10_append_with_ids",
    oracle="""
    SELECT CAST(('0x' || substr(md5(source || '/' || CAST(doc_id AS VARCHAR)),
                 1, 15)) AS BIGINT) AS id,
           doc_id, source
    FROM documents
    """,
)
def s10_append_with_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10/S11: bulk append with deterministic content-hash ids — the
    row-at-a-time autoincrement insert (`lib/database.py:146-186`) as one
    write job; the query round-trips through the parquet sink."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    path = _run_dir("s10")
    append_with_ids(
        d,
        path,
        id_col="id",
        natural_key=F.concat_ws("/", F.col("source"), F.col("doc_id").cast("string")),
    )
    return spark.read.parquet(path).select("id", "doc_id", "source")


@query(
    "s12_partition_overwrite",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(CASE WHEN event_type = 'click' THEN value * 2
                              ELSE value END AS DECIMAL(14,4))) AS DOUBLE)
             AS total_value
    FROM events
    GROUP BY event_type
    """,
)
def s12_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S12: UPDATE-as-partition-overwrite — write the table partitioned on
    the mutation key, then dynamically overwrite ONE partition with
    updated rows (`lib/database.py:188-208`; update one upload's rows
    without rewriting the table)."""
    e = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    path = _run_dir("s12")
    e.write.mode("overwrite").partitionBy("event_type").parquet(path)
    updated = e.filter(F.col("event_type") == "click").withColumn(
        "value", F.col("value") * 2
    )
    overwrite_partitions(updated, path, ["event_type"])
    return (
        spark.read.parquet(path)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(14,4)"))
            .cast("double")
            .alias("total_value"),
        )
    )


@query(
    "s13_s3_url_rewrite",
    oracle="""
    SELECT * FROM (VALUES
      ('s3://loris-bucket/nifti/sub-01_T1w.nii'),
      ('s3://loris-bucket/nifti/sub-01_task-rest_bold.nii'),
      ('s3://loris-bucket/nifti/sub-02_T1w.nii.gz'))
      AS t(s3_url)
    """,
)
def s13_s3_url_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S13: local-path -> s3:// URL rewrite (`aws_s3.py:93-257`); actual
    S3 IO is the s3a:// scheme on a connector-equipped cluster."""
    files = (
        spark.read.format("binaryFile")
        .load(f"{FIXTURES}/nifti")
        .select("path")
    )
    return files.select(to_s3_url(F.col("path"), "loris-bucket").alias("s3_url"))


@query(
    "s14_chunk_encode",
    oracle="""
    SELECT vec_id, CAST(c AS BIGINT) AS chunk_idx,
           -- proto3 FloatChunk wire length: index (omitted when 0) +
           -- downsampling=1 (2 B) + cutoff=16 (2 B) +
           -- packed samples (tag + varint(64) + 16*4 B)
           CAST(CASE WHEN c > 0 THEN 2 ELSE 0 END + 2 + 2 + 66 AS BIGINT)
             AS payload_len
    FROM embeddings, unnest(range(0, 4)) t(c)
    """,
)
def s14_chunk_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S14: FloatChunk protobuf sink (`chunking.py:134-157`): chunk the
    embedding signals, serialize each chunk with the wire-compatible
    proto3 encoder (sinks.pb_encode_float_chunk). The oracle pins the
    exact wire length (varints + proto3 zero-field omission); byte-level
    fidelity is pinned by the golden serialization test in
    tests/test_sinkops.py."""
    e = load_table(spark, sf_dir, "embeddings")
    chunks = e.select(
        "vec_id",
        F.posexplode(
            F.expr(
                "transform(sequence(0, 3), c -> slice(embedding, c * 16 + 1, 16))"
            )
        ).alias("chunk_idx", "samples"),
    )
    enc = chunks.select(
        "vec_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        encode_float_chunk(
            F.col("chunk_idx"), F.lit(1), F.col("samples")
        ).alias("payload"),
    )
    return enc.select(
        "vec_id",
        "chunk_idx",
        F.length("payload").cast("long").alias("payload_len"),
    )


@query(
    "s14b_chunks_batch_write",
    oracle="""
    SELECT COUNT(*) AS n_chunks,
           CAST(SUM(vec_id * 4 + c) AS BIGINT) AS sum_index,
           CAST(COUNT(*) * 16 AS BIGINT) AS n_floats,
           COUNT(*) AS n_manifest_records
    FROM embeddings, unnest(range(0, 4)) t(c)
    """,
)
def s14b_chunks_batch_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S14 BATCH WRITE through the registered ``loris_chunks`` Python
    Data Source — the connector quadrant a corpus pipeline actually
    writes through (t13 covers the stream quadrant; s14_chunk_encode
    covers the expression-level encoder). Embedding signals chunk into
    16-float FloatChunks and land via ``df.write.format("loris_chunks")``
    — the Arrow-batched `_ChunksArrowWriter` (sources/pyds.py): staged
    part files, two-phase commit, `_SUCCESS` manifest. Verification is
    the t13 recipe: decode every landed protobuf back on the EXECUTORS
    (binaryFile scan + per-file pure-python reader, never a driver loop
    over blobs — at 100 TB the audit pass is itself a job) and
    cross-check the totals against BOTH the source table (the oracle)
    and the commit manifest (n_manifest_records). Mirrors the reference
    chunk writer's bulk path (`chunking.py:134-157`)."""
    import json

    from loris_mri_spark.sources.pyds import (
        read_chunk_totals,
        register_chunks,
    )

    register_chunks(spark)
    e = load_table(spark, sf_dir, "embeddings")
    chunks = (
        e.select(
            "vec_id",
            F.posexplode(
                F.expr(
                    "transform(sequence(0, 3),"
                    " c -> slice(embedding, c * 16 + 1, 16))"
                )
            ).alias("c", "samples"),
        )
        .select(
            (F.col("vec_id") * 4 + F.col("c")).cast("long").alias("index"),
            F.lit(1).cast("long").alias("downsampling"),
            F.size("samples").cast("long").alias("cutoff"),
            F.col("samples"),
        )
        # fixed fan-in: one staged part file per partition, so the
        # manifest shape is deterministic across runs
        .repartition(8)
    )
    sink = _run_dir("s14b-chunks")
    chunks.write.format("loris_chunks").mode("overwrite").save(sink)

    landed = read_chunk_totals(spark, os.path.join(sink, "*.pb"))
    with open(os.path.join(sink, "_SUCCESS")) as fh:
        manifest = json.load(fh)
    n_manifest = sum(f["n_records"] for f in manifest["files"])
    return spark.createDataFrame(
        [
            (
                landed["n_chunks"],
                landed["sum_index"],
                landed["n_floats"],
                n_manifest,
            )
        ],
        "n_chunks long, sum_index long, n_floats long,"
        " n_manifest_records long",
    )


@query(
    "s15_png_preview",
    oracle="""
    SELECT doc_id,
           -- 8x8 gray, stored-deflate IDAT: 8 sig + 25 IHDR + (12 + 2
           -- zlib hdr + 5 stored hdr + 72 filtered raw + 4 adler) IDAT
           -- + 12 IEND
           CAST(140 AS BIGINT) AS png_len,
           -- pixel (0,0) = first document byte, read back out of the PNG
           -- at its spec-fixed offset (byte 50, 1-based)
           ascii(substr(text, 1, 1)) AS px_00
    FROM documents WHERE doc_id % 10 = 0
    """,
)
def s15_png_preview(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S15: preview-pic sink (`imaging.py:1176-1219`): deterministic 8x8
    grayscale thumbnail of each document's bytes encoded as a REAL PNG
    (stdlib encoder, stored-deflate IDAT). The oracle pins the exact
    byte length AND pixel (0,0) re-read from inside the emitted PNG at
    its spec-fixed offset; tests/test_sinkops.py walks chunk CRCs and
    inflates the IDAT."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    png = d.select(
        "doc_id",
        png_preview_udf(F.encode("text", "utf-8")).alias("png"),
    )
    return png.select(
        "doc_id",
        F.length("png").cast("long").alias("png_len"),
        F.conv(F.hex(F.substring("png", 50, 1)), 16, 10)
        .cast("int")
        .alias("px_00"),
    )


_S17_INTENDED = "func/sub-01_task-rest_bold.nii.gz"


@query(
    "s17_json_rewrite",
    oracle=f"""
    WITH docs AS (
      SELECT regexp_extract(filename, '(sub-[0-9A-Za-z]+)', 1) AS subject,
             json_merge_patch(content,
               '{{"IntendedFor": "{_S17_INTENDED}"}}') AS doc
      FROM read_text('{FIXTURES}/bids/sub-*_task-rest_bold.json')),
    canon AS (
      SELECT subject,
             array_to_string(list_sort(list_transform(json_keys(doc),
               k -> k || '=' || json_extract_string(doc, '$.' || k))), '|')
               AS canonical
      FROM docs)
    SELECT subject, canonical, md5(canonical) AS rewrite_hash
    FROM canon
    """,
)
def s17_json_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S17: JSON document rewrite + rehash (`imaging.py:1064-1110`: set
    IntendedFor in the sidecar, rewrite, re-blake2b). Canonical form =
    sorted key=value entries, so the hash is key-order independent on
    both engines."""
    raw = (
        spark.read.format("text")
        .option("wholetext", "true")
        .load(f"{FIXTURES}/bids/sub-*_task-rest_bold.json")
        .withColumn("__file", F.col("_metadata.file_path"))
    )
    m = F.map_concat(
        F.from_json("value", "map<string,string>"),
        F.create_map(F.lit("IntendedFor"), F.lit(_S17_INTENDED)),
    )
    canon = F.concat_ws(
        "|",
        F.array_sort(
            F.transform(
                F.map_entries(m), lambda e: F.concat(e["key"], F.lit("="), e["value"])
            )
        ),
    )
    return raw.select(
        F.regexp_extract("__file", r"(sub-[0-9A-Za-z]+)", 1).alias("subject"),
        canon.alias("canonical"),
        F.md5(canon).alias("rewrite_hash"),
    )


def _tar_member_md5_values() -> str:
    rows = []
    with tarfile.open(f"{FIXTURES}/archive/study.tar.gz", "r:*") as tar:
        for m in sorted(tar.getmembers(), key=lambda m: m.name):
            if m.isfile():
                data = tar.extractfile(m).read()
                rows.append(f"('{m.name}', '{hashlib.md5(data).hexdigest()}')")
    return "SELECT * FROM (VALUES " + ", ".join(rows) + ") AS t(member, content_md5)"


@query("s16_external_md5sum", oracle=_tar_member_md5_values())
def s16_external_md5sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S16/X3: external-binary operator — archive members fan out to
    `md5sum` subprocesses with task-local temp files; stdout maps back
    onto the rows (`dicom_archive_loader_pipeline.py:146-180` pattern with
    a universally-present stand-in binary). Golden oracle: the committed
    fixture archive's member hashes."""
    members = read_tar_members(spark, f"{FIXTURES}/archive/study.tar.gz")
    out = run_external(
        members,
        ["md5sum", "{input}"],
        content_col="content",
        passthrough_cols=["member"],
    )
    return out.filter(F.col("exit_code") == 0).select(
        "member",
        F.split(F.col("stdout"), " ").getItem(0).alias("content_md5"),
    )


_S12B_ORACLE = """
    WITH v0 AS (SELECT o_orderstatus AS status, COUNT(*) AS n
                FROM orders GROUP BY 1),
    v1 AS (SELECT CASE WHEN o_orderkey % 10 = 0 THEN 'F'
                       ELSE o_orderstatus END AS status, COUNT(*) AS n
           FROM orders GROUP BY 1)
    SELECT COALESCE(v0.status, v1.status) AS status,
           COALESCE(v0.n, 0) AS n_v0,
           COALESCE(v1.n, 0) AS n_latest,
           COALESCE(v1.n, 0) - COALESCE(v0.n, 0) AS delta
    FROM v0 FULL OUTER JOIN v1 ON v0.status = v1.status
"""


@query("s12b_versioned_time_travel", oracle=_S12B_ORACLE)
def s12b_versioned_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S12 extension: versioned snapshots with TIME TRAVEL
    (catalog.write_versioned / load_versioned): every write is a new
    immutable v=<n> directory behind an atomically-flipped _LATEST
    pointer. The query lands v0 (status rollup) and v1 (the same rollup
    after a deterministic status 'update'), then audits the change by
    joining the PINNED v0 against the pointer read — the reproducible
    before/after comparison the reference does with backup tables during
    delete-upload investigations."""
    from loris_mri_spark.catalog import (
        load_table,
        load_versioned,
        write_versioned,
    )
    from loris_mri_spark.streaming.incremental import scratch_dir

    o = load_table(spark, sf_dir, "orders")
    v0 = o.groupBy(F.col("o_orderstatus").alias("status")).count()
    v1 = o.withColumn(
        "status",
        F.when(F.col("o_orderkey") % 10 == 0, "F").otherwise(
            F.col("o_orderstatus")
        ),
    ).groupBy("status").count()

    path = scratch_dir("s12b-versions")
    assert write_versioned(v0, path) == 0
    assert write_versioned(v1, path) == 1

    pinned = load_versioned(spark, path, 0).withColumnRenamed("count", "n_v0")
    latest = load_versioned(spark, path).withColumnRenamed("count", "n_latest")
    return (
        pinned.join(latest, "status", "full_outer")
        .select(
            "status",
            F.coalesce("n_v0", F.lit(0)).alias("n_v0"),
            F.coalesce("n_latest", F.lit(0)).alias("n_latest"),
            (
                F.coalesce("n_latest", F.lit(0))
                - F.coalesce("n_v0", F.lit(0))
            ).alias("delta"),
        )
    )


@query(
    "s9b_schema_evolution",
    oracle="""
    WITH v1 AS (SELECT o_orderkey, o_custkey, CAST(NULL AS VARCHAR)
                         AS o_orderpriority
                FROM orders WHERE o_orderkey % 2 = 0),
    v2 AS (SELECT o_orderkey, o_custkey, o_orderpriority
           FROM orders WHERE o_orderkey % 2 = 1),
    unified AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
    SELECT COALESCE(o_orderpriority, '<pre-evolution>') AS priority,
           COUNT(*) AS n,
           COUNT(o_orderpriority) AS n_with_priority
    FROM unified GROUP BY 1
    """,
)
def s9b_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCHEMA EVOLUTION on the table store: generation 1 of a dataset is
    written WITHOUT a column, generation 2 adds it; a single
    `mergeSchema` read unifies both generations, null-filling the
    pre-evolution rows — the drift every long-lived 100 TB table
    accumulates (the reference's ALTER-TABLE migrations,
    `SQL/Archive_Tables.sql` history, handled here at the file layer
    with zero rewrites of old data). The oracle replays the two
    generations relationally."""
    from loris_mri_spark.streaming.incremental import scratch_dir

    o = load_table(spark, sf_dir, "orders")
    store = scratch_dir("s9b-store")
    o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_custkey"
    ).write.mode("overwrite").parquet(f"{store}/gen=1")
    o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    ).write.mode("overwrite").parquet(f"{store}/gen=2")
    unified = spark.read.option("mergeSchema", "true").parquet(
        f"{store}/gen=1", f"{store}/gen=2"
    )
    return unified.groupBy(
        F.coalesce("o_orderpriority", F.lit("<pre-evolution>")).alias(
            "priority"
        )
    ).agg(
        F.count("*").alias("n"),
        F.count("o_orderpriority").alias("n_with_priority"),
    )


_COMPACT_D = 86_400_000_000 * 8  # 8-day "era" per staged file


@query(
    "s9c_compaction_plan",
    oracle=f"""
    WITH e AS (SELECT (epoch_us(ts) - (SELECT MIN(epoch_us(ts))
                                       FROM events)) // {_COMPACT_D}
                 AS era
               FROM events),
    files AS (SELECT era, COUNT(*) AS n_rows FROM e GROUP BY era),
    planned AS (
      SELECT era, n_rows,
             (SUM(n_rows) OVER (ORDER BY era
                                ROWS UNBOUNDED PRECEDING) - n_rows)
               // 4000 AS bin
      FROM files)
    SELECT CAST(bin AS BIGINT) AS bin, COUNT(*) AS n_files,
           CAST(SUM(n_rows) AS BIGINT) AS total_rows,
           CAST(MIN(era) AS BIGINT) AS first_era,
           CAST(MAX(era) AS BIGINT) AS last_era
    FROM planned GROUP BY bin
    """,
)
def s9c_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SMALL-FILE COMPACTION planning — the table-maintenance pass a
    100 TB store runs nightly: list the data files (here a staged
    4-file landing, one file per 8-day era), derive rows per file from
    the real file listing (`input_file_name` over the scan — no
    catalog trust), then assign files to target-size output bins by
    FIRST-FIT over the running row total (bin = floor(cum_before /
    target)) — deterministic, order-preserving (a bin holds adjacent
    eras, so compaction preserves time locality), and computable as one
    window over the file-metadata table, which is what makes it
    planner-cheap at millions of files. The oracle replays the era
    split and the packing relationally."""
    from pyspark.sql.window import Window

    from loris_mri_spark.streaming.incremental import scratch_dir

    ev = load_table(spark, sf_dir, "events").select(
        F.expr("ts_ns div 1000").alias("ts_us")
    )
    lo = ev.agg(F.min("ts_us")).first()[0]
    store = scratch_dir("s9c-store")
    eras = ev.select(
        ((F.col("ts_us") - lo) / _COMPACT_D).cast("long").alias("era")
    )
    n_eras = eras.agg(F.max("era")).first()[0] + 1
    for q in range(n_eras):
        eras.filter(F.col("era") == q).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{store}/era-{q:03d}")
    files = (
        spark.read.parquet(*[f"{store}/era-{q:03d}" for q in range(n_eras)])
        .select(F.input_file_name().alias("path"), "era")
        .groupBy("path")
        .agg(F.count("*").alias("n_rows"), F.min("era").alias("era"))
    )
    w = Window.orderBy("era").rowsBetween(Window.unboundedPreceding, 0)
    planned = files.withColumn(
        "bin",
        ((F.sum("n_rows").over(w) - F.col("n_rows")) / 4000).cast("long"),
    )
    return planned.groupBy("bin").agg(
        F.count("*").alias("n_files"),
        F.sum("n_rows").cast("long").alias("total_rows"),
        F.min("era").cast("long").alias("first_era"),
        F.max("era").cast("long").alias("last_era"),
    )


@query(
    "s12d_version_diff",
    oracle="""
    WITH v1 AS (SELECT o_orderkey, o_orderstatus FROM orders),
    v2 AS (SELECT o_orderkey,
                  CASE WHEN o_orderstatus = 'P' THEN 'F'
                       ELSE o_orderstatus END AS o_orderstatus
           FROM orders WHERE o_orderkey % 97 <> 0),
    d AS (SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS k,
                 a.o_orderstatus AS s1, b.o_orderstatus AS s2,
                 CASE WHEN b.o_orderkey IS NULL THEN 'deleted'
                      WHEN a.o_orderkey IS NULL THEN 'inserted'
                      WHEN a.o_orderstatus <> b.o_orderstatus
                        THEN 'updated'
                      ELSE 'unchanged' END AS change
          FROM v1 a FULL OUTER JOIN v2 b
            ON a.o_orderkey = b.o_orderkey)
    SELECT change, COUNT(*) AS n,
           COUNT(DISTINCT s1) AS n_old_states,
           COUNT(DISTINCT s2) AS n_new_states
    FROM d GROUP BY change
    """,
)
def s12d_version_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SNAPSHOT DIFF — change-data-capture derived from two pinned
    versions of the S12b time-travel store, no change log required:
    version 1 is the orders image, version 2 completes every pending
    order and deletes each 97th row; the diff (one keyed full-outer
    join of two pinned reads) classifies every key as
    inserted/deleted/updated/unchanged. This is how a lakehouse
    backfills downstream consumers that missed the change stream: any
    two retained versions reproduce the delta exactly."""
    from loris_mri_spark.catalog import (
        load_versioned,
        write_versioned,
    )
    from loris_mri_spark.streaming.incremental import scratch_dir

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    store = scratch_dir("s12d-store")
    v1 = write_versioned(o, store)
    changed = o.filter(F.col("o_orderkey") % 97 != 0).select(
        "o_orderkey",
        F.when(F.col("o_orderstatus") == "P", "F")
        .otherwise(F.col("o_orderstatus"))
        .alias("o_orderstatus"),
    )
    v2 = write_versioned(changed, store)
    a = load_versioned(spark, store, v1).alias("a")
    b = load_versioned(spark, store, v2).alias("b")
    d = a.join(
        b, F.col("a.o_orderkey") == F.col("b.o_orderkey"), "full_outer"
    ).select(
        F.col("a.o_orderstatus").alias("s1"),
        F.col("b.o_orderstatus").alias("s2"),
        F.when(F.col("b.o_orderkey").isNull(), "deleted")
        .when(F.col("a.o_orderkey").isNull(), "inserted")
        .when(F.col("a.o_orderstatus") != F.col("b.o_orderstatus"), "updated")
        .otherwise("unchanged")
        .alias("change"),
    )
    return d.groupBy("change").agg(
        F.count("*").alias("n"),
        F.countDistinct("s1").alias("n_old_states"),
        F.countDistinct("s2").alias("n_new_states"),
    )
