"""Streaming workload (SURVEY §2.9 T1-T4). Every query drains a real
Structured Streaming job with availableNow and returns its final state —
which must equal the batch answer, so each has a full DuckDB oracle."""

from __future__ import annotations

import atexit
import os
import threading
from concurrent.futures import ThreadPoolExecutor
from fractions import Fraction

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from loris_mri_spark.streaming.incremental import (
    run_foreach_batch_append,
    run_to_memory,
    scratch_dir,
    stream_events,
)
from loris_mri_spark.workload import query


@query(
    "t1_incremental_ingest",
    oracle="""
    SELECT event_type, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(14,4))) AS DOUBLE) AS total_value
    FROM events GROUP BY event_type
    """,
)
def t1_incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1: checkpointed file-source ingest (the `incoming/` cron sweep,
    `imaging_upload_file_cronjob.pl`) — streaming aggregation over the
    discovered files; availableNow drains to the exact batch totals."""
    sdf = stream_events(spark, sf_dir)
    agg = sdf.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(14,4)"))
        .cast("double")
        .alias("total_value"),
    )
    return run_to_memory(agg, "complete", "t1")


@query(
    "t2_upload_state_machine",
    oracle="""
    SELECT user_id,
           MAX_BY(event_type, epoch_us(ts) * 100 + event_id % 100) AS last_state,
           COUNT(*) AS n_transitions,
           CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) > 0
                AS BOOLEAN) AS insertion_complete
    FROM events
    GROUP BY user_id
    """,
)
def t2_upload_state_machine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2: upload state machine (`mri_upload.py:24-34`,
    `base_pipeline.py:82-90`): per upload (user), the streaming agg keeps
    the LAST observed state (argmax by event time, event_id tie-break),
    transition count, and a completion flag."""
    sdf = stream_events(spark, sf_dir)
    agg = sdf.groupBy("user_id").agg(
        F.max_by(
            "event_type",
            F.expr("ts_ns div 1000") * 100 + F.col("event_id") % 100,
        ).alias("last_state"),
        F.count("*").alias("n_transitions"),
        (F.count(F.when(F.col("event_type") == "purchase", 1)) > 0).alias(
            "insertion_complete"
        ),
    )
    return run_to_memory(agg, "complete", "t2")


@query(
    "t3_stream_dedup_watermark",
    oracle="""
    SELECT event_id, user_id, event_type FROM events
    """,
)
def t3_stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3: duplicate suppression within a watermark (re-upload dedup,
    `database_lib/files.py:40-101`): the stream unioned with itself (every
    row a duplicate) drops to exactly-once via watermark + dropDuplicates
    on the upload key."""
    sdf = stream_events(spark, sf_dir)
    doubled = sdf.unionByName(sdf)
    deduped = (
        doubled.withWatermark("ts", "30 days")
        .dropDuplicates(["event_id"])
        .select("event_id", "user_id", "event_type")
    )
    return run_to_memory(deduped, "append", "t3")


@query(
    "t3c_stream_dedup_disk_sink",
    oracle="""
    SELECT event_id, user_id, event_type FROM events
    """,
)
def t3c_stream_dedup_disk_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3 PRODUCTION SHAPE: the identical watermark + dropDuplicates
    plan as t3_stream_dedup_watermark, landing via foreachBatch parquet
    (the t4 idempotent ``bid=<batch_id>`` spool) instead of a memory
    sink. The memory-sink t3 stays as the gate vehicle, but it holds the
    ENTIRE dedup output in the driver JVM — at the 100x scale sweep that
    OOMs the local harness (SCALE.md Finding 6) while this shape holds
    exponent 0.45, because a real deployment streams dedup output to a
    distributed sink and only the watermark-bounded state store stays
    resident. This is the query a 100-TB deployment would actually run;
    the driver now checks it end-to-end (stream -> state store ->
    idempotent disk spool -> batch read-back)."""
    sdf = stream_events(spark, sf_dir, tag="t3c-incoming")
    doubled = sdf.unionByName(sdf)
    deduped = (
        doubled.withWatermark("ts", "30 days")
        .dropDuplicates(["event_id"])
        .select("event_id", "user_id", "event_type")
    )
    sink = scratch_dir("t3c-sink")
    run_foreach_batch_append(deduped, sink, "t3c")
    return spark.read.parquet(sink).drop("bid")


@query(
    "t4_notification_append_log",
    oracle="""
    SELECT event_id, user_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS error_code
    FROM events WHERE event_type = 'error'
    """,
)
def t4_notification_append_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4: append-only notification spool (`NeuroDB/Notify.pm`): error
    events stream into an append-only parquet log via foreachBatch; the
    query returns the spool's content."""
    sdf = stream_events(spark, sf_dir)
    errors = sdf.filter(F.col("event_type") == "error").select(
        "event_id",
        "user_id",
        F.get_json_object("props", "$.k").cast("long").alias("error_code"),
    )
    sink = scratch_dir("t4-spool")
    run_foreach_batch_append(errors, sink, "t4")
    return spark.read.parquet(sink).drop("bid")


@query(
    "t6_stateful_running_index",
    oracle="""
    SELECT event_id, user_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS BIGINT) AS seq
    FROM events
    """,
)
def t6_stateful_running_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-user running
    event index carried in group state across micro-batches — drained
    with availableNow it must equal the batch ROW_NUMBER."""
    from loris_mri_spark.streaming.incremental import stateful_running_index

    sdf = stream_events(spark, sf_dir)
    # order by µs (not ns): the oracle's ts is DuckDB's µs-truncated
    # timestamp, so tie-breaks must resolve at the same precision.
    out = stateful_running_index(
        sdf.select(
            "event_id", "user_id", F.expr("ts_ns div 1000").alias("ts_us")
        ),
        key_col="user_id",
        order_cols=["ts_us", "event_id"],
        id_col="event_id",
    )
    return run_to_memory(out, "append", "t6")


@query(
    "t7_stream_stream_join",
    oracle="""
    SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id,
           CAST(epoch_us(p.ts) - epoch_us(c.ts) AS BIGINT) AS gap_us
    FROM events p JOIN events c
      ON p.user_id = c.user_id
     AND p.event_type = 'purchase' AND c.event_type = 'click'
     AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 10 MINUTE
    """,
)
def t7_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7: watermarked STREAM-STREAM interval join — each purchase joined
    to the user's clicks in the preceding 10 minutes (the attribution
    shape of j8's as-of join, as a live two-stream pipeline). Watermarks
    bound the join state buffer (the 100 TB requirement: state is
    O(watermark window), not O(stream)); the availableNow drain delivers
    everything in-watermark, so the result equals the batch interval
    join. (State-store partition sizing: see
    ``incremental.STREAM_SHUFFLE_PARTITIONS`` — a stream-stream join keeps
    TWO keyed stores per shuffle partition, so it is the most sensitive
    query to an oversized partition count.)"""
    purchases = (
        stream_events(spark, sf_dir, tag="t7-purchases")
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    clicks = (
        stream_events(spark, sf_dir, tag="t7-clicks")
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    joined = purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 10 MINUTES")),
    ).select(
        "purchase_id",
        "click_id",
        "user_id",
        (
            F.unix_micros("p_ts") - F.unix_micros("c_ts")
        ).alias("gap_us"),
    )
    return run_to_memory(joined, "append", "t7")


@query(
    "t8_incremental_store_dedup",
    oracle="""
    WITH drops AS (
      SELECT doc_id,
             md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
      FROM documents
      UNION ALL
      SELECT doc_id + 1000000,
             md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
      FROM documents)
    SELECT MIN(doc_id) AS doc_id, fp AS fingerprint
    FROM drops GROUP BY fp
    """,
)
def t8_incremental_store_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T-extension: exact dedup against a PERSISTENT fingerprint store
    across ingest runs (`database_lib/files.py:40-101` across runs, not
    just within a watermark — T3's complement). The corpus is staged as
    two id-ordered drops; each micro-batch anti-joins the store-so-far
    and appends survivors + fingerprints (batch-id-keyed, retry-safe).
    The accepted log must equal the batch answer: first arrival (= min
    doc_id under id-ordered staging) per fingerprint."""
    from loris_mri_spark.catalog import load_table
    from loris_mri_spark.functions.texthash import norm_text
    from loris_mri_spark.streaming.incremental import (
        run_incremental_store_dedup,
        scratch_dir,
    )

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.md5(norm_text("text")).alias("fingerprint")
    )
    staged = scratch_dir("t8-staged")
    # drop0 = the corpus; drop1 = a RE-UPLOAD of the same content under new
    # ids — every drop1 row must be rejected by the store. Staged as FLAT
    # files (the file source does not recurse); mtimes order the batches.
    # ONE staging pass (was: two scans, each re-running the regex
    # normalization + md5 funneled through a serial coalesce(1) task):
    # the fingerprint is computed once per document, exploded into both
    # drops, and one partitioned write lands both files in parallel —
    # then the part files are renamed into the same mtime-ordered drop
    # files as before (row order within a file is irrelevant: the batch
    # keeps min doc_id per fingerprint via a window, not arrival order).
    now = os.stat(staged).st_mtime
    wdir = f"{staged}/_w"
    (
        d.select(
            F.explode(F.array(F.lit(0), F.lit(1))).alias("__drop"),
            "doc_id",
            "fingerprint",
        )
        .withColumn(
            "doc_id",
            F.col("doc_id") + F.col("__drop").cast("long") * 1_000_000,
        )
        .repartition("__drop")
        .write.partitionBy("__drop")
        .mode("overwrite")
        .parquet(wdir)
    )
    for i in range(2):
        pdir = os.path.join(wdir, f"__drop={i}")
        # an empty documents table writes no partition dir at all (the
        # old per-drop coalesce(1) always emitted one part file); fail
        # with a clear message instead of FileNotFoundError/ValueError
        if not os.path.isdir(pdir):
            raise RuntimeError(
                f"t8 staging: no rows for drop {i} — the documents "
                "table is empty; the incremental-store drain needs at "
                "least one staged row per drop"
            )
        (part,) = [f for f in os.listdir(pdir) if f.endswith(".parquet")]
        dst = os.path.join(staged, f"drop-{i:03d}.parquet")
        os.replace(os.path.join(pdir, part), dst)
        os.utime(dst, (now - 100 + i, now - 100 + i))
    import shutil

    shutil.rmtree(wdir, ignore_errors=True)
    out = run_incremental_store_dedup(
        spark, staged, "fingerprint", "doc_id", "t8"
    )
    return out.select("doc_id", "fingerprint")


@query(
    "t10_incremental_mv",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events,
           CAST(SUM(CAST(CAST(value AS DECIMAL(14,4)) * 10000 AS BIGINT))
                AS BIGINT) AS total_micros
    FROM events GROUP BY user_id
    """,
)
def t10_incremental_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T10: incremental MATERIALIZED-VIEW maintenance — the per-key
    aggregate kept current as data lands, without ever re-scanning
    history (the delta-log pattern):

    1. each micro-batch writes its PARTIAL aggregate (count + exact
       integer micro-unit sum — both algebraic, so partials merge
       losslessly) to a ``bid=<batch_id>`` delta directory; overwrite-
       by-batch-id makes the at-least-once foreachBatch retry replace
       its own partial instead of double-counting (the T4 idempotence
       pattern applied to aggregation state);
    2. the MV read = merge of the deltas (one vocabulary-of-keys-sized
       agg over partials, never the event history);
    3. compaction folds the deltas into an immutable versioned snapshot
       (catalog.write_versioned) — the time-travel store S12b pins —
       which at production scale runs periodically so the delta list
       stays short.

    Drained with availableNow over a 4-file landing directory (4 real
    micro-batches), the compacted MV must equal the batch GROUP BY."""
    from loris_mri_spark.catalog import (
        load_table,
        load_versioned,
        write_versioned,
    )
    from loris_mri_spark.streaming.incremental import scratch_dir

    # Re-land the table as 4 files so the availableNow drain really runs
    # multiple micro-batches (maxFilesPerTrigger=1).
    base = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        (F.col("value").cast("decimal(14,4)") * 10000)
        .cast("long")
        .alias("micros"),
    )
    landing = scratch_dir("t10-landing")
    base.repartition(4).write.mode("overwrite").parquet(landing)

    sdf = (
        spark.readStream.schema(base.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(landing)
    )
    partials = scratch_dir("t10-partials")

    def maintain(batch_df: DataFrame, batch_id: int) -> None:
        p = batch_df.groupBy("user_id").agg(
            F.count("*").alias("n_events"),
            F.sum("micros").alias("total_micros"),
        )
        p.write.mode("overwrite").parquet(f"{partials}/bid={batch_id}")

    from loris_mri_spark.streaming.incremental import (
        _scoped_stream_partitions,
        _checkpoint,
    )

    with _scoped_stream_partitions(spark):
        q = (
            sdf.writeStream.foreachBatch(maintain)
            .option("checkpointLocation", _checkpoint("t10"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    deltas = spark.read.parquet(partials)
    mv = deltas.groupBy("user_id").agg(
        F.sum("n_events").alias("n_events"),
        F.sum("total_micros").alias("total_micros"),
    )
    store = scratch_dir("t10-mv")
    v = write_versioned(mv, store)
    return load_versioned(spark, store, v)


_T11_D = 86_400_000_000  # one day in µs

_T11_SQL = f"""
    WITH e AS (SELECT event_type, epoch_us(ts) AS ts_us FROM events),
    bounds AS (SELECT MIN(ts_us) AS lo, MAX(ts_us) AS hi FROM e),
    cls AS (
      SELECT event_type, ts_us,
             ts_us // {_T11_D} * {_T11_D} AS wstart,
             CASE WHEN ts_us >= lo + 25 * {_T11_D}
                       AND ts_us < lo + 27 * {_T11_D} THEN 'b'
                  WHEN ts_us >= lo + 28 * {_T11_D} THEN 'c'
                  ELSE 'a' END AS cls
      FROM e, bounds),
    wm AS (SELECT MAX(ts_us) - {_T11_D} AS wm_drop FROM cls WHERE cls = 'a'),
    fin AS (SELECT hi - {_T11_D} AS wm_final FROM bounds),
    kept AS (SELECT cls.* FROM cls, wm
             WHERE NOT (cls = 'b' AND wstart + {_T11_D} <= wm_drop)),
    agg AS (SELECT wstart AS wstart_us, event_type, COUNT(*) AS n
            FROM kept GROUP BY wstart, event_type)
    SELECT wstart_us, event_type, n
    FROM agg, fin WHERE wstart_us + {_T11_D} <= wm_final
"""


@query("t11_late_data_drop", oracle=_T11_SQL)
def t11_late_data_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T11: the WATERMARK actually dropping late data — the semantic
    t3/t5 never exercise (their drains deliver everything in order).
    The events table is re-staged as four arrival files: the bulk (with
    the mid-stream maximum), a small filler batch (a watermark update
    takes effect one micro-batch after the maximum that produced it —
    pinned here), a LATE file (days 25-27 arriving after day 28's data),
    and the newest tail. Under `withWatermark(ts, '1 day')` + 1-day
    tumbling append aggregation the drain must:

    - DROP late rows whose window end <= the in-effect watermark
      (max event time seen - 1 day) while still accepting the late
      window that is within the threshold, and
    - emit at the final flush exactly the windows whose end <= the
      final watermark (newer windows stay open and are never output).

    The oracle replays both rules relationally in integer µs."""
    from loris_mri_spark.catalog import load_table
    from loris_mri_spark.streaming.incremental import (
        run_to_memory as _rtm,
        scratch_dir,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "ts", F.expr("ts_ns div 1000").alias("ts_us")
    )
    lo, hi = ev.agg(F.min("ts_us"), F.max("ts_us")).first()
    b_lo, b_hi, c_lo = (
        lo + 25 * _T11_D,
        lo + 27 * _T11_D,
        lo + 28 * _T11_D,
    )
    is_b = (F.col("ts_us") >= b_lo) & (F.col("ts_us") < b_hi)
    is_c = F.col("ts_us") >= c_lo
    # filler = the bulk's first two days: guaranteed non-empty and free
    # of the bulk's maximum, so the watermark set by the bulk file is in
    # effect when the late file arrives.
    filler_cut = lo + 2 * _T11_D
    # ONE staging pass (was: four scans of events, each a serial
    # coalesce(1) write): tag each row with its arrival index, one
    # repartition on the tag (all rows of an arrival colocate in one
    # task), one partitioned write — then rename the four part files
    # into mtime-ordered arrival files exactly as before. Same rows per
    # arrival file (row order within a file is irrelevant to the
    # windowed aggregation); b/c/filler predicates are disjoint by
    # construction so the when-chain reproduces the old filter splits.
    staged = scratch_dir("t11-staged")
    now = os.stat(staged).st_mtime
    wdir = f"{staged}/_w"
    (
        ev.withColumn(
            "__arr",
            F.when(is_b, F.lit(2))
            .when(is_c, F.lit(3))
            .when(F.col("ts_us") < filler_cut, F.lit(1))
            .otherwise(F.lit(0)),
        )
        .select("event_type", "ts", "__arr")
        .repartition("__arr")
        .write.partitionBy("__arr")
        .mode("overwrite")
        .parquet(wdir)
    )
    for i in range(4):
        pdir = os.path.join(wdir, f"__arr={i}")
        (part,) = [f for f in os.listdir(pdir) if f.endswith(".parquet")]
        dst = os.path.join(staged, f"arrival-{i:03d}.parquet")
        os.replace(os.path.join(pdir, part), dst)
        os.utime(dst, (now - 100 + i, now - 100 + i))
    import shutil

    shutil.rmtree(wdir, ignore_errors=True)

    schema = spark.read.parquet(staged).schema
    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(staged)
    )
    agg = (
        sdf.withWatermark("ts", "1 day")
        .groupBy(F.window("ts", "1 day"), "event_type")
        .count()
    )
    res = _rtm(agg, "append", "t11")
    return res.select(
        (F.col("window.start").cast("long") * 1_000_000).alias(
            "wstart_us"
        ),
        "event_type",
        F.col("count").alias("n"),
    )


def _t12_run(spark: SparkSession, sf_dir: str):
    """Two drains of the same checkpointed query with a file landing
    between them; returns (final DataFrame, rows processed by run 2)."""
    import uuid

    from loris_mri_spark.catalog import load_table
    from loris_mri_spark.streaming.incremental import (
        _scoped_stream_partitions,
        scratch_dir,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.expr("ts_ns div 1000").alias("ts_us")
    )
    lo, hi = ev.agg(F.min("ts_us"), F.max("ts_us")).first()
    cut = lo + (hi - lo) * 9 // 10
    landing = scratch_dir("t12-landing")
    ck = scratch_dir("t12-ckpt")

    def land(df, name: str) -> None:
        wdir = f"{landing}/_w{name}"
        df.coalesce(1).write.mode("overwrite").parquet(wdir)
        (part,) = [f for f in os.listdir(wdir) if f.endswith(".parquet")]
        os.replace(
            os.path.join(wdir, part),
            os.path.join(landing, f"{name}.parquet"),
        )
        import shutil

        shutil.rmtree(wdir, ignore_errors=True)

    def drain():
        name = f"mem_t12_{uuid.uuid4().hex[:8]}"
        sdf = (
            spark.readStream.schema("event_type string, ts_us long")
            .parquet(landing)
        )
        agg = sdf.groupBy("event_type").count()
        with _scoped_stream_partitions(spark):
            q = (
                agg.writeStream.format("memory")
                .queryName(name)
                .outputMode("complete")
                .option("checkpointLocation", ck)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        n_in = sum(int(p["numInputRows"]) for p in q.recentProgress)
        return spark.table(name), n_in

    land(ev.filter(F.col("ts_us") < cut), "drop-000")
    _first, _ = drain()
    _first.collect()  # materialize run 1's view of the world
    land(ev.filter(F.col("ts_us") >= cut), "drop-001")
    final, n_run2 = drain()
    return final.select("event_type", F.col("count").alias("n")), n_run2


@query(
    "t12_checkpoint_restart",
    oracle="SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type",
)
def t12_checkpoint_restart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T12: exactly-once across ENGINE RESTARTS — the checkpoint contract
    every incremental pipeline stands on (the reference restarts its cron
    loader constantly; imaging_upload_file_cronjob.pl re-entrance). The
    same aggregation query is started TWICE against one checkpoint: run 1
    drains the initial landing, run 2 — a fresh query object, as after a
    process restart — recovers source offsets AND aggregation state from
    the checkpoint, processes only the newly landed file, and its
    complete-mode output equals the batch answer over everything
    (tests/test_streaming_restart.py additionally pins that run 2 read
    ONLY the delta rows)."""
    final, _ = _t12_run(spark, sf_dir)
    return final


@query(
    "t13_stream_custom_sink",
    oracle="""
    SELECT COUNT(*) AS n_chunks,
           CAST(SUM(event_id) AS BIGINT) AS sum_index,
           COUNT(*) AS n_floats,
           CAST(4 AS BIGINT) AS n_batches
    FROM events
    """,
)
def t13_stream_custom_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T13: STREAMING WRITE through the registered Python Data Source —
    the last quadrant of the custom-connector matrix (loris_headers
    batch+stream read, loris_chunks batch write all exist). Events
    stream from a 4-file landing (4 real micro-batches) into
    `writeStream.format("loris_chunks")`; the connector's
    DataSourceStreamWriter lands each batch in a bid=<id> directory
    with a manifest, retry-replaced, never appended (idempotence
    enforced INSIDE the sink). Verification decodes every landed
    protobuf chunk back with the independent pure-python reader and
    must reproduce the batch totals."""
    from loris_mri_spark.catalog import load_table
    from loris_mri_spark.sources.pyds import (
        read_chunk_totals,
        register_chunks,
    )
    from loris_mri_spark.streaming.incremental import (
        _checkpoint,
        _scoped_stream_partitions,
        scratch_dir,
    )

    register_chunks(spark)
    base = load_table(spark, sf_dir, "events").select(
        "event_id", F.col("value").cast("float").alias("v")
    )
    landing = scratch_dir("t13-landing")
    base.repartition(4).write.mode("overwrite").parquet(landing)
    sink = scratch_dir("t13-sink")

    sdf = (
        spark.readStream.schema(base.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(landing)
        .select(
            F.col("event_id").alias("index"),
            F.lit(1).cast("long").alias("downsampling"),
            F.lit(0).cast("long").alias("cutoff"),
            F.array("v").alias("samples"),
        )
    )
    with _scoped_stream_partitions(spark):
        q = (
            sdf.writeStream.format("loris_chunks")
            .option("path", sink)
            .option("checkpointLocation", _checkpoint("t13"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    bids = sorted(
        d for d in os.listdir(sink) if d.startswith("bid=")
    )
    # Distributed read-back verification: decode the landed protobufs on
    # the EXECUTORS (binaryFile scan + per-file pure-python decode), not
    # in a driver loop — at 100 TB the audit pass is itself a job.
    landed = read_chunk_totals(
        spark, [os.path.join(sink, bd, "*.pb") for bd in bids]
    )
    return spark.createDataFrame(
        [
            (
                landed["n_chunks"],
                landed["sum_index"],
                landed["n_floats"],
                len(bids),
            )
        ],
        "n_chunks long, sum_index long, n_floats long, n_batches long",
    )


@query(
    "t14_stream_static_join",
    oracle="""
    SELECT c.c_mktsegment, COUNT(*) AS n_events,
           COUNT(DISTINCT e.user_id) AS n_users
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def t14_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T14: STREAM-STATIC join — the enrichment shape running in every
    production stream (events x a slowly-changing dimension): the
    static side is a plain batch table joined into each micro-batch
    (Catalyst broadcasts it per batch; no state store involved, unlike
    the stream-stream T7), followed by a streaming aggregation. Drained
    with availableNow it must equal the batch join."""
    from loris_mri_spark.catalog import load_table

    sdf = stream_events(spark, sf_dir, tag="t14-incoming")
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    joined = sdf.join(F.broadcast(dim), "user_id")
    # exact distinct per group inside a streaming agg: count_distinct is
    # unsupported in streaming aggregations, so aggregate (segment, user)
    # pairs in the stream (exactly-once via the agg state) and finish the
    # distinct count on the drained result.
    pairs = (
        joined.groupBy("c_mktsegment", "user_id")
        .agg(F.count("*").alias("n"))
    )
    drained = run_to_memory(pairs, "complete", "t14")
    return drained.groupBy("c_mktsegment").agg(
        F.sum("n").alias("n_events"),
        F.count("*").alias("n_users"),
    )


@query(
    "t3b_dedup_within_watermark_api",
    oracle="""
    SELECT event_id, user_id, event_type FROM events
    """,
)
def t3b_dedup_within_watermark_api(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """T3's modern sibling: `dropDuplicatesWithinWatermark` (Spark 3.5+)
    — unlike plain dropDuplicates-under-a-watermark (T3), the key's
    state expires once the watermark passes its FIRST sighting plus the
    delay, so state is bounded by the duplicate-arrival window rather
    than growing with the keyspace until eviction — the API an
    unbounded-keyspace dedup (every upload ever) actually needs. Same
    exactly-once contract: the self-unioned stream (every row a
    duplicate) drains to the batch answer."""
    sdf = stream_events(spark, sf_dir, tag="t3b-incoming")
    doubled = sdf.unionByName(sdf)
    deduped = (
        doubled.withWatermark("ts", "30 days")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "user_id", "event_type")
    )
    return run_to_memory(deduped, "append", "t3b")


def _stream_documents(spark: SparkSession, sf_dir: str, tag: str) -> DataFrame:
    """The documents table as a file-source STREAM (the corpus landing
    directory shape): staged into a 4-file scratch dir so availableNow
    drains through 4 real micro-batches."""
    batch = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    landing = scratch_dir(tag)
    batch.repartition(4).write.mode("overwrite").parquet(landing)
    return (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(landing)
    )


def _t15_oracle() -> str:
    from loris_mri_spark.functions.texthash import SQL_NORM
    from loris_mri_spark.workload.text import _EN_LIST_SQL

    norm = SQL_NORM.format(col="text")
    return f"""
    WITH n AS (SELECT doc_id, {norm} AS norm,
                      string_split({norm}, ' ') AS t
               FROM documents)
    SELECT DISTINCT md5(norm) AS text_md5,
           CAST(len(t) AS BIGINT) AS n_tokens,
           CAST(length(norm) AS BIGINT) AS n_chars_norm
    FROM n
    WHERE len(t) BETWEEN 5 AND 1000
      AND length(regexp_replace(norm, '[a-z0-9 ]', '', 'g'))
          * 1.0 / length(norm) < 0.1
      AND len(list_filter(t, x -> list_contains([{_EN_LIST_SQL}], x)))
          * 1.0 / len(t) BETWEEN 0.01 AND 0.7
    """


@query("t15_stream_corpus_gate_dedup", oracle=_t15_oracle())
def t15_stream_corpus_gate_dedup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """T15: the STREAMING corpus-ingestion pipeline composed end-to-end
    — the production landing-zone shape (documents arrive as files ->
    quality gate -> content-hash dedup -> idempotent parquet spool)
    that the batch compositions (pipeline_corpus_select et al.) mirror
    offline. The stream is self-unioned (every row a duplicate, the t3
    recipe) so the dedup stage provably drops to exactly-once; the
    quality gate is the text_quality_score rule set evaluated INSIDE
    the stream (pure codegen expressions — no extra state); dedup keys
    on md5(normalized text), so re-uploads and cross-batch duplicates
    collapse; output lands through the t4 bid-keyed foreachBatch spool
    (retry-idempotent, the disk-sink shape the 100x sweep certifies).
    The output is CONTENT-ADDRESSED — (text_md5, n_tokens,
    n_chars_norm), no doc_id: dropDuplicates keeps the FIRST-ARRIVING
    row per hash, and across micro-batches that arrival order is not
    deterministic, so any surviving-id column would make the drained
    result depend on file scheduling the moment the corpus carries two
    gate-passing docs with identical normalized text (sf0.1 has 8 such
    groups). All retained columns are functions of the normalized text
    itself, so every member of a duplicate group yields the same row.
    Drained with availableNow it must equal the batch gate + distinct.
    State note for 100 TB: content-hash dedup state grows with the
    unique corpus — the bounded-state production variant is
    dropDuplicatesWithinWatermark (t3b) keyed the same way, or the
    persistent fingerprint store (t8) when dedup must survive the
    stream's lifetime."""
    from loris_mri_spark.functions.texthash import norm_text, tokens
    from loris_mri_spark.workload.text import _EN_STOPS

    sdf = _stream_documents(spark, sf_dir, "t15-landing")
    doubled = sdf.unionByName(sdf)
    n = doubled.select(
        "doc_id", norm_text("text").alias("norm"), tokens("text").alias("t")
    )
    stops = F.array(*[F.lit(w) for w in _EN_STOPS])
    punct = F.length(F.regexp_replace("norm", "[a-z0-9 ]", "")) / F.length(
        "norm"
    )
    stop_ratio = F.size(
        F.filter("t", lambda x: F.array_contains(stops, x))
    ) / F.size("t")
    good = (
        F.size("t").between(5, 1000)
        & (punct < 0.1)
        & stop_ratio.between(0.01, 0.7)
    )
    gated = n.filter(good).select(
        F.md5(F.encode("norm", "utf-8")).alias("text_md5"),
        F.size("t").cast("long").alias("n_tokens"),
        F.length("norm").cast("long").alias("n_chars_norm"),
    )
    deduped = gated.dropDuplicates(["text_md5"])
    sink = scratch_dir("t15-sink")
    run_foreach_batch_append(deduped, sink, "t15")
    return spark.read.parquet(sink).drop("bid")


def _t16_oracle() -> str:
    from loris_mri_spark.workload.dedup import _BRUTE_JACCARD_08

    return _BRUTE_JACCARD_08


def _t16_read_store(bspark: SparkSession, store: str, bid: int):
    """Union of the compacted snapshot (``<store>_snap``, if present)
    and the live ``bid=N`` delta dirs, filtered to rows from batches
    BEFORE ``bid``. Snapshot rows keep their original ``bid`` column, so
    the bid-< retry guard survives compaction unchanged. Returns None
    when no earlier state exists (first batch)."""
    from loris_mri_spark.catalog import load_versioned

    parts = []
    snap = store + "_snap"
    if os.path.isfile(os.path.join(snap, "_LATEST")):
        parts.append(load_versioned(bspark, snap).filter(F.col("bid") < bid))
    if any(
        d.startswith("bid=") and int(d[4:]) < bid
        for d in os.listdir(store)
    ):
        parts.append(
            bspark.read.parquet(store).filter(F.col("bid") < bid)
        )
    if not parts:
        return None
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def t16_compact_stores(spark: SparkSession, store: str) -> int:
    """Fold every ``bid=N`` delta under ``store`` (plus any prior
    snapshot) into ONE new immutable versioned snapshot at
    ``<store>_snap`` and delete the delta dirs — t10's delta->snapshot
    recipe applied to t16's band/shingle stores, so a continuous-
    trigger run's per-batch ``os.listdir`` and parquet-footer costs stay
    bounded instead of growing one directory per micro-batch forever.

    Run between drains (a quiescent point): an at-least-once RETRY of
    an already-compacted batch would re-create its delta dir and its
    rows would coexist with the snapshot's copy of the same bid — the
    same reason t10 compacts post-drain. Returns the new version id, or
    -1 when there is nothing to fold."""
    import shutil

    from loris_mri_spark.catalog import load_versioned, write_versioned

    deltas = sorted(
        d for d in os.listdir(store) if d.startswith("bid=")
    )
    if not deltas:
        return -1
    df = spark.read.parquet(store)  # bid rides as the partition column
    snap = store + "_snap"
    if os.path.isfile(os.path.join(snap, "_LATEST")):
        df = df.unionByName(load_versioned(spark, snap))
    v = write_versioned(df, snap)
    for d in deltas:
        shutil.rmtree(os.path.join(store, d), ignore_errors=True)
    return v


# reused across micro-batches (and t16 runs) — see the submit site in
# _t16_detect_batch for why; 3 = the batch's three independent sinks.
# Created on first use, shut down at interpreter exit.
_T16_POOL: ThreadPoolExecutor | None = None
_T16_POOL_LOCK = threading.Lock()


def _t16_pool() -> ThreadPoolExecutor:
    global _T16_POOL
    with _T16_POOL_LOCK:
        if _T16_POOL is None:
            _T16_POOL = ThreadPoolExecutor(
                max_workers=3, thread_name_prefix="t16-sink"
            )
            atexit.register(_T16_POOL.shutdown, cancel_futures=True)
        return _T16_POOL


# t16's pair threshold: the exact-verify filter keeps jaccard >= it, and
# the size prefilter below is derived from the same value, so the two
# cannot drift apart.
T16_JACCARD = Fraction(4, 5)


def _t16_size_ok(n_a, n_b):
    """min/max >= T16_JACCARD, in exact integer form. jaccard(A,B) <=
    min(|A|,|B|)/max(|A|,|B|), so this LOSSLESS prefilter drops only
    pairs that could never reach the verify threshold."""
    return (
        F.least(n_a, n_b) * T16_JACCARD.denominator
        >= F.greatest(n_a, n_b) * T16_JACCARD.numerator
    )


def _t16_detect_batch(
    bdf: DataFrame, bid: int, band_store: str, sh_store: str,
    pair_sink: str,
) -> None:
    """One t16 micro-batch: shingle ONCE (checkpointed), band, find
    candidates within-batch and against the store (snapshot + deltas),
    exact-verify with full-array Jaccard, write pairs/bands/shingles
    bid-keyed. Module-level so the compaction test can drive the exact
    production batch body around a mid-stream t16_compact_stores call."""
    from loris_mri_spark.functions.texthash import tokens, word_shingles
    from loris_mri_spark.operators.dedup import minhash_band_table

    bspark = bdf.sparkSession
    docs = (
        bdf.select(
            F.col("doc_id").alias("i"),
            word_shingles(tokens("text"), 3).alias("__sh"),
        )
        .filter(F.col("i").isNotNull() & (F.size("__sh") > 0))
        .withColumn("__n", F.size("__sh"))
        .localCheckpoint()  # one shingle evaluation, three consumers
    )
    # band rows CARRY the shingle-set size so candidate pairs can be
    # pruned BEFORE the array-verify joins ship full shingle arrays
    # (_t16_size_ok) — a LOSSLESS prefilter that drops ~61% of banded
    # candidates at sf0.1 (measured r13) off the two widest joins of the
    # batch. The size rides the band STORE too, so batch-x-store
    # candidates prune the same way against every earlier batch.
    bands = minhash_band_table(
        docs, num_hashes=32, bands=16, extra_cols=("__n",)
    )
    size_ok = _t16_size_ok("x.__n", "__nj")
    cand = (
        bands.alias("x")
        .join(
            bands.select(
                F.col("i").alias("j"), F.col("__n").alias("__nj"),
                "band", "bkey",
            ).alias("y"),
            ["band", "bkey"],
        )
        .filter((F.col("x.i") < F.col("y.j")) & size_ok)
        .select("i", "j")
    )
    sides = docs.select("i", "__sh")
    prev_bands = _t16_read_store(bspark, band_store, bid)
    if prev_bands is not None:
        cross = (
            bands.alias("x")
            .join(
                prev_bands.select(
                    F.col("i").alias("j"), F.col("__n").alias("__nj"),
                    "band", "bkey",
                ).alias("y"),
                ["band", "bkey"],
            )
            .filter(size_ok)
            .select(
                F.least("i", "j").alias("i"),
                F.greatest("i", "j").alias("j"),
            )
        )
        cand = cand.unionByName(cross)
        # the band and shingle stores are written/compacted in lockstep,
        # so a present band store implies a present shingle store — but
        # if they ever desync (partial-batch failure between the two
        # writes, one-store compaction), fail LOUDLY instead of dying
        # with AttributeError on a None dereference
        prev_sh = _t16_read_store(bspark, sh_store, bid)
        if prev_sh is None:
            raise RuntimeError(
                f"t16 store desync: band store {band_store} has state "
                f"before bid={bid} but shingle store {sh_store} has "
                "none — the two must be written and compacted in "
                "lockstep"
            )
        sides = sides.unionByName(prev_sh.select("i", "__sh"))
    cand = cand.distinct()
    inter = F.size(F.array_intersect("__sha", "__shb"))
    jac = inter / (F.size("__sha") + F.size("__shb") - inter)
    pairs = (
        cand.join(sides.select("i", F.col("__sh").alias("__sha")), "i")
        .join(
            sides.select(
                F.col("i").alias("j"), F.col("__sh").alias("__shb")
            ),
            "j",
        )
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= float(T16_JACCARD))
        .select("i", "j", F.round("jaccard", 4).alias("jaccard_r"))
    )
    # three independent sinks off the same checkpointed batch (pairs =
    # the verify join; bands/docs = narrow projections of the anchor):
    # write them CONCURRENTLY so the two tiny store writes back-fill the
    # verify join's task tail instead of queueing behind it (guide
    # §2.6) — ~2 job floors saved per micro-batch, every batch. The
    # pool is module-level (3 fresh JVM-paired threads per micro-batch
    # added up at continuous cadence) and every submission is wrapped
    # `inheritable`, so the sink jobs keep the streaming query's job
    # group — query.stop() can cancel them and the UI attributes them
    # (pinned-thread mode gives plain pool threads FRESH properties).
    from loris_mri_spark.session import inheritable

    pool = _t16_pool()
    for f in [
        pool.submit(
            inheritable(pairs.write.mode("overwrite").parquet, bspark),
            f"{pair_sink}/bid={bid}",
        ),
        pool.submit(
            inheritable(bands.write.mode("overwrite").parquet, bspark),
            f"{band_store}/bid={bid}",
        ),
        pool.submit(
            inheritable(docs.write.mode("overwrite").parquet, bspark),
            f"{sh_store}/bid={bid}",
        ),
    ]:
        f.result()


@query("t16_stream_near_dedup", oracle=_t16_oracle())
def t16_stream_near_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T16: STREAMING NEAR-duplicate detection against a persistent
    fingerprint store — t15 suppresses exact re-uploads (md5 equality);
    the production corpus stream also needs the near-dup signal, and
    this composes the two existing pieces the r10 verdict named: the
    MinHash banding core (operators/dedup.minhash_band_table, the exact
    code the batch pair finder runs) inside foreachBatch, against a
    t8-style persistent store.

    Per micro-batch: shingle the arriving documents ONCE (checkpointed —
    bands, verify, and the store write all read it), compute their
    banded MinHash keys, find candidates (a) WITHIN the batch by banded
    self-join and (b) AGAINST the store of every earlier batch's keys by
    banded equi-join, exact-verify candidates with full-array Jaccard
    (batch + stored shingle arrays), and append verified pairs, band
    keys, and shingles — all bid-keyed overwrites, the T4 idempotence
    pattern. Store reads filter bid < current so an at-least-once retry
    never joins a batch against its own partial output. Because band
    keys are deterministic (seeded xxhash64), within-batch pairs +
    batch-x-store pairs across all batches = EXACTLY the batch
    all-pairs banded self-join, so the drained pair set equals
    dedup_minhash_lsh_pairs and shares its brute-force oracle.

    100-TB shape: the store is the only growing state and it lives in
    storage, not executor memory (at scale: bucketed on (band, bkey) so
    the candidate join shuffles only the incoming batch; store blooms
    on bkey skip row groups, the t8 recipe). Candidates stay
    bucket-local — no all-pairs stage anywhere. At continuous-trigger
    cadence the bid=N delta dirs fold into one versioned snapshot via
    t16_compact_stores (t10's delta->snapshot recipe; drained pairs
    provably unchanged across a compaction —
    tests/test_streaming_restart.py), so per-batch listing and footer
    costs stay bounded instead of growing forever."""
    from loris_mri_spark.streaming.incremental import (
        _checkpoint,
        _scoped_stream_partitions,
    )

    sdf = _stream_documents(spark, sf_dir, "t16-landing")
    band_store = scratch_dir("t16-bands")
    sh_store = scratch_dir("t16-shingles")
    pair_sink = scratch_dir("t16-pairs")

    def detect_batch(bdf: DataFrame, bid: int) -> None:
        _t16_detect_batch(bdf, bid, band_store, sh_store, pair_sink)

    with _scoped_stream_partitions(spark):
        q = (
            sdf.writeStream.foreachBatch(detect_batch)
            .option("checkpointLocation", _checkpoint("t16"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.read.parquet(pair_sink).drop("bid")
