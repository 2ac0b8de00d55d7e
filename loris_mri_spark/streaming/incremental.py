"""Incremental / streaming operators — SURVEY §2.9.

The reference has no streaming engine: it approximates incremental
processing with cron + state flags (`uploadNeuroDB/imaging_upload_file_
cronjob.pl`, `mri_upload` state machine `python/lib/db/models/
mri_upload.py:24-34`, duplicate suppression `database_lib/files.py:40-101`,
notification spool `NeuroDB/Notify.pm`). Here each pattern is a real
Structured Streaming query:

- T1: file-source incremental ingest with `trigger(availableNow=True)` —
  the cron sweep of `incoming/` becomes exactly-once file discovery with
  checkpointed progress; re-running the job picks up only new files.
- T2: upload state machine — streaming aggregation keeping the LAST state
  per key (max_by on event time) plus progress counters.
- T3: duplicate/late-arrival suppression — `withWatermark` +
  `dropDuplicates` within the watermark horizon.
- T4: append-only notification log — `foreachBatch` append sink (each
  batch appends atomically; consumers read the spool table).

All runs use `availableNow` so a "stream" over a static fixture drains
deterministically — which also makes T1-T4 oracle-checkable: the final
state of the streamed computation must equal the batch answer.
"""

from __future__ import annotations

import os
import tempfile
import uuid
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_REPO = Path(__file__).resolve().parents[2]
SCRATCH = str(_REPO / ".scratch")


def scratch_dir(prefix: str) -> str:
    """Fresh scratch dir; prior dirs with the same prefix are pruned so
    repeated runs (tests, driver rounds, bench) don't accumulate."""
    import shutil

    os.makedirs(SCRATCH, exist_ok=True)
    for old in os.listdir(SCRATCH):
        if old.startswith(f"{prefix}-"):
            shutil.rmtree(os.path.join(SCRATCH, old), ignore_errors=True)
    return tempfile.mkdtemp(prefix=f"{prefix}-", dir=SCRATCH)


def _checkpoint(tag: str) -> str:
    return scratch_dir(f"ckpt-{tag}")


def stream_events(
    spark: SparkSession, sf_dir: str, tag: str = "incoming"
) -> DataFrame:
    """The events table as a file-source STREAM with the same normalized
    schema as catalog.load_table (ts_ns exact long + µs ts timestamp).

    The file source requires a DIRECTORY (it watches for new files), so
    the table file is staged into a fresh scratch dir — the exact shape of
    the reference's watched upload dir; at production scale the stream
    points at the real landing directory and new drops are picked up
    incrementally by the checkpoint.

    ``tag``: queries reading TWO streams (stream-stream joins) must give
    each source a distinct tag — scratch_dir prunes earlier dirs with the
    same prefix, so a shared tag would delete the first source's staging
    out from under the running query."""
    from loris_mri_spark.catalog import normalize_events, set_events_read_confs

    set_events_read_confs(spark)
    src = os.path.join(sf_dir, "events.parquet")
    batch = spark.read.parquet(src)
    incoming = scratch_dir(tag)
    dst = os.path.join(incoming, "events-000.parquet")
    try:
        os.link(src, dst)
    except OSError:
        import shutil

        shutil.copyfile(src, dst)
    sdf = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(incoming)
    )
    # Same schema-drift guard as the batch path: ts_ns long + ts TIMESTAMP
    # whatever the parquet physical type (bigint nanos / ntz µs / µs).
    return normalize_events(sdf)


#: Stateful streaming operators (aggregation, dropDuplicates, joins,
#: applyInPandasWithState) materialize one state store PER shuffle
#: partition — snapshot + delta files per store per micro-batch. The
#: partition count is frozen into the checkpoint at query start, so it
#: must be sized to STATE VOLUME, not driver cores: a CPU-sized count
#: (32-128) pays hundreds of store lifecycles to drain a small fixture.
#: Production deployments size this per stream (state bytes / ~100 MB).
STREAM_SHUFFLE_PARTITIONS = 8


class _scoped_stream_partitions:
    """Scope spark.sql.shuffle.partitions down for a streaming drain and
    restore it after — batch queries in the same session keep their own
    (larger) setting."""

    def __init__(self, spark: SparkSession):
        self.spark = spark

    def __enter__(self):
        self.old = self.spark.conf.get("spark.sql.shuffle.partitions")
        self.spark.conf.set(
            "spark.sql.shuffle.partitions", str(STREAM_SHUFFLE_PARTITIONS)
        )

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.shuffle.partitions", self.old)


def run_to_memory(
    sdf: DataFrame,
    output_mode: str,
    tag: str,
) -> DataFrame:
    """Drain a streaming DataFrame with availableNow into a memory sink
    and return the final result as a batch DataFrame."""
    name = f"mem_{tag}_{uuid.uuid4().hex[:8]}"
    spark = sdf.sparkSession
    with _scoped_stream_partitions(spark):
        q = (
            sdf.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", _checkpoint(tag))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)


def run_foreach_batch_append(
    sdf: DataFrame,
    sink_path: str,
    tag: str,
) -> None:
    """T4: append-only spool sink. foreachBatch is only AT-LEAST-ONCE — a
    batch that fails mid-write is retried under the same batch_id — so a
    plain ``mode("append")`` would duplicate rows on retry. Idempotence
    comes from keying the write by batch_id: each batch OVERWRITES its own
    ``bid=<batch_id>`` subdirectory, so a retry replaces its partial output
    instead of appending next to it. Readers see ``bid`` as a discovered
    partition column and drop it."""

    def append_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(f"{sink_path}/bid={batch_id}")

    with _scoped_stream_partitions(sdf.sparkSession):
        q = (
            sdf.writeStream.foreachBatch(append_batch)
            .option("checkpointLocation", _checkpoint(tag))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()


def stateful_running_index(
    sdf: "DataFrame",
    key_col: str,
    order_cols: list[str],
    id_col: str,
) -> "DataFrame":
    """Custom STATEFUL streaming operator via applyInPandasWithState
    (SURVEY §2.9 extension; the API the ephys/session-ization operators
    build on): per key, assign each event its running 1-based index in
    ``order_col`` order, carrying the count across micro-batches in group
    state. The upload state machine's 'how many transitions so far' is
    exactly this shape, computed incrementally instead of re-aggregated.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def assign(key, pdfs, state: GroupState):
        start = state.get[0] if state.exists else 0
        rows = pd.concat(list(pdfs)).sort_values(order_cols)
        n = len(rows)
        out = pd.DataFrame(
            {
                id_col: rows[id_col].to_numpy(),
                key_col: rows[key_col].to_numpy(),
                "seq": range(start + 1, start + n + 1),
            }
        )
        state.update((start + n,))
        yield out

    return sdf.groupBy(key_col).applyInPandasWithState(
        assign,
        outputStructType=f"{id_col} long, {key_col} long, seq long",
        stateStructType="n long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_incremental_store_dedup(
    spark: SparkSession,
    staged_dir: str,
    fingerprint_col: str,
    id_col: str,
    tag: str,
) -> DataFrame:
    """Incremental EXACT dedup against a PERSISTENT fingerprint store —
    the cross-run form of duplicate suppression (T3 dedups within one
    stream's watermark; this is `database_lib/files.py:40-101` semantics
    across ingest runs: a document whose fingerprint is already in the
    store is rejected forever, not just within a window).

    Each micro-batch: keep the first (min id) row per fingerprint within
    the batch, anti-join against the store-so-far, append the survivors
    to the accepted log AND their fingerprints to the store. Both writes
    are batch-id-keyed overwrites (the T4 idempotence pattern), so an
    at-least-once retry replaces its partial output. At scale the store
    is a bucketed table on fingerprint — the anti-join is then
    shuffle-free on the store side.

    Returns the accepted log (id, fingerprint) as a batch DataFrame."""
    from pyspark.sql.window import Window

    store = scratch_dir(f"{tag}-store")
    out = scratch_dir(f"{tag}-out")
    schema = spark.read.parquet(staged_dir).schema

    def accept_batch(batch_df: DataFrame, batch_id: int) -> None:
        bspark = batch_df.sparkSession
        w = Window.partitionBy(fingerprint_col).orderBy(id_col)
        firsts = (
            batch_df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        known = [
            d for d in os.listdir(store) if d.startswith("bid=")
        ] if os.path.isdir(store) else []
        if known:
            seen = bspark.read.parquet(store).select(fingerprint_col)
            firsts = firsts.join(seen, fingerprint_col, "left_anti")
        firsts = firsts.localCheckpoint()  # one evaluation, two sinks
        firsts.select(id_col, fingerprint_col).write.mode("overwrite").parquet(
            f"{out}/bid={batch_id}"
        )
        # store files carry a bloom filter on the fingerprint: at scale the
        # next batch's anti-join probe skips row groups from the footer
        # (hash keys defeat min/max stats; blooms are the skipping that works)
        from loris_mri_spark.sinks import write_keyed_store

        write_keyed_store(
            firsts.select(fingerprint_col),
            f"{store}/bid={batch_id}",
            fingerprint_col,
            expected_ndv=100_000,
        )

    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(staged_dir)
    )
    with _scoped_stream_partitions(spark):
        q = (
            sdf.writeStream.foreachBatch(accept_batch)
            .option("checkpointLocation", _checkpoint(tag))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.read.parquet(out).drop("bid")
