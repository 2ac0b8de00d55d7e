"""SparkSession factory tuned for the engine.

Local testing runs on local[N]; the same config scales to a multi-executor
cluster because every knob here is about plan quality (AQE, broadcast
thresholds, partition sizing), not local-mode hacks.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession

# Defaults sized for the test harness (local[32], 128 GiB). On a real
# cluster the same settings hold: AQE coalesces the 2x-cores shuffle
# partitions down to data-proportional counts, and maxPartitionBytes keeps
# scan tasks at ~128 MB so a 100 TB input splits into ~800k tasks rather
# than a handful of giant ones.
_DEFAULTS = {
    # Adaptive execution: runtime re-planning, skew-join splitting,
    # partition coalescing. Essential at 100 TB where static estimates are
    # wrong by orders of magnitude.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Dimension/rule tables (region, nation, mri_protocol, ...) are tiny;
    # let Catalyst broadcast them without explicit hints up to 64 MB.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Arrow for every Python<->JVM handoff (pandas UDFs, toPandas).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Deterministic timestamps: the DuckDB oracle reads the same parquet
    # files without a session timezone, so pin UTC on the Spark side.
    "spark.sql.session.timeZone": "UTC",
    # Scan granularity: 128 MB splits — the sweet spot for parquet at scale.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    # The events table stores TIMESTAMP(NANOS), which Spark's reader rejects
    # by default; read it as raw int64 nanos (catalog.load_table re-derives a
    # usable timestamp column and keeps the exact ns value).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # PySpark 4 wraps every DataFrame API call to capture the Python call
    # site for error context (errors/utils._with_origin): 3 extra py4j
    # round-trips per op (~2-5 ms each, measured). Query BUILD time is
    # driver-side real time at any scale, and build-heavy pipelines
    # (~400 wrapped ops) pay ~0.3-1 s per build for context that only
    # enriches error messages. Results are unaffected; re-enable via
    # extra_conf when debugging a failing job.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    # Python workers fork from loris_mri_spark._daemon, which skips the
    # zip-archive re-reads that importlib.invalidate_caches() does on
    # Python 3.11 at the start of every Python task (0.15-0.24 s a task;
    # re-check when the Python version changes). Static, so a session not
    # built here keeps pyspark.daemon; no result depends on it. The
    # PYTHONPATH makes the module importable from any working directory:
    # a daemon that cannot import it fails every Python task.
    "spark.python.daemon.module": "loris_mri_spark._daemon",
    "spark.executorEnv.PYTHONPATH": str(Path(__file__).resolve().parent.parent),
    # Quieter local runs; harmless on a cluster.
    "spark.ui.enabled": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
}


def inheritable(fn, session=None):
    """Wrap a callable for submission to a driver-side thread pool so the
    spawned thread inherits the submitting thread's JVM-local properties
    (job group / description / scheduler pool) under PySpark's
    pinned-thread mode (the default since 3.2). Plain pool threads get
    FRESH properties, so a streaming query's ``stop()`` could not cancel
    sink jobs submitted from ``foreachBatch`` pools and the UI
    mis-attributed them (r13 ADVICE item 3; the PySpark threading docs
    name ``inheritable_thread_target`` as the supported pattern). Wrap at
    submit time — properties are captured from the CALLING thread when
    the wrapper is built. Pass ``session`` so session TAGS are inherited
    too (without it PySpark warns and copies only the JVM-local
    properties)."""
    from pyspark import inheritable_thread_target

    if session is not None:
        return inheritable_thread_target(session)(fn)
    return inheritable_thread_target(fn)


def get_spark(
    app_name: str = "loris-mri-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's tuned defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or local[*]) when no
    cluster master is configured — on a real deployment the master comes from
    spark-submit and this argument is left None.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_MASTER" not in os.environ:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)

    conf = dict(_DEFAULTS)
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        # 2x cores locally; a cluster would size this to data volume, and AQE
        # coalesces it back down anyway.
        conf["spark.sql.shuffle.partitions"] = str(2 * int(cpus)) if cpus else "32"
    else:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
