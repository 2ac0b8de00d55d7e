"""The Observation API: production pipelines attach named metrics to a
plan and read them after the action — monitoring without a second scan.
Pins that observed metrics equal the equivalent aggregation."""

from __future__ import annotations


def test_observation_metrics_match_aggregation(spark, sf_dir):
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from loris_mri_spark.catalog import load_table

    li = load_table(spark, sf_dir, "lineitem")
    obs = Observation("li_metrics")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_quantity").cast("decimal(14,2)")).alias("qty"),
        F.count(F.when(F.col("l_discount") > 0.05, 1)).alias("n_disc"),
    )
    # one action drives both the pipeline AND the metrics
    n_out = observed.filter(F.col("l_quantity") > 25).count()

    direct = li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_quantity").cast("decimal(14,2)")).alias("qty"),
        F.count(F.when(F.col("l_discount") > 0.05, 1)).alias("n_disc"),
    ).first()
    got = obs.get
    assert got["n_rows"] == direct["n_rows"]
    assert got["qty"] == direct["qty"]
    assert got["n_disc"] == direct["n_disc"]
    assert 0 < n_out < got["n_rows"]



def _checkpoint_observed(df):
    """Attach a row-count Observation, checkpoint eagerly, then read the
    count: the shape operators/fixpoint.checkpoint_count relies on. No
    action runs between the checkpoint and the read, so the metrics must
    come from the checkpoint job; a read that would block fails on the
    timeout instead of hanging the suite."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    checkpointed = df.observe(obs, F.count(F.lit(1)).alias("n")).localCheckpoint()
    with ThreadPoolExecutor(1) as pool:
        n = pool.submit(lambda: obs.get["n"]).result(timeout=60)
    return checkpointed, n


def _round_plan(spark, keep):
    """A transitive_closure round's shape: a broadcast join, then a
    distinct."""
    from pyspark.sql import functions as F

    a = spark.range(100).filter(keep).select(F.col("id").alias("k"))
    b = spark.range(50).select((F.col("id") % 7).alias("k"))
    return a.join(F.broadcast(b), "k").select("k").distinct()


def test_observation_fires_on_eager_local_checkpoint(spark):
    checkpointed, n = _checkpoint_observed(_round_plan(spark, "id >= 0"))
    assert n == checkpointed.count() == 7


def test_observation_on_empty_checkpoint_is_zero_without_blocking(spark):
    checkpointed, n = _checkpoint_observed(_round_plan(spark, "id > 1000"))
    assert n == checkpointed.count() == 0
