"""T12's delta claim: the second drain of the checkpointed query must
process ONLY the newly landed rows — offsets and agg state both recover
from the checkpoint."""

from __future__ import annotations


def test_second_drain_reads_only_the_delta(spark, sf_dir):
    from pyspark.sql import functions as F

    from loris_mri_spark.catalog import load_table
    from loris_mri_spark.workload.streaming_ops import _t12_run

    final, n_run2 = _t12_run(spark, sf_dir)

    ev = load_table(spark, sf_dir, "events").select(
        F.expr("ts_ns div 1000").alias("ts_us")
    )
    lo, hi = ev.agg(F.min("ts_us"), F.max("ts_us")).first()
    cut = lo + (hi - lo) * 9 // 10
    n_delta = ev.filter(F.col("ts_us") >= cut).count()
    n_total = ev.count()

    assert n_run2 == n_delta, (n_run2, n_delta)
    assert n_run2 < n_total / 2
    got = {r.event_type: r.n for r in final.collect()}
    exp = {
        r.event_type: r.n
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == exp


def test_t16_compaction_preserves_drained_pairs(spark, sf_dir):
    """t16_compact_stores folds the bid=N band/shingle deltas into one
    versioned snapshot; a drain with a MID-RUN compaction must produce
    exactly the pairs of the uncompacted drain, and the delta listing
    must actually shrink to zero at the compaction point."""
    import os

    from pyspark.sql import functions as F

    from loris_mri_spark.catalog import load_table
    from loris_mri_spark.streaming.incremental import scratch_dir
    from loris_mri_spark.workload.streaming_ops import (
        _t16_detect_batch,
        t16_compact_stores,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def drain(compact_after: "int | None") -> set:
        band = scratch_dir("t16test-bands")
        sh = scratch_dir("t16test-sh")
        sink = scratch_dir("t16test-pairs")
        for b in range(5):
            _t16_detect_batch(
                docs.filter(F.col("doc_id") % 5 == b), b, band, sh, sink
            )
            if compact_after == b:
                assert t16_compact_stores(spark, band) >= 0
                assert t16_compact_stores(spark, sh) >= 0
                for store in (band, sh):
                    assert not any(
                        d.startswith("bid=") for d in os.listdir(store)
                    )
        return {
            tuple(r)
            for r in spark.read.parquet(sink).drop("bid").collect()
        }

    base = drain(None)
    compacted = drain(2)
    assert base, "expected non-empty near-dup pairs"
    assert compacted == base


def test_t16_size_prefilter_is_lossless(spark, sf_dir):
    """The band rows carry the shingle-set size and candidate pairs are
    pruned by 5*min >= 4*max BEFORE the array-verify joins (jaccard <=
    min/max, so no >= 0.8 pair can be pruned). Pin both halves: the
    store schema actually carries __n (so batch-x-store candidates
    prune against every EARLIER batch too), and the drained pair set
    still equals the brute-force jaccard >= 0.8 ground truth."""
    from pyspark.sql import functions as F

    from loris_mri_spark.catalog import load_table
    from loris_mri_spark.functions.texthash import tokens, word_shingles
    from loris_mri_spark.streaming.incremental import scratch_dir
    from loris_mri_spark.workload.streaming_ops import _t16_detect_batch

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    band = scratch_dir("t16size-bands")
    sh = scratch_dir("t16size-sh")
    sink = scratch_dir("t16size-pairs")
    for b in range(3):
        _t16_detect_batch(
            docs.filter(F.col("doc_id") % 3 == b), b, band, sh, sink
        )

    assert "__n" in spark.read.parquet(band).columns

    got = {
        (r["i"], r["j"])
        for r in spark.read.parquet(sink).select("i", "j").collect()
    }

    shingled = (
        docs.select(
            F.col("doc_id").alias("i"),
            word_shingles(tokens("text"), 3).alias("__sh"),
        )
        .filter(F.col("i").isNotNull() & (F.size("__sh") > 0))
    )
    inter = F.size(F.array_intersect("__sha", "__shb"))
    jac = inter / (F.size("__sha") + F.size("__shb") - inter)
    brute = (
        shingled.select("i", F.col("__sh").alias("__sha"))
        .crossJoin(
            shingled.select(
                F.col("i").alias("j"), F.col("__sh").alias("__shb")
            )
        )
        .filter(F.col("i") < F.col("j"))
        .filter(jac >= 0.8)
        .select("i", "j")
    )
    want = {(r["i"], r["j"]) for r in brute.collect()}
    assert want, "expected non-empty ground-truth pairs"
    assert got == want


def test_t16_size_prefilter_matches_the_verify_threshold(spark):
    """The size prefilter is derived from T16_JACCARD, the constant the
    verify filter keeps: over set sizes 1..60 it passes exactly the
    (na, nb) pairs with min/max >= T16_JACCARD."""
    from fractions import Fraction

    from pyspark.sql import functions as F

    from loris_mri_spark.workload.streaming_ops import (
        T16_JACCARD,
        _t16_size_ok,
    )

    sizes = spark.range(1, 61).select(F.col("id").alias("na"))
    grid = sizes.crossJoin(sizes.select(F.col("na").alias("nb")))
    got = {
        (r["na"], r["nb"])
        for r in grid.filter(_t16_size_ok("na", "nb")).collect()
    }
    want = {
        (a, b)
        for a in range(1, 61)
        for b in range(1, 61)
        if Fraction(min(a, b), max(a, b)) >= T16_JACCARD
    }
    assert (4, 5) in want and (3, 4) not in want
    assert got == want


def test_t16_pool_created_once_and_shut_down_at_exit(monkeypatch):
    """The t16 sink pool is built on first use, reused after, and its
    shutdown is registered with atexit exactly once."""
    import atexit

    from loris_mri_spark.workload import streaming_ops

    registered = []
    monkeypatch.setattr(streaming_ops, "_T16_POOL", None)
    monkeypatch.setattr(
        atexit, "register", lambda fn, *a, **kw: registered.append(fn)
    )
    pool = streaming_ops._t16_pool()
    try:
        assert streaming_ops._t16_pool() is pool
        assert pool.submit(lambda: 7).result() == 7
        assert registered == [pool.shutdown]
    finally:
        pool.shutdown()
