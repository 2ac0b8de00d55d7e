"""Physical-plan quality gates — the 100 TB design assertions.

These tests pin the plan shapes that matter at scale: filter pushdown
reaching the parquet scan, broadcasts on small sides, no cartesian
products, zero-shuffle single-scan protocol matching, top-k compiling to
TakeOrderedAndProject. A regression here is a perf bug even if results
stay correct.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from loris_mri_spark import workload

workload.load_all()


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_no_lazy_local_checkpoint_in_package():
    """localCheckpoint(eager=False) is banned (r8 VERDICT item 7): lazy
    checkpoints pin storage blocks across query runs within a session —
    freed only on RDD GC — and at 100x data a pinned posting table
    cascaded the next run into a broadcast OOM (SCALE.md post-mortem).
    Compute-once now uses the explicit-exchange anchor pattern (an
    identical .repartition(keys) subplan per consumer -> ReusedExchange:
    shuffle files on disk, zero heap pinning). Eager localCheckpoint
    stays allowed for iterative lineage truncation."""
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parent.parent / "loris_mri_spark"
    offenders = [
        str(p)
        for p in pkg.rglob("*.py")
        if "eager=False" in p.read_text()
    ]
    assert offenders == [], offenders


def test_file_parsers_emit_rows_through_map_rows():
    """How a Python parser's rows cross into Spark (batch loop, column
    order, missing keys, integer types) is decided once, in
    sources.files.map_rows: no sources/ module calls mapInPandas, and
    the media operators, multimodal queries, the ortho preview sink and
    the chunk-sink read-back audits keep no batch loop of their own."""
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parent.parent / "loris_mri_spark"
    offenders = [
        str(p) for p in (pkg / "sources").rglob("*.py")
        if ".mapInPandas(" in p.read_text()
    ] + [
        str(p)
        for p in (pkg / "operators" / "media.py",
                  pkg / "workload" / "multimodal.py",
                  pkg / "sinks.py",
                  pkg / "workload" / "sinkops.py",
                  pkg / "workload" / "streaming_ops.py")
        if "for pdf in batches" in p.read_text()
    ]
    assert offenders == [], offenders


def test_winnow_pairs_single_scan_and_exchange_reuse(spark, sf_dir):
    """The capped-jaccard anchors must actually fire: the fingerprint
    pipeline (one parquet scan) evaluates ONCE and every other consumer
    reads it back as ReusedExchange. Regression mode (SCALE.md Finding
    5): a consumer-specific isnotnull() pushed below the anchor exchange
    de-canonicalizes the subtrees and the pipeline silently evaluates
    per consumer — correct results, 3x the scan cost. AQE finalizes
    reuse only at execution, so run the plan first."""
    for name, min_reuse in [
        ("dedup_winnow_pairs", 3),
        ("dedup_winnow_coverage", 3),
        ("dedup_minhash_lsh_pairs", 3),
        ("dedup_ngram_jaccard_pairs", 4),
    ]:
        df = workload.QUERIES[name](spark, sf_dir)
        df.collect()
        final = _plan(df).split("== Initial Plan ==")[0]
        assert "isFinalPlan=true" in final, name
        assert final.count("Scan parquet") == 1, (
            name, final.count("Scan parquet")
        )
        assert final.count("ReusedExchange") >= min_reuse, name


def test_predicate_pushdown_reaches_scan(spark, sf_dir):
    df = workload.QUERIES["f_predicate_gauntlet"](spark, sf_dir)
    plan = _formatted(df)
    assert "PushedFilters: [" in plan
    # the BETWEEN bounds must be pushed, not just IsNotNull
    assert "GreaterThanOrEqual(o_orderkey,1000" in plan.replace(" ", "")


def test_j7_single_scan_no_shuffle(spark, sf_dir, monkeypatch):
    """One scan, no exchange, and the rule match compiled into the scan's
    whole-stage codegen (no interpreted higher-order functions). Building
    the match fires no Spark job: the rule table is a local relation."""
    from loris_mri_spark.workload import rules

    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    identify_protocol = rules.identify_protocol
    match_jobs = []

    def counted(*args, **kwargs):
        before = scheduler.nextJobId()
        out = identify_protocol(*args, **kwargs)
        match_jobs.append(scheduler.nextJobId() - before)
        return out

    monkeypatch.setattr(rules, "identify_protocol", counted)
    df = workload.QUERIES["j7_protocol_identification"](spark, sf_dir)
    assert match_jobs == [0]

    plan = _plan(df)
    assert plan.count("Scan parquet") == 1
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "lambdafunction" not in plan
    projects = [
        line for line in _formatted(df).splitlines()
        if re.match(r"\(\d+\) Project", line)
    ]
    assert projects
    assert all("codegen id" in line for line in projects), projects


def test_j1_broadcasts_dimension(spark, sf_dir):
    df = workload.QUERIES["j1_customer_order_revenue"](spark, sf_dir)
    assert "BroadcastHashJoin" in _plan(df)


def test_topk_is_take_ordered(spark, sf_dir):
    df = workload.QUERIES["o1_topk_lineitems"](spark, sf_dir)
    assert "TakeOrderedAndProject" in _plan(df)


def test_no_cartesian_products_anywhere(spark, sf_dir):
    """CartesianProduct = the O(n^2) plan the similarity operators must
    never produce (broadcast nested loops over a bounded side are fine)."""
    for name in (
        "dedup_ngram_jaccard_pairs",
        "dedup_minhash_lsh_pairs",
        "dedup_simhash_pairs",
        "dedup_winnow_pairs",
        "vec_cosine_pairs_lsh",
        "ann_cosine_topk_exact",
        "ann_ivf_topk",
        "ann_ivf_kmeans_topk",
    ):
        plan = _plan(workload.QUERIES[name](spark, sf_dir))
        assert "CartesianProduct" not in plan, name


def test_ivf_kmeans_broadcasts_model_side(spark, sf_dir):
    """The k-means assignment and the IVF probe/candidate joins must
    broadcast the small (centroid/probe) side — the corpus is never
    shuffled by a join key it doesn't already have."""
    plan = _plan(workload.QUERIES["ann_ivf_kmeans_topk"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_column_pruning_narrow_read_schema(spark, sf_dir):
    """A 2-column projection must not read the full table."""
    df = workload.QUERIES["a4_distinct_projection"](spark, sf_dir)
    plan = _formatted(df)
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "o_orderstatus" in read and "o_orderpriority" in read
    assert "o_totalprice" not in read and "o_comment" not in read


def test_visit_window_broadcasts_rule_table(spark, sf_dir):
    """The Visit_Windows rule join must broadcast the (tiny) window table
    and never sort-merge the session side."""
    plan = _plan(workload.QUERIES["f5_visit_window_validation"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_sample_is_pure_filter_no_shuffle_before_agg(spark, sf_dir):
    """The stratified sample is a broadcast rate join + filter; the only
    Exchange in the plan belongs to the final rollup, never the sample."""
    plan = _plan(
        workload.QUERIES["sample_stratified_deterministic"](spark, sf_dir)
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("Scan parquet") == 1


def test_budget_shards_no_global_single_partition_sort(spark, sf_dir):
    """The shard packer must never single-partition the DATA: the
    per-row running-sum window is partitioned by the id bucket, and the
    only SinglePartition exchange allowed is the exclusive-offset prefix
    window over the BUCKET-SUMS aggregate (O(#buckets) metadata rows, on
    the broadcast side — the r8 VERDICT's no-driver-collect rewrite)."""
    plan = _plan(workload.QUERIES["pack_token_budget_shards"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan  # bucket-offset join broadcasts
    # offsets are part of the composed plan, not a driver-collected
    # LocalTableScan (the pre-r9 shape)
    assert "LocalTableScan" not in plan
    # exactly one SinglePartition exchange, and it feeds the bucket-sums
    # window: its direct input is the HashAggregate over buckets
    assert plan.count("Exchange SinglePartition") == 1
    below_sp = plan.split("Exchange SinglePartition", 1)[1]
    assert "HashAggregate" in below_sp.split("\n", 2)[1]
    # the data-side running sum stays bucket-partitioned
    assert "windowspecdefinition(__b" in plan


def test_contamination_broadcasts_eval_side(spark, sf_dir):
    plan = _plan(workload.QUERIES["contamination_eval_overlap"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_repetition_stats_zero_shuffle_single_scan(spark, sf_dir):
    """The Gopher repetition metrics are aggregate() folds per row — the
    plan must be one scan with no Exchange and no Python stage."""
    df = workload.QUERIES["text_repetition_stats"](spark, sf_dir)
    plan = _plan(df)
    assert plan.count("Scan parquet") == 1
    assert "Exchange" not in plan
    assert "Python" not in plan


def test_pii_redact_zero_shuffle_no_python(spark, sf_dir):
    df = workload.QUERIES["text_pii_redact"](spark, sf_dir)
    plan = _plan(df)
    assert plan.count("Scan parquet") == 1
    assert "Exchange" not in plan
    assert "Python" not in plan


def test_global_shuffle_single_hash_exchange(spark, sf_dir):
    """The deterministic shuffle is ONE hash exchange on the uniform
    shard key (skew-free by construction) + per-shard window sort — no
    global single-partition sort."""
    df = workload.QUERIES["corpus_global_shuffle"](spark, sf_dir)
    plan = _plan(df)
    assert plan.count("Exchange") == 1
    assert "SinglePartition" not in plan


def test_zorder_stats_no_join_one_agg_exchange(spark, sf_dir):
    """Z-key is a flat integer expression: one scan, the only exchange is
    the bucket aggregation's."""
    df = workload.QUERIES["layout_zorder_stats"](spark, sf_dir)
    plan = _plan(df)
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan
    assert "Python" not in plan
    assert plan.count("Exchange") <= 1


def test_salted_join_row_equality(spark, sf_dir):
    """salted_join must return exactly the rows of the unsalted join —
    every fact row carries one salt, every dim row is replicated across
    all salts, so (key, salt) matches iff key matches (the equality
    guarantee the salt.py docstring promises)."""
    from loris_mri_spark.catalog import load_table
    from loris_mri_spark.operators.salt import salted_join

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    for how in ("inner", "left"):
        salted = salted_join(o, c, "o_custkey", n_salts=4, how=how)
        plain = o.join(c, "o_custkey", how)
        assert salted.exceptAll(plain).isEmpty()
        assert plain.exceptAll(salted).isEmpty()


def test_profile_columns_no_expand(spark, sf_dir):
    """profile_columns must plan per-column single-distinct aggregates,
    never the Expand multi-distinct rewrite (row multiplication x the
    number of profiled columns — a 50-column audit would multiply the
    scan output 50x at 100 TB)."""
    plan = _plan(workload.QUERIES["profile_columns"](spark, sf_dir))
    assert "Expand" not in plan
    # each per-column scan prunes to its own column
    assert plan.count("Scan parquet") == 4


def test_s18b_qc_gradients_single_scan_one_exchange(spark, sf_dir):
    """The DTIPrep QC gradient rollup is one Arrow-batched XML scan and
    one aggregation shuffle — nothing else."""
    plan = _plan(workload.QUERIES["s18b_dtiprep_qc_gradients"](spark, sf_dir))
    assert plan.count("Scan ") == 1
    assert plan.count("Exchange") == 1
    assert "Join" not in plan


def test_deface_batch_single_pass(spark, sf_dir):
    """The deface planner computes deface list + reference scan +
    already-defaced flag in ONE conditional aggregation — 3 table scans
    (lineitem/orders/customer), no sort-merge join, no re-derivation of
    the files frame per facet."""
    plan = _plan(workload.QUERIES["pipeline_deface_batch"](spark, sf_dir))
    assert plan.count("Scan parquet") == 3
    assert "SortMergeJoin" not in plan


def test_qc_face_batch_no_global_order_window(spark, sf_dir):
    """The face-QC batch runner numbers its log files with a PER-SESSION
    row_number (the reference's global $counter++ would be a
    single-partition Exchange — a driver-sized bottleneck at scale)."""
    plan = _plan(workload.QUERIES["pipeline_qc_face_batch"](spark, sf_dir))
    assert "SinglePartition" not in plan
    assert "CartesianProduct" not in plan


def test_hrrt_insertion_all_joins_broadcast(spark, sf_dir):
    """HRRT insertion's joins are all tiny-side (sidecar params, 1-row
    study/count frames) — they must broadcast; a SortMergeJoin would mean
    a shuffle of the per-file frame against a 5-row sidecar."""
    plan = _plan(workload.QUERIES["pipeline_hrrt_insertion"](spark, sf_dir))
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    # the blake2b pass streams each ECAT file in 8 MiB chunks from its
    # path: ITS inventory scan must be pruned to metadata (path-only
    # ReadSchema, zero data bytes at scan time). The ECAT header/sidecar
    # parses still read `content` by design (bounded fixture recordings;
    # the header lives in the leading bytes), so the pin is scan-shaped,
    # not a global content ban.
    assert "ReadSchema: struct<path:string>" in plan


def test_no_row_at_a_time_python_udf_anywhere(spark, sf_dir):
    """BatchEvalPython (row-at-a-time Python UDF) is the 10-100x-slower
    path and must never appear in ANY registered query plan. Python is
    allowed only Arrow-batched: ArrowEvalPython for the six genuinely
    non-expression operators (hashlib blake2b, the HED parser, PNG
    codecs, protobuf framing) and mapInPandas/applyInPandas stages."""
    allowed_arrow = {
        "c5_blake2b_hash",
        "pipeline_hrrt_insertion",  # blake2b over ECAT bytes (C5's UDF)
        # the X4 HED parse — the capstone's one remaining scalar Arrow
        # hop (its blake2b moved to a chunked-read mapInPandas stage in
        # r13 so recording bytes never cross Arrow)
        "pipeline_eeg_bids_ingest",
        # the unified dispatcher composes the EEG arm verbatim, so it
        # inherits exactly that same allow-listed HED hop — no new
        # Arrow surface of its own (its dispatch scans are path-only,
        # pinned in test_bids_dataset_import_dispatch_plan)
        "pipeline_bids_dataset_import",
        "x3b_udtf_tar_members",  # Arrow-optimized Python UDTF (X3 surface)
        "x4_hed_parse",
        "x4b_hed_ancestors",
        "mm_decode_png_roundtrip",
        "s15_png_preview",
        "s14_chunk_encode",
        # hyperplane signature matmul (operators/vectors.py band_keys) —
        # always executed Arrow-batched; visible in the plan since r9
        # because the band table's lazy checkpoint (which truncated
        # lineage) became an explicit-exchange anchor
        "vec_cosine_pairs_lsh",
    }
    offenders, surprise_arrow, cartesian = [], [], []
    for name, fn in workload.QUERIES.items():
        plan = _plan(fn(spark, sf_dir))
        if "BatchEvalPython" in plan:
            offenders.append(name)
        if "ArrowEvalPython" in plan and name not in allowed_arrow:
            surprise_arrow.append(name)
        # sweep-wide O(n^2) guard: a CartesianProduct anywhere is a scale
        # bug (broadcast nested loops over a bounded side print as
        # BroadcastNestedLoopJoin and stay allowed)
        if "CartesianProduct" in plan:
            cartesian.append(name)
    assert offenders == [], offenders
    assert surprise_arrow == [], surprise_arrow
    assert cartesian == [], cartesian


def test_bm25_topk_take_ordered_and_broadcasts(spark, sf_dir):
    """BM25's global top-k must be TakeOrderedAndProject (per-partition
    heaps + one driver merge), never a single-partition sort or a global
    window; df and the corpus stats ride broadcast joins."""
    plan = _plan(workload.QUERIES["text_bm25_topk"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_pmi_bigrams_no_position_self_join(spark, sf_dir):
    """Adjacent bigrams come from one codegen'd transform(sequence())
    over the token array — a position self-join of the exploded tokens
    (explode x explode + offset equi-join) would shuffle the whole
    corpus twice. Only broadcast joins may appear (unigram table +
    scalar totals)."""
    plan = _plan(workload.QUERIES["text_pmi_bigrams"](spark, sf_dir))
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_semdedup_cell_local_grouped_map(spark, sf_dir):
    """SemDeDup's pair space is partitioned by the trained cell: ONE
    Arrow-batched grouped-map stage (FlatMapGroupsInPandas) holds the
    within-cell similarity matrix + union-find + keep rule, the k-row
    centroid table rides a broadcast, and nothing may plan as a
    CartesianProduct or a corpus-wide pair join (the k-means training
    crossJoin prints as BroadcastNestedLoopJoin over the k-row side,
    the bounded shape the IVF queries already pin)."""
    plan = _plan(workload.QUERIES["dedup_semdedup"](spark, sf_dir))
    assert plan.count("FlatMapGroupsInPandas") == 1
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan


def test_kmeans_argmax_not_duplicated_into_pushed_filter(spark, sf_dir):
    """The trained-quantizer assignment is a projection whose `cell`
    column is the k*dim-literal argmax fold — the dominant expression of
    every consumer. Regression mode (r13 §I, caught by the bench's
    fresh-session bracket at 2x the plan cost): a consumer join on
    `cell` makes Catalyst infer isnotnull(cell) and push it BELOW the
    projection, re-running the whole fold as a per-row Filter condition.
    kmeans_cells guards this by projecting coalesce(argmax, -1) — a
    non-nullable column whose inferred nullcheck constant-folds away.
    Pin: the fold's init literal ([-Infinity,-1], one per argmax
    instance) appears EXACTLY once in each consumer's executed plan."""
    for name in ("dedup_semdedup", "ann_ivf_kmeans_topk",
                 "dedup_semdedup_cellstats"):
        plan = _plan(workload.QUERIES[name](spark, sf_dir))
        n = plan.count("[-Infinity,-1]")
        assert n == 1, f"{name}: argmax fold appears {n}x (expected 1)"


def test_eeg_bids_ingest_broadcast_only_joins(spark, sf_dir):
    """The EEG BIDS capstone's joins are all dims-sized (participants,
    event dictionary, inserted-file list) and must broadcast — a
    SortMergeJoin anywhere means a recordings-sized shuffle that the
    100-TB listing-scale design forbids."""
    plan = _plan(
        workload.QUERIES["pipeline_eeg_bids_ingest"](spark, sf_dir)
    )
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    # r13 streaming-hash shape: the INVENTORY binaryFile scan is pruned
    # to metadata (no content column — zero data bytes read) and the
    # blake2b rides a chunked-read MapInPandas stage, so a multi-GB
    # recording never materializes in one task
    assert "ReadSchema: struct<path:string>" in plan
    assert "MapInPandas" in plan


def test_mri_bids_import_plan_shape(spark, sf_dir):
    """The MRI BIDS capstone: broadcast-only joins (participants and the
    inserted-file list are the dims; a SortMergeJoin would shuffle the
    acquisition listing), no cartesian, and exactly ONE live Python map
    stage (the S4 header parse, a MapInArrow through
    sources.files.map_rows) — the chunked blake2b passes are
    anchored behind EAGER local checkpoints (eager=False is banned
    repo-wide, see test_no_lazy_local_checkpoint_in_package) so the ~10
    union branches read the rows-sized hash table instead of re-hashing
    every volume per branch."""
    plan = _plan(
        workload.QUERIES["pipeline_mri_bids_import"](spark, sf_dir)
    )
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert plan.count("MapInArrow") == 1 and plan.count("MapInPandas") == 0
    assert "Scan ExistingRDD" in plan  # the checkpoint anchors


def test_bids_dataset_import_dispatch_plan(spark, sf_dir):
    """The unified BIDS dataset import keeps both arms' pinned shapes
    (no SortMergeJoin, no cartesian anywhere in the union) and its
    dispatch listing is pure metadata: the two extra binaryFile scans
    must be path-ONLY (`[path#`, no content column). The arms' S7/S4
    parsers DO read content by design (small recordings / 348-byte
    headers through Arrow — the documented pattern), so the pin counts
    path-only scans rather than banning content globally."""
    plan = _plan(
        workload.QUERIES["pipeline_bids_dataset_import"](spark, sf_dir)
    )
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    import re

    path_only_scans = re.findall(
        r"FileScan binaryFile \[path#\d+\]", plan
    )
    assert len(path_only_scans) >= 2, plan[:2000]


def test_bpe_vocab_trainer_single_grouped_map(spark, sf_dir):
    """text_bpe_train_vocab's merge phase is ONE grouped-map task over
    the word-frequency table: exactly one FlatMapGroupsInPandas, fed by
    the type-bounded partial-agg word count (HashAggregate pair around
    one exchange) — and NO per-merge Spark stages at all (the k=8
    distributed loop this replaces paid ~3 jobs per merge)."""
    plan = _plan(workload.QUERIES["text_bpe_train_vocab"](spark, sf_dir))
    assert plan.count("FlatMapGroupsInPandas") == 1
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_bpe_tokenize_type_join_plans(spark, sf_dir):
    """text_bpe_tokenize_corpus, both documented regimes (r12 VERDICT
    item 6 — pin the fallback, don't narrate it). Default
    (curated-corpus): the vocab-sized (type, n_subwords) table
    BROADCASTS against the token-exploded corpus — the corpus is never
    shuffled. Web-scale fallback (spark.loris.bpe.broadcastTypes=false,
    with auto-broadcast off as a genuinely over-threshold type table
    would force): the SAME query compiles to a shuffle join keyed on
    `w` — the corpus shuffles NARROW (doc_id, w only), never at
    document width, and the per-doc aggregation still combines
    map-side."""
    fn = workload.QUERIES["text_bpe_tokenize_corpus"]
    plan = _plan(fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    auto = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.loris.bpe.broadcastTypes", "false")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan2 = _plan(fn(spark, sf_dir))
    finally:
        spark.conf.set("spark.loris.bpe.broadcastTypes", "true")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", auto)
    assert "SortMergeJoin" in plan2 or "ShuffledHashJoin" in plan2
    assert "BroadcastHashJoin" not in plan2


def test_x5_grouped_agg_single_pandas_aggregate(spark, sf_dir):
    """The GROUPED_AGG pandas UDAF plans as exactly one Arrow aggregate
    node (full-vector shuffle per group — the documented no-partial-agg
    interop shape); the count must ride inside it (array return), not a
    second aggregation of the base table, and the scan must prune to the
    three referenced columns."""
    plan = _plan(workload.QUERIES["x5_grouped_agg_trimmed_mean"](spark, sf_dir))
    assert plan.count("ArrowAggregatePython") == 1
    assert "BatchEvalPython" not in plan
    assert "ReadSchema: struct<l_extendedprice:double" in plan


def test_quantile_bucket_expression_not_duplicated_into_join(spark, sf_dir):
    """Pin the non-nullable-bucket-key fix (SCALE.md finding 3): joining
    on a NULLABLE computed key pushes isnotnull(<whole expression>)
    below the projection, duplicating the 31-term bucket expression
    into the bounds join's condition — past codegen method limits, the
    stage runs interpreted (measured 100 s vs 7 s at 100x). With the
    coalesce'd non-nullable key the expression must appear in the pick
    scan EXACTLY once (its defining projection): 31 unrolled
    comparisons, not 62+."""
    from loris_mri_spark.catalog import load_table
    from loris_mri_spark.operators.quantiles import (
        exact_quantiles_distributed,
    )

    li = load_table(spark, sf_dir, "lineitem")
    dbg = {}
    exact_quantiles_distributed(
        li, "l_returnflag", "l_extendedprice", [0.5, 0.9],
        force_distributed=True, _debug_plans=dbg,
    )
    # AQE's toString prints the Initial Plan after the Final Plan —
    # inspect only the final one (each holds one full copy legitimately)
    plan = _plan(dbg["picked_scan"]).split("== Initial Plan ==")[0]
    n_terms = plan.count(">= bounds#")
    assert 0 < n_terms <= 31, (
        f"bucket expression appears {n_terms} times in the pick scan - "
        "more than one full copy means a pushed null filter duplicated "
        "it into a join condition (the interpreted-stage hazard)"
    )


def test_ngram_novelty_partial_aggs_and_no_gram_join(spark, sf_dir):
    """corpus_ngram_novelty's 100-TB contract: every shuffle carries
    PARTIAL-aggregated rows (partial_min for the first-owner pass,
    partial_count for both counts — map-side combine bounds exchange
    volume by vocabulary/doc cardinality, not gram occurrences), the
    final per-doc joins broadcast, and there is NO gram-keyed join
    (novel counts are read off the first-owner table itself)."""
    from loris_mri_spark import workload

    plan = _plan(workload.QUERIES["corpus_ngram_novelty"](spark, sf_dir))
    assert "partial_min" in plan
    assert "partial_count" in plan
    assert "SortMergeJoin" not in plan
    # the only joins are the doc-cardinality assemble joins
    assert plan.count("BroadcastHashJoin") == 2


def test_sq8_bounds_broadcast_and_codegen_codec(spark, sf_dir):
    """ann_sq8_recall's 100-TB contract: the 64-entry per-dimension
    bounds table reaches the quantizer via BroadcastExchange (never a
    shuffle of the vectors against it), and the quantize/dequantize/
    cosine pipeline is pure codegen — no Python evaluation anywhere."""
    from loris_mri_spark import workload

    plan = _plan(workload.QUERIES["ann_sq8_recall"](spark, sf_dir))
    assert "BroadcastExchange" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
