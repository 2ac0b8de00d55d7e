"""End-to-end pipeline compositions — the reference's top entry points as
single DataFrame DAGs (SURVEY §3).

- `pipeline_nifti_insertion`: the §3.2 per-file insertion lifecycle
  (session/candidate resolution -> duplicate suppression -> protocol
  identification -> QC flag -> registration with deterministic ids) as
  ONE declarative plan over the star schema. The reference runs this as
  one OS process per file (`run_nifti_insertion.py`); here every stage is
  a narrow transformation and the whole corpus registers in one job.
- `j9_transitive_closure`: the delete-upload cascade's derivation-DAG
  reachability (`tools/delete_imaging_upload.pl:1009-1030`) via iterative
  frontier joins, oracled by a recursive CTE.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from loris_mri_spark.catalog import load_table
from loris_mri_spark.functions.texthash import md5_60
from loris_mri_spark.operators.traverse import transitive_closure
from loris_mri_spark.plugins import resolve_session_config
from loris_mri_spark.workload import query
from loris_mri_spark.workload.rules import _J7_MATCH_SQL, _identified_lineitems


@query(
    "j9_transitive_closure",
    oracle="""
    WITH RECURSIVE
    edges AS (
      SELECT l_orderkey * 10 + l_linenumber - 1 AS src,
             l_orderkey * 10 + l_linenumber AS dst
      FROM lineitem WHERE l_linenumber > 1),
    seeds AS (
      SELECT DISTINCT l_orderkey * 10 + 1 AS id
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderstatus = 'F' AND l_linenumber = 1 AND o_orderkey < 5000),
    reach AS (
      SELECT id FROM seeds
      UNION
      SELECT e.dst AS id FROM reach r JOIN edges e ON e.src = r.id)
    SELECT id FROM reach
    """,
)
def j9_transitive_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derivation-DAG reachability: lineitem rows chain linenumber n-1 ->
    n within an order (the files.SourceFileID shape); seeds are the first
    lines of 'F' orders below key 5000; the closure is every derived row
    the delete cascade must touch."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    node = (F.col("l_orderkey") * 10 + F.col("l_linenumber")).cast("long")
    edges = li.filter(F.col("l_linenumber") > 1).select(
        (node - 1).alias("src"), node.alias("dst")
    )
    seeds = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(
            (F.col("o_orderstatus") == "F")
            & (F.col("l_linenumber") == 1)
            & (F.col("o_orderkey") < 5000)
        )
        .select(node.alias("id"))
        .distinct()
    )
    return transitive_closure(edges, seeds, "src", "dst", "id")


_PIPE_ORACLE = f"""
    WITH identified AS ({_J7_MATCH_SQL}),
    dedup AS (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY l_orderkey, l_linenumber
               ORDER BY l_quantity, l_extendedprice, l_discount) AS __rn
      FROM identified),
    scans AS (
      SELECT d.*, o.o_custkey, c.c_nationkey, c.c_custkey
      FROM dedup d
      JOIN orders o ON d.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE d.__rn = 1),
    resolved AS (
      SELECT *,
             'PRJ' || c_nationkey AS project,
             CAST(c_custkey AS VARCHAR) AS candidate,
             'V' || (c_custkey % 3 + 1) AS visit_label
      FROM scans)
    SELECT CAST(('0x' || substr(md5(l_orderkey || ':' || l_linenumber || ':'
                 || candidate), 1, 15)) AS BIGINT) AS file_id,
           l_orderkey, l_linenumber, candidate, visit_label, scan_type,
           CASE WHEN l_discount > 0.08 THEN 'warning' ELSE 'pass' END AS qc_flag
    FROM resolved
    WHERE scan_type <> 'unidentified'
"""


@query("pipeline_nifti_insertion", oracle=_PIPE_ORACLE)
def pipeline_nifti_insertion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The §3.2 insertion lifecycle as one DAG: duplicate-scan
    suppression (keep-first per scan key — `db/queries/file.py:11-28`),
    session/candidate resolution through the plugin hook
    (`get_session_info.py:87-163`), protocol identification (zero-shuffle
    inline rules — `MRI.pm:307-526`), QC flagging (`imaging.py:706-809`),
    and registration rows with deterministic content ids. Violations
    (unidentified) are excluded here — j7_violation_rows is their sink."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")

    ident = _identified_lineitems(spark, sf_dir)
    w = Window.partitionBy("l_orderkey", "l_linenumber").orderBy(
        "l_quantity", "l_extendedprice", "l_discount"
    )
    dedup = ident.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") == 1
    )
    scans = (
        dedup.join(o, dedup.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .withColumn(
            "patient_id",
            F.concat(
                F.lit("PRJ"), F.col("c_nationkey"), F.lit("_"),
                F.col("c_custkey"), F.lit("_V"), F.col("c_custkey") % 3 + 1,
            ),
        )
    )
    resolved = resolve_session_config(scans, "patient_id", profile="default")
    return resolved.filter(F.col("scan_type") != "unidentified").select(
        md5_60(
            F.concat_ws(
                ":",
                F.col("l_orderkey"),
                F.col("l_linenumber"),
                F.col("candidate"),
            )
        ).alias("file_id"),
        "l_orderkey",
        "l_linenumber",
        "candidate",
        "visit_label",
        "scan_type",
        F.when(F.col("l_discount") > 0.08, "warning").otherwise("pass").alias(
            "qc_flag"
        ),
    )


def _corpus_select_oracle() -> str:
    # Imported for their registration side effects AND their oracle SQL:
    # the selection oracle is composed verbatim from the constituent
    # queries' oracles, so the two stay in lockstep by construction.
    from loris_mri_spark.workload import ORACLES
    from loris_mri_spark.workload import dedup as _dedup  # noqa: F401
    from loris_mri_spark.workload import text as _text  # noqa: F401

    return f"""
    WITH sel_lang AS ({ORACLES["text_language_id"]}),
    sel_q AS ({ORACLES["text_quality_score"]}),
    sel_cl AS ({ORACLES["dedup_minhash_clusters"]})
    SELECT l.doc_id, q.n_tokens, q.stop_ratio
    FROM sel_lang l
    JOIN sel_q q ON q.doc_id = l.doc_id
    WHERE l.pred_lang = 'en'
      AND q.stop_ratio >= 0.06
      AND l.doc_id NOT IN
          (SELECT doc_id FROM sel_cl WHERE doc_id != component)
    """


@query("pipeline_corpus_select", oracle=_corpus_select_oracle())
def pipeline_corpus_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LLM-training-data capstone: corpus selection as ONE composed
    DataFrame DAG — language gate (n-gram language id) ∘ quality gate
    (stopword-ratio threshold) ∘ near-dup removal (MinHash-LSH connected
    components, keeping each cluster's representative). This is the query
    shape a 100 TB pipeline actually ships: every stage is the already-
    verified component, composed by joins, so Catalyst sees one plan and
    the dedup anti-join runs against the (tiny) non-representative set.
    Oracle is composed from the same components' oracles verbatim."""
    from loris_mri_spark.workload import QUERIES

    lang = QUERIES["text_language_id"](spark, sf_dir).select(
        "doc_id", "pred_lang"
    )
    quality = QUERIES["text_quality_score"](spark, sf_dir).select(
        "doc_id", "n_tokens", "stop_ratio"
    )
    clusters = QUERIES["dedup_minhash_clusters"](spark, sf_dir)
    remove = clusters.filter(F.col("doc_id") != F.col("component")).select(
        "doc_id"
    )
    return (
        lang.filter(F.col("pred_lang") == "en")
        .join(quality, "doc_id")
        .filter(F.col("stop_ratio") >= 0.06)
        .join(remove, "doc_id", "left_anti")
        .select("doc_id", "n_tokens", "stop_ratio")
    )


def _authority_oracle() -> str:
    from loris_mri_spark.operators.rank import sql_power_iteration_rank

    edges = """
      SELECT DISTINCT o_custkey AS src, l_suppkey + 1000000 AS dst
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      UNION
      SELECT DISTINCT l_suppkey + 1000000 AS src, o_custkey AS dst
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    """
    return sql_power_iteration_rank(edges, n_iter=3)


@query("graph_authority_rank", oracle=_authority_oracle())
def graph_authority_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative authority scoring (PageRank shape, 3 power iterations)
    over the customer<->supplier purchase graph — the third iterative-
    algorithm family member next to transitive closure and connected
    components, and the corpus-quality-propagation shape LLM pipelines
    run over source/link graphs. Decimal-exact message passing
    (operators/rank.py) makes an iterative float algorithm
    hash-checkable; the oracle replays the identical rounds as a
    generated CTE chain (the ann_ivf_kmeans pattern)."""
    from loris_mri_spark.operators.rank import power_iteration_rank

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    joined = o.join(li, o.o_orderkey == li.l_orderkey)
    fwd = joined.select(
        F.col("o_custkey").alias("src"),
        (F.col("l_suppkey") + 1_000_000).alias("dst"),
    ).distinct()
    rev = fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ranks = power_iteration_rank(fwd.union(rev), n_iter=3)
    return ranks.select("node", "rank")


@query(
    "pipeline_gdpr_erasure",
    oracle="""
    WITH erase AS (SELECT DISTINCT user_id FROM events
                   WHERE user_id % 37 = 0),
    ev AS (SELECT COUNT(*) AS n_before,
                  COUNT(CASE WHEN user_id % 37 = 0 THEN 1 END)
                    AS n_erased
           FROM events),
    prof AS (SELECT COUNT(DISTINCT user_id) AS n_before,
                    COUNT(DISTINCT CASE WHEN user_id % 37 = 0
                                        THEN user_id END) AS n_erased
             FROM events)
    SELECT 'events' AS store, n_before,
           CAST(n_erased AS BIGINT) AS n_erased,
           CAST(n_before - n_erased AS BIGINT) AS n_after
    FROM ev
    UNION ALL
    SELECT 'user_profiles', n_before,
           CAST(n_erased AS BIGINT),
           CAST(n_before - n_erased AS BIGINT)
    FROM prof
    """,
)
def pipeline_gdpr_erasure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RIGHT-TO-ERASURE pipeline: given a deletion roster (every 37th
    user), PHYSICALLY rewrite each affected store without the erased
    subjects — the event log by anti-join, the derived per-user profile
    store likewise — as new immutable versions (write_versioned), and
    report per store (rows before / erased / after) FROM THE REWRITTEN
    DATA, not from the plan (the report a DPO signs must come from what
    is actually on disk). The reference's closest flow is the
    delete-upload cascade (`delete_imaging_upload.py`); this is the
    cross-store subject-level form at warehouse scale: anti-joins
    broadcast the roster, version flips are atomic, old versions remain
    for the legally-mandated audit trail until retention expiry."""
    from loris_mri_spark.catalog import (
        load_table,
        load_versioned,
        write_versioned,
    )
    from loris_mri_spark.streaming.incremental import scratch_dir

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id"
    )
    profiles = ev.groupBy("user_id").agg(
        F.count("*").alias("n_events")
    )
    # the distinct bounds the broadcast's driver-side collect to one row
    # per erased user, not one per matching event (~|events|/37); the
    # anti-join tests key membership only, so it changes no kept row
    roster = (
        ev.select("user_id").filter(F.col("user_id") % 37 == 0).distinct()
    )

    def erase(store_name: str, df: DataFrame, key: str):
        store = scratch_dir(f"gdpr-{store_name}")
        v1 = write_versioned(df, store)
        kept = df.join(F.broadcast(roster), key, "left_anti")
        v2 = write_versioned(kept, store)
        n_before = load_versioned(spark, store, v1).count()
        n_after = load_versioned(spark, store, v2).count()
        return (store_name, n_before, n_before - n_after, n_after)

    # the two stores' rewrite+audit chains are independent job sequences;
    # overlapping them lets each chain's tail back-fill the other's idle
    # executors (within a store the order v1 -> v2 -> counts still holds)
    from concurrent.futures import ThreadPoolExecutor

    from loris_mri_spark.session import inheritable

    with ThreadPoolExecutor(max_workers=2) as pool:
        futs = [
            pool.submit(inheritable(erase, spark), store_name, df, key)
            for store_name, df, key in (
                ("events", ev, "user_id"),
                ("user_profiles", profiles, "user_id"),
            )
        ]
        out_rows = [f.result() for f in futs]
    return spark.createDataFrame(
        out_rows, "store string, n_before long, n_erased long, n_after long"
    )


@query(
    "graph_triangle_count",
    oracle="""
    WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem
                WHERE l_orderkey % 4 = 0),
    e AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
          FROM li a JOIN li b
            ON a.l_orderkey = b.l_orderkey
           AND a.l_partkey < b.l_partkey),
    nodes AS (SELECT DISTINCT n FROM (SELECT u AS n FROM e
                                      UNION ALL SELECT v FROM e))
    SELECT (SELECT COUNT(*) FROM nodes) AS n_nodes,
           (SELECT COUNT(*) FROM e) AS n_edges,
           (SELECT COUNT(*) FROM e e1
              JOIN e e2 ON e2.u = e1.v
              JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v) AS n_triangles
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRIANGLE COUNTING on the co-purchase graph (parts sharing an
    order) — the canonical bounded multi-way self-join. Scale design:
    edges are ORIENTED BY DEGREE RANK (lower-degree endpoint first,
    ties by id) before the wedge join, the standard trick that caps
    per-vertex wedge fan-out at O(sqrt(m)) arboricity instead of
    O(max_degree^2) — a hub with degree 10^5 contributes wedges only
    from its (few) lower-ranked neighbors. Each triangle is counted
    exactly once at its lowest-ranked vertex; the oracle's id-oriented
    formulation also counts each exactly once, so the totals match by
    construction."""
    # Deterministic 1/4-of-orders graph: the co-purchase graph densifies
    # quadratically with order count, and triangle cost grows with the
    # wedge count (degree^2) — the contract samples ORDERS (not edges:
    # edge sampling biases triangle counts), identically in the oracle.
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 4 == 0)
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("u"))
    b = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("v"))
    e = (
        a.join(b, "o")
        .filter(F.col("u") < F.col("v"))
        .select("u", "v")
        .distinct()
        # three consumers (degrees, orientation, edge count): the
        # explicit exchange is the compute-once anchor — each consumer
        # embeds the identical repartition subplan and reads the
        # distinct-edge build back as ReusedExchange (shuffle files on
        # disk, no lazy-checkpoint heap pinning)
        .repartition("u", "v")
    )
    deg = (
        e.select(F.col("u").alias("n"))
        .unionAll(e.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("d"))
    )
    # rank = (degree, id): a total order; orient every edge low -> high
    ranked = (
        e.join(deg.withColumnRenamed("n", "u").withColumnRenamed("d", "du"), "u")
        .join(deg.withColumnRenamed("n", "v").withColumnRenamed("d", "dv"), "v")
        .select(
            F.when(
                (F.col("du") < F.col("dv"))
                | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
                F.struct(F.col("u").alias("x"), F.col("v").alias("y")),
            )
            .otherwise(
                F.struct(F.col("v").alias("x"), F.col("u").alias("y"))
            )
            .alias("s")
        )
        .select("s.x", "s.y")
    )
    # three consumers below — same explicit-exchange anchor pattern
    ranked = ranked.repartition("x", "y")
    w1 = ranked.select(F.col("x"), F.col("y").alias("y1"))
    w2 = ranked.select(F.col("x"), F.col("y").alias("y2"))
    wedges = w1.join(w2, "x").filter(F.col("y1") < F.col("y2"))
    # closing edge between y1,y2 exists in SOME orientation
    closing = ranked.select(
        F.least("x", "y").alias("y1"), F.greatest("x", "y").alias("y2")
    )
    tri = wedges.join(closing, ["y1", "y2"], "left_semi")
    # left_semi would collapse duplicate wedges; wedge pairs are unique
    # by construction ((x,y1,y2) distinct), so a plain count is exact.
    # ONE declarative plan for all three counts (no driver-side .count()
    # actions): within a single job AQE reuses the anchored edge and
    # orientation exchanges across the branches, so the distinct-edge
    # build runs exactly once — the cross-action reuse the old lazy
    # checkpoint provided, without its heap pinning.
    return (
        deg.agg(F.count("*").cast("long").alias("n_nodes"))
        .crossJoin(e.agg(F.count("*").cast("long").alias("n_edges")))
        .crossJoin(
            tri.agg(F.count("*").cast("long").alias("n_triangles"))
        )
    )


def _pretraining_oracle() -> str:
    from loris_mri_spark.workload import ORACLES
    from loris_mri_spark.workload import dedup as _dedup  # noqa: F401
    from loris_mri_spark.workload import text as _text  # noqa: F401

    return f"""
    WITH sel AS ({ORACLES["pipeline_corpus_select"]}),
    lm AS ({ORACLES["text_lm_quality"]}),
    spans AS ({ORACLES["dedup_substring_spans"]}),
    split AS ({ORACLES["split_cluster_safe"]}),
    kept AS (
      SELECT s.doc_id, s.n_tokens
      FROM sel s
      JOIN lm ON lm.doc_id = s.doc_id
      LEFT JOIN spans sp ON sp.doc_id = s.doc_id
      WHERE lm.avg_logprob >= -3.45
        AND COALESCE(sp.dup_frac, 0) <= 0.8)
    SELECT sp.split, COUNT(*) AS n_docs,
           CAST(SUM(k.n_tokens) AS BIGINT) AS total_tokens
    FROM kept k JOIN split sp ON sp.doc_id = k.doc_id
    GROUP BY sp.split
    """


@query("pipeline_pretraining_data", oracle=_pretraining_oracle())
def pipeline_pretraining_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END pretraining-data capstone: corpus selection
    (language ∘ stopword-quality ∘ near-dup removal) ∘ LM-quality gate
    (corpus-unigram mean logprob, the CCNet stage) ∘ boilerplate gate
    (drop documents whose duplicated-span fraction exceeds 0.8 — the
    substring-level complement to whole-doc dedup) ∘ LEAKAGE-SAFE
    train/val/test split (assigned on near-dup cluster
    representatives), reported as per-split document and token budgets
    — the sheet a pretraining run is provisioned from. Every stage is
    an already-driver-verified component composed by joins into one
    Catalyst plan; the oracle is composed verbatim from the same
    components' oracles, so pipeline and verification can never
    drift."""
    from loris_mri_spark.workload import QUERIES

    sel = QUERIES["pipeline_corpus_select"](spark, sf_dir).select(
        "doc_id", "n_tokens"
    )
    lm = QUERIES["text_lm_quality"](spark, sf_dir).select(
        "doc_id", "avg_logprob"
    )
    spans = QUERIES["dedup_substring_spans"](spark, sf_dir).select(
        "doc_id", "dup_frac"
    )
    split = QUERIES["split_cluster_safe"](spark, sf_dir).select(
        "doc_id", "split"
    )
    kept = (
        sel.join(lm, "doc_id")
        .filter(F.col("avg_logprob") >= -3.45)
        .join(spans, "doc_id", "left")
        .filter(F.coalesce("dup_frac", F.lit(0.0)) <= 0.8)
    )
    return (
        kept.join(split, "doc_id")
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
        )
    )


_PROC_REG_ORACLE = """
    WITH RECURSIVE li AS (
      SELECT DISTINCT l_orderkey * 10 + l_linenumber AS node,
             l_orderkey, l_linenumber
      FROM lineitem WHERE l_orderkey < 3000),
    edges AS (SELECT node AS n, node - 1 AS a FROM li
              WHERE l_linenumber > 1),
    anc AS (
      SELECT n, a, 1 AS dist FROM edges
      UNION ALL
      SELECT anc.n, e.a, anc.dist + 1
      FROM anc JOIN edges e ON anc.a = e.n),
    prov AS (
      SELECT n AS node, MIN(a) AS source_file_id,
             COUNT(*) AS n_inputs
      FROM anc GROUP BY n),
    proc AS (
      SELECT li.node, l_orderkey, l_linenumber,
             p.source_file_id, p.n_inputs,
             CASE l_linenumber % 4
               WHEN 2 THEN 'QCedDTI' WHEN 3 THEN 'RGBqc'
               WHEN 0 THEN 'TxtQCReport' ELSE 'XMLQCReport' END AS scan_type,
             CASE WHEN l_linenumber % 2 = 0
                  THEN 'native' ELSE 'linear' END AS coordinate_space
      FROM li JOIN prov p ON li.node = p.node
      WHERE l_linenumber > 1),
    existing(name, id) AS (VALUES ('QCedDTI', 1001), ('RGBqc', 1002)),
    req AS (SELECT DISTINCT scan_type AS name FROM proc),
    minted AS (
      SELECT name,
             (SELECT GREATEST(100, MAX(id)) FROM existing)
               + ROW_NUMBER() OVER (ORDER BY name) AS id
      FROM req WHERE name NOT IN (SELECT name FROM existing)),
    protoid AS (
      SELECT e.name, CAST(e.id AS BIGINT) AS id FROM existing e
      WHERE e.name IN (SELECT name FROM req)
      UNION ALL SELECT name, CAST(id AS BIGINT) FROM minted),
    resolved AS (
      SELECT p.*, CAST(c.c_custkey AS VARCHAR) AS candidate,
             'V' || (c.c_custkey % 3 + 1) AS visit_label,
             pr.id AS protocol_id
      FROM proc p
      JOIN orders o ON p.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN protoid pr ON p.scan_type = pr.name)
    SELECT CAST(('0x' || substr(md5('proc:' || node || ':' || candidate),
                 1, 15)) AS BIGINT) AS file_id,
           CAST(node AS BIGINT) AS node_id, param_name, param_value
    FROM resolved,
         LATERAL (VALUES
           ('source_file_id', CAST(source_file_id AS VARCHAR)),
           ('n_inputs', CAST(n_inputs AS VARCHAR)),
           ('candidate', candidate),
           ('visit_label', visit_label),
           ('scan_type', scan_type),
           ('protocol_id', CAST(protocol_id AS VARCHAR)),
           ('coordinate_space', coordinate_space))
           AS t(param_name, param_value)
"""


@query("pipeline_processed_registration", oracle=_PROC_REG_ORACLE)
def pipeline_processed_registration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Processed-data registration (register_processed_data.pl:1-682) as
    ONE composed DAG — the flow the reference runs one OS process per
    file:

    1. TRAVERSE (J9 machinery, operators/traverse.py
       pointer_doubling_roots — log-depth self-joins in one plan): each
       processed file's derivation chain is walked to its ROOT
       (getSessionID/getScannerID resolve session + scanner FROM the
       source file, register_processed_data.pl:398-477); the chain
       depth is the files_intermediary provenance fan-in
       (insert_intermedFiles, :634-668).
    2. Session/candidate resolution from the root's order/customer (the
       same star walk pipeline_nifti_insertion uses).
    3. GET-OR-CREATE (J10, operators/get_or_create.py): scan types map
       to protocol ids against a small existing registry; unseen types
       mint deterministic ids (getAcqProtID, :478-511 — the reference
       exits when the protocol is missing; the engine registers it).
    4. EAV REGISTRATION: the per-file metadata lands as parameter_file
       rows (file_id, param_name, param_value) — stack(), the J2 feed.

    Derivation model: lineitem linenumber n derives from n-1 within the
    order (the j9_transitive_closure edge shape); linenumber 1 is the
    raw source."""
    from loris_mri_spark.operators.get_or_create import get_or_create
    from loris_mri_spark.operators.traverse import pointer_doubling_roots

    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") < 3000
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")

    node = (F.col("l_orderkey") * 10 + F.col("l_linenumber")).cast("long")
    # duplicate-scan suppression first (the testdata carries duplicate
    # (orderkey, linenumber) rows, the same keep-first rule §3.2 applies)
    nodes = li.select(
        node.alias("node_id"),
        F.when(F.col("l_linenumber") > 1, node - 1).alias("parent_id"),
        "l_orderkey",
        "l_linenumber",
    ).distinct()
    # 1. provenance walk: root ancestor (= SourceFileID) + fan-in count
    # by pointer doubling — log-depth self-joins in ONE Catalyst plan
    # (no per-round driver loop), the shape that survives a corpus-sized
    # provenance table at 100 TB.
    prov = pointer_doubling_roots(nodes, "node_id", "parent_id").select(
        "node_id",
        F.col("root_id").alias("source_file_id"),
        F.col("depth").alias("n_inputs"),
    )
    proc = nodes.filter(F.col("l_linenumber") > 1).join(prov, "node_id")

    # 3. protocol get-or-create against the small existing registry
    scan_type = (
        F.when(F.col("l_linenumber") % 4 == 2, "QCedDTI")
        .when(F.col("l_linenumber") % 4 == 3, "RGBqc")
        .when(F.col("l_linenumber") % 4 == 0, "TxtQCReport")
        .otherwise("XMLQCReport")
    )
    proc = proc.withColumn("scan_type", scan_type).withColumn(
        "coordinate_space",
        F.when(F.col("l_linenumber") % 2 == 0, "native").otherwise("linear"),
    )
    existing = spark.createDataFrame(
        [("QCedDTI", 1001), ("RGBqc", 1002)], ["name", "id"]
    )
    protoid = get_or_create(
        proc.select(F.col("scan_type").alias("name")),
        existing,
        id_base=100,
    )

    # 2. session/candidate from the root's order/customer star walk
    resolved = (
        proc.join(o, proc.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(protoid),
            proc.scan_type == protoid.name,
        )
        .select(
            "node_id",
            "source_file_id",
            "n_inputs",
            "scan_type",
            "coordinate_space",
            F.col("c_custkey").cast("string").alias("candidate"),
            F.concat(F.lit("V"), F.col("c_custkey") % 3 + 1).alias(
                "visit_label"
            ),
            F.col("id").alias("protocol_id"),
        )
    )

    # 4. EAV registration rows (parameter_file shape)
    reg = resolved.select(
        md5_60(
            F.concat(F.lit("proc:"), F.col("node_id"), F.lit(":"),
                     F.col("candidate"))
        ).alias("file_id"),
        "node_id",
        F.expr(
            "stack(7,"
            " 'source_file_id', CAST(source_file_id AS STRING),"
            " 'n_inputs', CAST(n_inputs AS STRING),"
            " 'candidate', candidate,"
            " 'visit_label', visit_label,"
            " 'scan_type', scan_type,"
            " 'protocol_id', CAST(protocol_id AS STRING),"
            " 'coordinate_space', coordinate_space)"
            " AS (param_name, param_value)"
        ),
    )
    return reg


def _deface_oracle() -> str:
    return f"""
    WITH identified AS ({_J7_MATCH_SQL}),
    files AS (
      SELECT DISTINCT CAST(c.c_custkey AS VARCHAR) AS candidate,
             'V' || (c.c_custkey % 3 + 1) AS visit_label,
             i.l_orderkey * 10 + i.l_linenumber AS node,
             i.scan_type, i.l_linestatus
      FROM identified i
      JOIN orders o ON i.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE i.l_orderkey < 20000),
    to_deface AS (
      SELECT * FROM files
      WHERE scan_type IN ('ret_small', 'af_cheap')
         OR (scan_type = 'high_discount' AND l_linestatus = 'F')),
    already AS (
      SELECT DISTINCT candidate FROM files
      WHERE scan_type = 'premium' AND l_linestatus = 'F'),
    ref AS (
      SELECT candidate, MIN(node) AS ref_node FROM files
      WHERE scan_type = 'bulk' GROUP BY candidate),
    sessions AS (
      SELECT d.candidate, d.visit_label, r.ref_node,
             COUNT(*) AS n_files,
             string_agg(CAST(d.node AS VARCHAR), ',' ORDER BY d.node)
               AS files_csv
      FROM to_deface d
      JOIN ref r ON d.candidate = r.candidate
      WHERE d.candidate NOT IN (SELECT candidate FROM already)
      GROUP BY d.candidate, d.visit_label, r.ref_node)
    SELECT candidate, visit_label, CAST(ref_node AS BIGINT) AS ref_node,
           n_files, files_csv,
           'deface_minipipe.pl ' || ref_node || ' ' || files_csv AS cmd,
           CAST(('0x' || substr(md5('deface:' || candidate || ':'
                || files_csv), 1, 15)) AS BIGINT) AS output_id
    FROM sessions
    """


@query("pipeline_deface_batch", oracle=_deface_oracle())
def pipeline_deface_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Defacing batch planner (tools/run_defacing_script.pl:230-285,
    batch_run_pipeline_qc_face_script.pl) as ONE plan: select files of
    the deface modalities (grep_FileIDs_to_deface:320-366, including the
    special-modality extra filter the reference applies via the
    acquisition:image_type parameter), SKIP sessions already carrying a
    registered defaced output (check_if_deface_files_already_in_db — the
    J5 anti-join), pick each session's reference scan (grep_t1_ref_file,
    first file of the reference type — A9 first-of-group), and emit the
    per-session deface_minipipe.pl invocation + deterministic output id.
    The command execution itself is the S16 external-binary operator
    (operators/external.py run_external) — the binary is site-installed,
    so the engine plans the batch; multi-contrast grouping
    (deface_session:552-580) collapses into the same per-session file
    list."""
    ident = _identified_lineitems(spark, sf_dir).filter(
        F.col("l_orderkey") < 20000
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    files = (
        ident.join(o, ident.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            F.col("c_custkey").cast("string").alias("candidate"),
            F.concat(F.lit("V"), F.col("c_custkey") % 3 + 1).alias(
                "visit_label"
            ),
            (F.col("l_orderkey") * 10 + F.col("l_linenumber"))
            .cast("long")
            .alias("node"),
            "scan_type",
            "l_linestatus",
        )
        .distinct()
    )
    # ONE conditional-aggregation pass instead of three filtered re-joins
    # of the same files frame (to_deface / already-defaced / reference
    # scan): per session, collect the deface list, the reference scan,
    # and the already-defaced flag in a single groupBy — one scan chain,
    # one shuffle, the 100 TB shape.
    deface_cond = F.col("scan_type").isin("ret_small", "af_cheap") | (
        (F.col("scan_type") == "high_discount")
        & (F.col("l_linestatus") == "F")
    )
    sessions = (
        files.groupBy("candidate", "visit_label")
        .agg(
            F.min(
                F.when(F.col("scan_type") == "bulk", F.col("node"))
            ).alias("ref_node"),
            F.max(
                ((F.col("scan_type") == "premium")
                 & (F.col("l_linestatus") == "F")).cast("int")
            ).alias("already"),
            F.count_if(deface_cond).alias("n_files"),
            F.array_join(
                F.sort_array(
                    F.collect_list(F.when(deface_cond, F.col("node")))
                ),
                ",",
            ).alias("files_csv"),
        )
        .filter(
            (F.col("already") == 0)
            & F.col("ref_node").isNotNull()
            & (F.col("n_files") > 0)
        )
        .drop("already")
    )
    return sessions.select(
        "candidate",
        "visit_label",
        "ref_node",
        "n_files",
        "files_csv",
        F.concat(
            F.lit("deface_minipipe.pl "), F.col("ref_node"), F.lit(" "),
            F.col("files_csv"),
        ).alias("cmd"),
        md5_60(
            F.concat(F.lit("deface:"), F.col("candidate"), F.lit(":"),
                     F.col("files_csv"))
        ).alias("output_id"),
    )


# -- MINC -> BIDS exporter manifest (tools/minc_to_bids_converter.pl) ------
#
# The declarative core of the 2,049-line converter: which BIDS path every
# registered file lands at, with what run/echo entities, and the
# participants/scans bookkeeping values. The file-content steps around it
# are already-built engine pieces (mnc2nii = S16 external-binary, JSON
# sidecar = S17, bval/bvec = dwi_bval_bvec, minc headers = S5); this query
# is the driver manifest a distributed exporter fans out from.

_BIDS_REL_ROWS = [
    # (loris scan type, category, subcategory, bids scan type, echo_nb)
    ("t1w", "anat", None, "T1w", None),
    ("t2w", "anat", "acq-highres_rec-norm", "T2w", 2),
    ("rest-fmri", "func", "task-rest", "bold", None),
    ("dwi65", "dwi", None, "dwi", None),
    ("fieldmap-phasediff", "fmap", None, "phasediff", None),
    ("gre-magnitude", "fmap", None, "magnitude", None),
]

# BIDS entity assembly order (minc_to_bids_converter.pl:91-107); sub/ses
# handled explicitly, run/echo have dedicated sources, the rest come from
# the BIDSScanTypeSubCategory key-value string.
_BIDS_ENTITIES = [
    "task", "acq", "ce", "rec", "dir", "run", "mod", "echo",
    "flip", "inv", "mt", "part", "recording",
]

_M2B_REL_SQL = " UNION ALL ".join(
    "SELECT '{}' AS scan_type_rel, '{}' AS bids_category, {} AS subcat, "
    "'{}' AS bids_scan_type, {} AS rel_echo_nb".format(
        st, cat, f"'{sub}'" if sub else "CAST(NULL AS VARCHAR)", bt,
        echo if echo is not None else "CAST(NULL AS INTEGER)",
    )
    for st, cat, sub, bt, echo in _BIDS_REL_ROWS
)

_M2B_ORACLE = f"""
    WITH rel AS ({_M2B_REL_SQL}),
    dedup AS (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY l_orderkey, l_linenumber
               ORDER BY l_quantity, l_extendedprice, l_discount) AS __rn
      FROM lineitem WHERE l_orderkey < 4000),
    files AS (
      SELECT d.l_orderkey, d.l_linenumber, d.l_returnflag,
             o.o_orderdate, c.c_custkey,
             CASE WHEN d.l_linenumber % 7 = 0 AND d.l_returnflag = 'R'
                  THEN 't1w-defaced'
                  ELSE CASE d.l_linenumber % 7
                    WHEN 0 THEN 't1w' WHEN 1 THEN 't2w'
                    WHEN 2 THEN 'rest-fmri' WHEN 3 THEN 'dwi65'
                    WHEN 4 THEN 'fieldmap-phasediff'
                    WHEN 5 THEN 'gre-magnitude'
                    ELSE 'unknown-spectro' END END AS loris_scan_type,
             d.l_linenumber AS series_number,
             CAST(c.c_custkey AS VARCHAR) AS candidate,
             'V_' || (d.l_orderkey % 3 + 1) AS visit_label,
             DATE '1920-01-01' + CAST(c.c_custkey % 18250 AS INTEGER) AS dob
      FROM dedup d
      JOIN orders o ON d.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE d.__rn = 1),
    runs AS (
      SELECT *,
             '00' || ROW_NUMBER() OVER (
               PARTITION BY l_orderkey,
                            regexp_replace(loris_scan_type, '-defaced$', '')
               ORDER BY series_number, l_linenumber) AS run_label
      FROM files),
    joined AS (
      SELECT r.*, rel.bids_category, rel.subcat, rel.bids_scan_type,
             rel.rel_echo_nb,
             replace(r.visit_label, '_', '') AS ses,
             NULLIF(regexp_extract(rel.subcat, 'task-([^_]+)', 1), '') AS e_task,
             NULLIF(regexp_extract(rel.subcat, 'acq-([^_]+)', 1), '') AS e_acq,
             NULLIF(regexp_extract(rel.subcat, 'rec-([^_]+)', 1), '') AS e_rec
      FROM runs r
      JOIN rel ON rel.scan_type_rel =
           regexp_replace(r.loris_scan_type, '-defaced$', '')
      WHERE rel.bids_scan_type NOT LIKE '%magnitude%'),
    named AS (
      SELECT *,
             'sub-' || candidate || '_ses-' || ses
             || COALESCE('_task-' || e_task, '')
             || COALESCE('_acq-' || e_acq, '')
             || COALESCE('_rec-' || e_rec, '')
             || '_run-' || run_label
             || COALESCE('_echo-' || CAST(rel_echo_nb AS VARCHAR), '')
             || '_' || bids_scan_type || '.nii' AS nifti_name,
             'sub-' || candidate || '/ses-' || ses || '/' || bids_category
               AS scan_dir
      FROM joined)
    SELECT CAST(('0x' || substr(md5('bids:' || l_orderkey || ':'
                 || l_linenumber || ':' || candidate), 1, 15)) AS BIGINT)
             AS file_id,
           candidate, visit_label, bids_category,
           nifti_name || '.gz' AS nii_file_name,
           scan_dir || '/' || nifti_name || '.gz' AS nii_file_path,
           scan_dir || '/' || replace(nifti_name, '.nii', '.json')
             AS json_file_path,
           bids_category || '/' || nifti_name || '.gz' AS scans_tsv_entry,
           CAST((YEAR(o_orderdate) - YEAR(dob)) * 12
                + (MONTH(o_orderdate) - MONTH(dob))
                - CASE WHEN DAY(o_orderdate) < DAY(dob) THEN 1 ELSE 0 END
                AS BIGINT) AS age_months
    FROM named
"""


@query("pipeline_minc_to_bids", oracle=_M2B_ORACLE)
def pipeline_minc_to_bids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MINC -> BIDS export manifest (tools/minc_to_bids_converter.pl).

    One declarative plan over the star schema computes what the reference
    derives file-by-file over DBI calls:

    - duplicate-scan suppression, then session/candidate star walk (the
      §3.2 shape);
    - RUN NUMBERS (:529-569 determine_run_number): per (tarchive, scan
      type with '-defaced' stripped), rank by seriesNumber; the label is
      the reference's literal "00" . rank concat (so run 10 is '0010');
      the reference's tiebreak is Perl hash order — the engine refines it
      to a deterministic (series_number, linenumber) sort;
    - BIDS lookup (:729-760): broadcast bids_mri_scan_type_rel dim; scan
      types absent from the table are skipped (:624-628), magnitude types
      are skipped (their files are emitted by the phasediff flow,
      :640-642);
    - FILENAME assembly (:814-884): entities in @BIDS_MRI_ENTITY_ORDER —
      sub-<candID>, ses-<visit with '_' stripped>, entities parsed from
      BIDSScanTypeSubCategory ('task-rest_acq-...'), run, echo from
      BIDSEchoNumber, then _<BIDSScanType>.nii;
    - per-file paths: scan dir sub-X/ses-Y/<category> (:1140-1156), JSON
      sidecar path (.nii -> .json, :1173-1185), scans.tsv filename entry
      (path relative to the session dir, .nii.gz, :1027-1067);
    - AGE at acquisition (:1118-1139): MySQL TIMESTAMPDIFF(MONTH)
      semantics — full months between DoB and visit date, computed with
      explicit year/month/day integer arithmetic so Spark and the oracle
      agree bit-exactly.

    The file-content steps are the already-built pieces (S16 mnc2nii,
    S17 JSON, dwi_bval_bvec, S5 headers); this manifest is what a
    1000-executor exporter fans out from — small broadcast dim, one
    window over (tarchive, type), no shuffle beyond the star joins."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") < 4000
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")

    dedup = li.withColumn(
        "__rn",
        F.row_number().over(
            Window.partitionBy("l_orderkey", "l_linenumber").orderBy(
                "l_quantity", "l_extendedprice", "l_discount"
            )
        ),
    ).filter(F.col("__rn") == 1)

    ln = F.col("l_linenumber")
    scan_type = F.when(
        (ln % 7 == 0) & (F.col("l_returnflag") == "R"), "t1w-defaced"
    ).otherwise(
        F.when(ln % 7 == 0, "t1w")
        .when(ln % 7 == 1, "t2w")
        .when(ln % 7 == 2, "rest-fmri")
        .when(ln % 7 == 3, "dwi65")
        .when(ln % 7 == 4, "fieldmap-phasediff")
        .when(ln % 7 == 5, "gre-magnitude")
        .otherwise("unknown-spectro")
    )
    files = (
        dedup.join(o, dedup.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "l_orderkey",
            "l_linenumber",
            "o_orderdate",
            scan_type.alias("loris_scan_type"),
            ln.alias("series_number"),
            F.col("c_custkey").cast("string").alias("candidate"),
            F.concat(F.lit("V_"), F.col("l_orderkey") % 3 + 1).alias(
                "visit_label"
            ),
            F.date_add(
                F.lit("1920-01-01").cast("date"),
                (F.col("c_custkey") % 18250).cast("int"),
            ).alias("dob"),
        )
    )
    base_type = F.regexp_replace("loris_scan_type", r"-defaced$", "")
    runs = files.withColumn(
        "run_label",
        F.concat(
            F.lit("00"),
            F.row_number().over(
                Window.partitionBy(F.col("l_orderkey"), base_type).orderBy(
                    "series_number", "l_linenumber"
                )
            ),
        ),
    )

    rel = spark.createDataFrame(
        _BIDS_REL_ROWS,
        "scan_type_rel string, bids_category string, subcat string, "
        "bids_scan_type string, rel_echo_nb int",
    )
    joined = runs.join(
        F.broadcast(rel),
        base_type == rel.scan_type_rel,
    ).filter(~F.col("bids_scan_type").contains("magnitude"))

    ses = F.regexp_replace("visit_label", "_", "")
    ent = F.expr("str_to_map(subcat, '_', '-')")
    joined = joined.withColumn("_ent", ent).withColumn("_ses", ses)

    def entity_val(name: str) -> F.Column:
        src = F.col("_ent").getItem(name)
        if name == "run":
            return F.coalesce(src, F.col("run_label"))
        if name == "echo":
            return F.coalesce(src, F.col("rel_echo_nb").cast("string"))
        return src

    parts = [
        F.concat(F.lit("sub-"), F.col("candidate")),
        F.concat(F.lit("_ses-"), F.col("_ses")),
    ]
    for e in _BIDS_ENTITIES:
        v = entity_val(e)
        parts.append(
            F.coalesce(F.concat(F.lit(f"_{e}-"), v), F.lit(""))
        )
    nifti_name = F.concat(
        *parts, F.lit("_"), F.col("bids_scan_type"), F.lit(".nii")
    )
    scan_dir = F.concat(
        F.lit("sub-"), F.col("candidate"),
        F.lit("/ses-"), F.col("_ses"),
        F.lit("/"), F.col("bids_category"),
    )
    named = joined.withColumn("nifti_name", nifti_name).withColumn(
        "scan_dir", scan_dir
    )

    v, d = F.col("o_orderdate"), F.col("dob")
    age_months = (
        (F.year(v) - F.year(d)) * 12
        + (F.month(v) - F.month(d))
        - F.when(F.dayofmonth(v) < F.dayofmonth(d), 1).otherwise(0)
    )
    return named.select(
        md5_60(
            F.concat(
                F.lit("bids:"), F.col("l_orderkey"), F.lit(":"),
                F.col("l_linenumber"), F.lit(":"), F.col("candidate"),
            )
        ).alias("file_id"),
        "candidate",
        "visit_label",
        "bids_category",
        F.concat(F.col("nifti_name"), F.lit(".gz")).alias("nii_file_name"),
        F.concat(
            F.col("scan_dir"), F.lit("/"), F.col("nifti_name"), F.lit(".gz")
        ).alias("nii_file_path"),
        F.concat(
            F.col("scan_dir"), F.lit("/"),
            F.regexp_replace("nifti_name", r"\.nii", ".json"),
        ).alias("json_file_path"),
        F.concat(
            F.col("bids_category"), F.lit("/"), F.col("nifti_name"),
            F.lit(".gz"),
        ).alias("scans_tsv_entry"),
        age_months.cast("long").alias("age_months"),
    )


_SNR_ACQ_ORACLE = f"""
    WITH identified AS ({_J7_MATCH_SQL}),
    files AS (
      SELECT l_orderkey AS tarchive,
             l_orderkey * 10 + l_linenumber AS node,
             l_linenumber AS series_number,
             scan_type,
             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents,
             CAST(l_quantity AS BIGINT) AS q,
             l_returnflag,
             ROW_NUMBER() OVER (
               PARTITION BY l_orderkey * 10 + l_linenumber
               ORDER BY scan_type,
                        CAST(ROUND(l_extendedprice * 100) AS BIGINT),
                        CAST(l_quantity AS BIGINT),
                        l_returnflag, l_linestatus
             ) AS dup_rank
      FROM identified
      WHERE l_orderkey < 10000),
    deduped AS (SELECT * FROM files WHERE dup_rank = 1),
    ordered AS (
      SELECT tarchive, node, series_number, scan_type, cents, q,
             l_returnflag,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY tarchive, scan_type
               ORDER BY series_number, node) AS BIGINT) AS acq_order
      FROM deduped),
    scored AS (
      SELECT *,
             CASE WHEN scan_type IN ('ret_small', 'bulk')
                  THEN (cents * 1000) // (q + 1) END AS snr_raw
      FROM ordered),
    with_old AS (
      SELECT *,
             CASE WHEN l_returnflag = 'R'
                  THEN snr_raw + (node % 7) - 3 END AS old_snr
      FROM scored)
    SELECT tarchive, node, scan_type, acq_order,
           CAST(snr_raw AS BIGINT) AS snr_milli,
           CASE WHEN snr_raw IS NULL THEN 'not_supported'
                WHEN old_snr IS NULL THEN 'inserted'
                WHEN old_snr = snr_raw THEN 'unchanged'
                ELSE 'updated' END AS status,
           CASE WHEN old_snr IS NOT NULL AND old_snr <> snr_raw
                THEN 'The SNR value was updated from ' || old_snr ||
                     ' to ' || snr_raw || '.' END AS message
    FROM with_old
"""


@query("pipeline_snr_acqorder", oracle=_SNR_ACQ_ORACLE)
def pipeline_snr_acqorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SNR + acquisition-order backpopulation
    (tools/BackPopulateSNRAndAcquisitionOrder.pl:175-210) as ONE plan.

    The reference walks every tarchive and, per file, (a) assigns
    AcqOrderPerModality by sorting each (tarchive, modality) family on
    series_number (MRIProcessingUtility.pm:2209-2266 orderModalitiesByAcq
    — its Perl sort leaves series_number ties in fetch order; here ties
    break deterministically on the file node id), and (b) computes SNR
    only for the configured compute_snr_modalities
    (MRIProcessingUtility.pm:2136-2197 computeSNR), writing the 'SNR'
    parameter row and spooling an update notification when a stored SNR
    changed, or a 'modality not supported' notification otherwise.

    Engine shape: duplicate-scan suppression (keep-first over the
    duplicate (orderkey, linenumber) rows the testdata carries) -> the
    per-modality acq-order window -> gated integer-exact SNR (bigint
    milli-units, portable truncating division) -> one conditional
    projection for inserted/updated/unchanged/not_supported. Two
    exchanges total (the dedup window and the acq-order window); the SNR
    math itself is the S4 voxel-stats path on real volumes
    (sources/nifti.py nifti_voxel_stats) — modeled here as a column
    expression so the composition is hash-checkable."""
    ident = _identified_lineitems(spark, sf_dir).filter(
        F.col("l_orderkey") < 10000
    )
    node = (F.col("l_orderkey") * 10 + F.col("l_linenumber")).cast("long")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    files = ident.select(
        F.col("l_orderkey").alias("tarchive"),
        node.alias("node"),
        F.col("l_linenumber").alias("series_number"),
        "scan_type",
        cents.alias("cents"),
        F.col("l_quantity").cast("long").alias("q"),
        "l_returnflag",
        "l_linestatus",
    )
    dup_w = Window.partitionBy("node").orderBy(
        "scan_type", "cents", "q", "l_returnflag", "l_linestatus"
    )
    deduped = (
        files.withColumn("dup_rank", F.row_number().over(dup_w))
        .filter(F.col("dup_rank") == 1)
        .drop("dup_rank", "l_linestatus")
    )
    acq_w = Window.partitionBy("tarchive", "scan_type").orderBy(
        "series_number", "node"
    )
    ordered = deduped.withColumn(
        "acq_order", F.row_number().over(acq_w).cast("long")
    )
    snr = F.when(
        F.col("scan_type").isin("ret_small", "bulk"),
        F.expr("(cents * 1000) DIV (q + 1)"),
    )
    scored = ordered.withColumn("snr_raw", snr).withColumn(
        "old_snr",
        F.when(
            F.col("l_returnflag") == "R",
            F.col("snr_raw") + F.col("node") % 7 - 3,
        ),
    )
    return scored.select(
        "tarchive",
        "node",
        "scan_type",
        "acq_order",
        F.col("snr_raw").cast("long").alias("snr_milli"),
        F.when(F.col("snr_raw").isNull(), "not_supported")
        .when(F.col("old_snr").isNull(), "inserted")
        .when(F.col("old_snr") == F.col("snr_raw"), "unchanged")
        .otherwise("updated")
        .alias("status"),
        F.when(
            F.col("old_snr").isNotNull()
            & (F.col("old_snr") != F.col("snr_raw")),
            F.concat(
                F.lit("The SNR value was updated from "),
                F.col("old_snr"),
                F.lit(" to "),
                F.col("snr_raw"),
                F.lit("."),
            ),
        ).alias("message"),
    )


# -- Face-QC batch runner (tools/batch_run_pipeline_qc_face_script.pl) -----

def _qc_face_oracle() -> str:
    return f"""
    WITH plan AS ({_deface_oracle()}),
    per_file AS (
      SELECT p.candidate, p.visit_label,
             CAST(t.node AS BIGINT) AS node
      FROM plan p, UNNEST(string_split(p.files_csv, ',')) AS t(node)),
    numbered AS (
      SELECT candidate, visit_label, node,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY candidate, visit_label ORDER BY node)
               AS BIGINT) AS counter,
             '/data/project/assembly/' || candidate || '/' || visit_label
               || '/mri/processed/MINC_deface/scan_' || node || '.mnc'
               AS file_in,
             '/qc/out/scan_' || node || '.jpg' AS file_out
      FROM per_file),
    cmds AS (
      SELECT *,
             'pipeline_qc_face.pl '
               || regexp_replace(file_in, '([^A-Za-z0-9_])', '\\\\\\1', 'g')
               || ' '
               || regexp_replace(file_out, '([^A-Za-z0-9_])', '\\\\\\1', 'g')
               AS cmd
      FROM numbered)
    SELECT candidate, visit_label, counter, file_in, file_out,
           '/data/batch_output/defaceqcstdout.log_' || candidate || '_'
             || visit_label || '_' || counter AS stdout_log,
           '/data/batch_output/defaceqcstderr.log_' || candidate || '_'
             || visit_label || '_' || counter AS stderr_log,
           cmd,
           CASE WHEN node % 13 = 0 THEN 'violation: input unavailable'
                ELSE 'ran' END AS status,
           CASE WHEN node % 13 = 0 THEN NULL ELSE md5(cmd) END AS cmd_md5
    FROM cmds
    """


@query("pipeline_qc_face_batch", oracle=_qc_face_oracle())
def pipeline_qc_face_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Face-QC batch runner (tools/batch_run_pipeline_qc_face_script.pl:
    178-205 composed with tools/run_defacing_script.pl's planner): every
    file the deface planner selected fans out to one
    ``pipeline_qc_face.pl <in> <out>`` invocation — per-file jpg target
    (``basename(file, '.mnc') . '.jpg'``), numbered stdout/stderr batch
    logs, Perl ``quotemeta`` escaping of both paths — and each row runs
    through the S16 external-binary operator with the per-row
    failure -> violation mapping (a missing/unreadable input classifies,
    never kills the batch; the reference leaves that to qsub logs).

    Engine refinements over the reference loop: the log counter is
    per-session (row_number within candidate/visit; the log name carries
    candidate AND visit_label, so candidate+visit+counter is collision-free
    across a candidate's visits) instead of the
    reference's single global ``$counter++`` — no global-order window,
    so the plan scales past one driver; and the stand-in binary is
    ``md5sum`` (universally present), making stdout deterministic for
    the oracle while exercising the real temp-file + subprocess path.
    The external step uses the BATCHED S16 variant (one subprocess per
    Arrow chunk — md5sum accepts many files and emits one line per
    file): per-row spawn dominated this query at sf0.1 (~5.3k
    fork+execs, 11 s warm -> ~1 s batched), and amortizing spawn across
    the batch is exactly what a 1000-executor run needs too."""
    from loris_mri_spark.operators.external import run_external_batched

    plan = pipeline_deface_batch(spark, sf_dir)
    per_file = plan.select(
        "candidate",
        "visit_label",
        F.explode(F.split("files_csv", ",")).alias("node_s"),
    ).select(
        "candidate", "visit_label", F.col("node_s").cast("long").alias("node")
    )
    w = Window.partitionBy("candidate", "visit_label").orderBy("node")
    quotemeta = lambda c: F.regexp_replace(c, "([^A-Za-z0-9_])", r"\\$1")  # noqa: E731
    numbered = per_file.select(
        "candidate",
        "visit_label",
        "node",
        F.row_number().over(w).cast("long").alias("counter"),
        F.concat(
            F.lit("/data/project/assembly/"), F.col("candidate"), F.lit("/"),
            F.col("visit_label"),
            F.lit("/mri/processed/MINC_deface/scan_"), F.col("node"),
            F.lit(".mnc"),
        ).alias("file_in"),
        F.concat(
            F.lit("/qc/out/scan_"), F.col("node"), F.lit(".jpg")
        ).alias("file_out"),
    )
    cmds = numbered.withColumn(
        "cmd",
        F.concat(
            F.lit("pipeline_qc_face.pl "), quotemeta(F.col("file_in")),
            F.lit(" "), quotemeta(F.col("file_out")),
        ),
    ).withColumn(
        "content",
        F.when(F.col("node") % 13 == 0, F.lit(None).cast("binary"))
        .otherwise(F.encode(F.col("cmd"), "UTF-8")),
    )
    ran = run_external_batched(
        cmds,
        ["md5sum", "{inputs}"],
        content_col="content",
        passthrough_cols=[
            "candidate", "visit_label", "counter", "file_in", "file_out",
            "cmd",
        ],
    )
    log = lambda kind: F.concat(  # noqa: E731
        F.lit(f"/data/batch_output/defaceqc{kind}.log_"),
        F.col("candidate"), F.lit("_"), F.col("visit_label"),
        F.lit("_"), F.col("counter"),
    )
    return ran.select(
        "candidate",
        "visit_label",
        "counter",
        "file_in",
        "file_out",
        log("stdout").alias("stdout_log"),
        log("stderr").alias("stderr_log"),
        "cmd",
        F.when(F.col("exit_code") == 0, F.lit("ran"))
        .when(F.col("exit_code") == -2, F.lit("violation: input unavailable"))
        .otherwise(F.lit("violation: tool failure"))
        .alias("status"),
        F.when(
            F.col("exit_code") == 0, F.split(F.col("stdout"), " ").getItem(0)
        ).alias("cmd_md5"),
    )


# -- HRRT PET insertion (uploadNeuroDB/HRRT_PET_insertion.pl) --------------

def hrrt_is_ecat(file_col: str = "file") -> F.Column:
    """grep_ecat_files_only (HRRT.pm:169-187): ``*.v`` case-insensitively,
    minus the BIC ``test*`` calibration files."""
    return hrrt_is_v(file_col) & ~F.lower(F.col(file_col)).startswith("test")


def hrrt_is_v(file_col: str = "file") -> F.Column:
    """An ECAT-extension file — the NonEcatFileCount complement: a BIC
    test*.v is skipped as an ECAT but is NOT a non-ECAT file either."""
    return F.lower(F.col(file_col)).endswith(".v")


def hrrt_mint_minc(file_col: str = "file") -> F.Column:
    """ecat2minc naming: strip the .v extension (case-insensitive, like
    the selection) and append .mnc."""
    return F.regexp_replace(file_col, r"(?i)\.v$", ".mnc")


def _hrrt_oracle() -> "str | None":
    """Golden VALUES oracle computed INDEPENDENTLY of the Spark path at
    import time: plain-Python replication of HRRT.pm's rules (blake2b via
    hashlib, matlab ``key = value;`` split, study info from the first
    sorted ECAT) over the byte-stable committed fixtures — the same
    pattern as the other S1-S7 fixture goldens."""
    import hashlib
    import os
    from datetime import datetime, timezone

    fdir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.dirname(__file__))),
        "tests", "fixtures", "ecat",
    )
    if not os.path.isdir(fdir):
        return None
    names = sorted(os.listdir(fdir))
    ecats = [n for n in names if n.lower().endswith(".v")
             and not n.lower().startswith("test")]
    others = [n for n in names if not n.lower().endswith(".v")]

    def md5_60_py(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    # study info from the FIRST sorted ECAT (s6's pinned header values)
    first_header = {"patient_name": "SUB001", "system_type": "328",
                    "scan_start_time": 1325430000}
    day = datetime.fromtimestamp(
        first_header["scan_start_time"], tz=timezone.utc
    ).strftime("%Y-%m-%d")

    rows: list[tuple[str, str, str, str]] = []
    rows += [
        ("archive", "hrrt_archive", "PatientName", first_header["patient_name"]),
        ("archive", "hrrt_archive", "CenterName", "BIC-MNI_MCGILL"),
        ("archive", "hrrt_archive", "DateAcquired", day),
        ("archive", "hrrt_archive", "EcatFileCount", str(len(ecats))),
        ("archive", "hrrt_archive", "NonEcatFileCount", str(len(others))),
        ("archive", "hrrt_archive", "Manufacturer", "Siemens"),
        ("archive", "hrrt_archive", "ScannerModel", "HRRT"),
        ("archive", "hrrt_archive", "SystemType", first_header["system_type"]),
    ]
    matlab: list[tuple[str, str]] = []
    for n in others:
        if not n.endswith(".m"):
            continue
        with open(os.path.join(fdir, n)) as fh:
            for line in fh.read().splitlines():
                if " = " not in line:
                    continue
                key, val = line.split(" = ", 1)
                # the exact HRRT.pm:read_matlab_file cleanup the engine's
                # parse_matlab_sidecar implements: CR strip, ';' strip,
                # CR again; keys stripped, empty keys skipped
                key = key.strip()
                if not key:
                    continue
                matlab.append(
                    (key, val.rstrip("\r").rstrip(";").rstrip("\r"))
                )
    session_id = ""
    for n in ecats:
        with open(os.path.join(fdir, n), "rb") as fh:
            b2b = hashlib.blake2b(fh.read(), digest_size=32).hexdigest()
        minc = n[:-2] + ".mnc"
        scan_type = "PETfdg" if "fdg" in n.lower() else "unknown"
        rows += [
            ("archive_file", n, "Blake2bHash", b2b),
            ("file", minc, "scan_type", scan_type),
            ("file", minc, "file_id", str(md5_60_py("hrrt:" + minc))),
            ("file", minc, "status", "inserted"),
        ]
        rows += [("minc_header", minc, "matlab_param:" + k, v)
                 for k, v in matlab]
        session_id = str(md5_60_py("sess:" + first_header["patient_name"]))
    rows += [
        ("upload", "mri_upload", "InsertionComplete", "1"),
        ("upload", "mri_upload", "number_of_mincCreated", str(len(ecats))),
        ("upload", "mri_upload", "number_of_mincInserted", str(len(ecats))),
        ("upload", "mri_upload", "SessionID", session_id),
    ]

    def q(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    vals = ", ".join(
        f"({q(k)}, {q(e)}, {q(n)}, {q(v)})" for k, e, n, v in rows
    )
    return (
        "SELECT * FROM (VALUES " + vals + ") AS t(kind, entity, name, value)"
    )


@query("pipeline_hrrt_insertion", oracle=_hrrt_oracle())
def pipeline_hrrt_insertion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HRRT PET insertion (uploadNeuroDB/HRRT_PET_insertion.pl:300-480,
    NeuroDB/HRRT.pm:125-420) as ONE composed DAG over the real ECAT
    source: ECAT selection (``*.v``, BIC ``test*`` exclusion —
    grep_ecat_files_only), study info from the first sorted file
    (determine_study_info: acquisition date from scan_start_time,
    hardcoded Siemens/HRRT scanner, BIC facility overwrite), the Matlab
    sidecar's parameters appended to every converted MINC's header
    (insertBicMatlabHeader), protocol resolution
    (Settings::determineHRRTprotocol on the basename), per-file blake2b
    for hrrt_archive_files, and the archive / upload bookkeeping rows
    (insert_hrrt_tables, updateHrrtUploadInfo). The reference runs one
    ``lmhdr``+``ecat2minc`` subprocess pair per file and row-by-row
    INSERTs; here every stage is a DataFrame over the Arrow-batched ECAT
    parser, the tiny sidecar/study frames are broadcast, and the blake2b
    chunked mapInPandas pass is the one (documented) Python hop — a
    metadata-pruned scan feeding 8 MiB streamed reads, so no whole-file
    `content` column ever crosses Arrow. Output: long
    (kind, entity, name, value) registration rows — the EAV shape the
    parameter_file sink consumes."""
    import os

    from loris_mri_spark.sources.minc_ecat import (
        read_ecat_headers,
        read_ecat_sidecars,
    )

    fdir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.dirname(__file__))),
        "tests", "fixtures", "ecat",
    )
    base = F.element_at(F.split("path", "/"), -1)

    heads = (
        read_ecat_headers(spark, fdir)
        .filter(F.col("is_readable"))
        .withColumn("file", base)
        .filter(hrrt_is_ecat())
    )

    # determine_study_info: FIRST sorted ECAT drives the study row
    first = heads.orderBy("file").limit(1).select(
        "patient_name",
        F.col("system_type").cast("string").alias("system_type"),
        "scan_start_time",
        # date arithmetic in pure UTC day units — no session-TZ dependence
        F.date_add(
            F.lit("1970-01-01").cast("date"),
            F.floor(F.col("scan_start_time") / 86400).cast("int"),
        ).cast("string").alias("date_acquired"),
    )

    all_files = (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", "true")
        .load(fdir)
        .select(base.alias("file"), "path")
    )
    ecat_files = all_files.filter(hrrt_is_ecat())
    # file counts as a 1-row aggregate crossJoined in (the repo's 1-row
    # assembly pattern), not eager driver-side .count() actions — the
    # plan stays lazy and single-job. A BIC test*.v file belongs to
    # NEITHER count: it is excluded from the ECAT list (grep_ecat_files_
    # only) but still ends in .v, so it is not a non-ECAT file either.
    counts = all_files.agg(
        F.sum(hrrt_is_ecat().cast("int")).cast("string").alias("n_ecat"),
        F.sum((~hrrt_is_v()).cast("int")).cast("string").alias("n_other"),
    )
    first = first.crossJoin(F.broadcast(counts))

    archive = first.select(
        F.explode(
            F.array(
                F.struct(F.lit("PatientName").alias("name"),
                         F.col("patient_name").alias("value")),
                F.struct(F.lit("CenterName").alias("name"),
                         F.lit("BIC-MNI_MCGILL").alias("value")),
                F.struct(F.lit("DateAcquired").alias("name"),
                         F.col("date_acquired").alias("value")),
                F.struct(F.lit("EcatFileCount").alias("name"),
                         F.col("n_ecat").alias("value")),
                F.struct(F.lit("NonEcatFileCount").alias("name"),
                         F.col("n_other").alias("value")),
                F.struct(F.lit("Manufacturer").alias("name"),
                         F.lit("Siemens").alias("value")),
                F.struct(F.lit("ScannerModel").alias("name"),
                         F.lit("HRRT").alias("value")),
                F.struct(F.lit("SystemType").alias("name"),
                         F.col("system_type").alias("value")),
            )
        ).alias("nv")
    ).select(
        F.lit("archive").alias("kind"),
        F.lit("hrrt_archive").alias("entity"),
        F.col("nv.name").alias("name"),
        F.col("nv.value").alias("value"),
    )

    # chunked streaming hash (the _blake2b_stream_partition pattern, r13
    # VERDICT item 6): the scan above selects only (file, path) — no
    # `content` column ever crosses Arrow — and the hash streams each
    # ECAT file in 8 MiB blocks inside ONE mapInPandas pass, so a
    # multi-GB ECAT volume is never resident in a task (the old shape
    # pulled whole-file bytes through the JVM -> Arrow -> pandas_udf
    # boundary, the last whole-file Python hop in the repo). Same bytes,
    # same digest; only the transport changed. The listed ECAT files are
    # assumed immutable until hashed: one that vanished hashes to NULL.
    archive_files = ecat_files.select("file", "path").mapInPandas(
        _blake2b_stream_partition, schema="file string, b2b string"
    ).select(
        F.lit("archive_file").alias("kind"),
        F.col("file").alias("entity"),
        F.lit("Blake2bHash").alias("name"),
        F.col("b2b").alias("value"),
    )

    # ecat2minc + protocol resolution + registration per file ((?i):
    # selection accepted .V case-insensitively, so minting must too)
    minted = heads.select(
        hrrt_mint_minc().alias("minc"),
    ).withColumn(
        "scan_type",
        F.when(F.lower(F.col("minc")).rlike("fdg"), "PETfdg").otherwise(
            "unknown"
        ),
    ).withColumn(
        "file_id", md5_60(F.concat(F.lit("hrrt:"), F.col("minc"))).cast("string")
    )
    file_rows = minted.select(
        F.lit("file").alias("kind"),
        F.col("minc").alias("entity"),
        F.explode(
            F.array(
                F.struct(F.lit("scan_type").alias("name"),
                         F.col("scan_type").alias("value")),
                F.struct(F.lit("file_id").alias("name"),
                         F.col("file_id").alias("value")),
                F.struct(F.lit("status").alias("name"),
                         F.lit("inserted").alias("value")),
            )
        ).alias("nv"),
    ).select("kind", "entity", F.col("nv.name").alias("name"),
             F.col("nv.value").alias("value"))

    # insertBicMatlabHeader: every sidecar parameter onto every MINC header
    sidecar = read_ecat_sidecars(spark, fdir).select(
        F.concat(F.lit("matlab_param:"), F.col("key")).alias("name"),
        F.col("value_str").alias("value"),
    )
    minc_header = minted.select(F.col("minc").alias("entity")).join(
        F.broadcast(sidecar)
    ).select(
        F.lit("minc_header").alias("kind"), "entity", "name", "value"
    )

    session_id = md5_60(F.concat(F.lit("sess:"), F.col("patient_name"))).cast(
        "string"
    )
    upload = first.select(
        F.explode(
            F.array(
                F.struct(F.lit("InsertionComplete").alias("name"),
                         F.lit("1").alias("value")),
                F.struct(F.lit("number_of_mincCreated").alias("name"),
                         F.col("n_ecat").alias("value")),
                F.struct(F.lit("number_of_mincInserted").alias("name"),
                         F.col("n_ecat").alias("value")),
                F.struct(F.lit("SessionID").alias("name"),
                         session_id.alias("value")),
            )
        ).alias("nv")
    ).select(
        F.lit("upload").alias("kind"),
        F.lit("mri_upload").alias("entity"),
        F.col("nv.name").alias("name"),
        F.col("nv.value").alias("value"),
    )

    return archive.unionByName(archive_files).unionByName(
        file_rows
    ).unionByName(minc_header).unionByName(upload)


# -- Non-MINC file registration (uploadNeuroDB/imaging_non_minc_insertion.pl)

# ImagingFileTypes: the small dimension loadFileFromDisk resolves a file's
# type against (NeuroDB/File.pm:loadFileFromDisk via ImagingFileTypes; the
# insertion script requires the extension to exist there). Keyed on the
# lineitem returnflag+linestatus pair; ('R','O') is deliberately absent to
# model a file whose type is not registered.
_NONMINC_TYPE_DIM: list = [
    ("AF", ".nii"),
    ("AO", ".nii.gz"),
    ("NF", ".obj"),
    ("NO", ".txt"),
    ("RF", ".v"),
]

_MD5_60_SQL = "CAST(('0x' || substr(md5({e}), 1, 15)) AS BIGINT)"


def _non_minc_oracle() -> str:
    type_vals = ", ".join(f"('{m}', '{e}')" for m, e in _NONMINC_TYPE_DIM)
    fid = _MD5_60_SQL.format(
        e="'nonminc:' || file_name || ':' || candidate"
    )
    sid = _MD5_60_SQL.format(
        e="'sess:' || candidate || ':' || visit_label"
    )
    return f"""
    WITH identified AS ({_J7_MATCH_SQL}),
    numbered AS (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY l_orderkey, l_linenumber
               ORDER BY l_quantity, l_extendedprice, l_discount) AS __rn
      FROM identified WHERE l_orderkey < 2000),
    enrich AS (
      SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
             l_discount, MIN(l_suppkey) AS supp_key,
             MIN(l_partkey) AS part_key
      FROM lineitem WHERE l_orderkey < 2000
      GROUP BY 1, 2, 3, 4, 5),
    req AS (
      SELECT n.*, e.supp_key, e.part_key,
             o.o_orderstatus, o.o_orderdate, c.c_custkey,
             (s.s_acctbal >= 0) AS scanner_ok, s.s_suppkey AS scanner_id
      FROM numbered n
      JOIN enrich e USING (l_orderkey, l_linenumber, l_quantity,
                           l_extendedprice, l_discount)
      JOIN orders o ON n.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      LEFT JOIN supplier s ON e.supp_key = s.s_suppkey),
    typed AS (
      SELECT r.*, ft.ext
      FROM req r LEFT JOIN (VALUES {type_vals}) ft(flagstat, ext)
        ON r.l_returnflag || r.l_linestatus = ft.flagstat),
    classified AS (
      SELECT *,
        'scan_' || l_orderkey || '_' || l_linenumber
          || COALESCE(ext, '.dat') AS file_name,
        CAST(c_custkey AS VARCHAR) AS candidate,
        'V' || (c_custkey % 3 + 1) AS visit_label,
        CASE WHEN o_orderstatus = 'P' THEN 'invalid_upload'
             WHEN NOT COALESCE(scanner_ok, FALSE) THEN 'invalid_scanner'
             WHEN scan_type = 'unidentified' THEN 'unknown_protocol'
             WHEN ext IS NULL THEN 'unknown_file_type'
             WHEN __rn > 1 THEN 'file_not_unique'
             ELSE 'inserted' END AS status
      FROM typed),
    ins AS (SELECT * FROM classified WHERE status = 'inserted')
    SELECT 'file' AS kind, file_name AS entity, 'status' AS name,
           status AS value
    FROM classified
    UNION ALL SELECT 'file', file_name, 'file_id',
                     CAST({fid} AS VARCHAR) FROM ins
    UNION ALL SELECT 'file', file_name, 'session_id',
                     CAST({sid} AS VARCHAR) FROM ins
    UNION ALL SELECT 'file', file_name, 'scanner_id',
                     CAST(scanner_id AS VARCHAR) FROM ins
    UNION ALL SELECT 'file', file_name, 'scan_type', scan_type FROM ins
    UNION ALL SELECT 'file', file_name, 'output_type', 'native' FROM ins
    UNION ALL SELECT 'file', file_name, 'coordinate_space', 'native' FROM ins
    UNION ALL SELECT 'file', file_name, 'acquisition_date',
                     CAST(o_orderdate AS VARCHAR) FROM ins
    UNION ALL SELECT 'file', file_name, 'file_type', ext FROM ins
    UNION ALL
      SELECT 'parameter', i.file_name, 'md:' || m.k, m.v
      FROM ins i
      JOIN part p ON i.part_key = p.p_partkey,
      LATERAL (SELECT * FROM (VALUES
        ('slice_thickness', '2'),
        ('te', CAST(p.p_size AS VARCHAR)),
        ('tr', CAST(p.p_size * 100 AS VARCHAR))) AS t(k, v)) AS m
    """


@query("pipeline_non_minc_insertion", oracle=_non_minc_oracle())
def pipeline_non_minc_insertion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-MINC file registration
    (uploadNeuroDB/imaging_non_minc_insertion.pl:300-560) as ONE composed
    DAG — the script's per-file CLI invocation becomes a batch over the
    registration requests, and each of its ERROR EXITS becomes a row
    classification instead of a process abort:

      - upload-ID validation (the mri_upload SELECT, :295-305) ->
        ``invalid_upload`` when the order is still 'P'ending;
      - scanner validation (getScannerCandID, :318-327) -> LEFT join to
        the scanner dim; a scanner with no candidate (negative acctbal)
        classifies ``invalid_scanner``;
      - scan-type -> acquisition-protocol resolution
        (scan_type_text_to_id, :333-346) reuses the j7 inline rule
        matcher; 'unidentified' classifies ``unknown_protocol``;
      - file-type resolution (File.pm loadFileFromDisk against
        ImagingFileTypes, :360-365) -> broadcast extension dim; an
        unregistered extension classifies ``unknown_file_type``;
      - md5 uniqueness (computeMd5Hash, :480-495) -> keep-first over the
        scan key (the testdata's REAL duplicate lineitem rows); later
        copies classify ``file_not_unique``;
      - candidate/session resolution (determineSubjectID +
        getSessionInformation, :398-470) through the X1 session-config
        hook, with deterministic session ids;
      - the metadata JSON file (:377-390) is built per request, parsed
        with ``from_json`` and exploded into parameter_file EAV rows —
        the engine-side plumbing is a REAL JSON parse; the oracle emits
        the values directly, so a parse bug breaks parity.

    Surviving rows register (setFileData + registerScanIntoDB, :520-548)
    as long (kind, entity, name, value) EAV rows, same sink shape as
    pipeline_hrrt_insertion. The classification CASE follows the
    script's exit order exactly, so each request reports the FIRST
    failure it would have died on. Scale: every stage is a broadcast or
    key-local join over one scan of the request slice; the type dim and
    scanner dim are broadcast, and the EAV fan-out is a union of narrow
    projections of one shared plan."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    p = load_table(spark, sf_dir, "part")

    ident = _identified_lineitems(spark, sf_dir).filter(
        F.col("l_orderkey") < 2000
    )
    w = Window.partitionBy("l_orderkey", "l_linenumber").orderBy(
        "l_quantity", "l_extendedprice", "l_discount"
    )
    numbered = ident.withColumn("__rn", F.row_number().over(w))
    # the identification pass projects the scan key only; recover the
    # request's scanner/part refs by a key-local join back to the slice
    # (MIN() because the testdata's (orderkey, linenumber) is NOT unique)
    enrich_keys = [
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
        "l_discount",
    ]
    enrich = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") < 2000)
        .groupBy(*enrich_keys)
        .agg(
            F.min("l_suppkey").alias("supp_key"),
            F.min("l_partkey").alias("part_key"),
        )
    )
    numbered = numbered.join(enrich, enrich_keys)
    req = (
        numbered.join(o, numbered.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(
                s.select(
                    F.col("s_suppkey").alias("scanner_id"),
                    (F.col("s_acctbal") >= 0).alias("scanner_ok"),
                )
            ),
            F.col("supp_key") == F.col("scanner_id"),
            "left",
        )
    )
    ftypes = spark.createDataFrame(_NONMINC_TYPE_DIM, "flagstat string, ext string")
    typed = req.join(
        F.broadcast(ftypes),
        F.concat("l_returnflag", "l_linestatus") == F.col("flagstat"),
        "left",
    )
    classified = (
        typed.withColumn(
            "file_name",
            F.concat(
                F.lit("scan_"), "l_orderkey", F.lit("_"), "l_linenumber",
                F.coalesce("ext", F.lit(".dat")),
            ),
        )
        .withColumn(
            "patient_id",
            F.concat(
                F.lit("PRJ"), F.col("c_nationkey"), F.lit("_"),
                F.col("c_custkey"), F.lit("_V"), F.col("c_custkey") % 3 + 1,
            ),
        )
    )
    classified = resolve_session_config(
        classified, "patient_id", profile="default"
    ).withColumn(
        "status",
        F.when(F.col("o_orderstatus") == "P", "invalid_upload")
        .when(~F.coalesce("scanner_ok", F.lit(False)), "invalid_scanner")
        .when(F.col("scan_type") == "unidentified", "unknown_protocol")
        .when(F.col("ext").isNull(), "unknown_file_type")
        .when(F.col("__rn") > 1, "file_not_unique")
        .otherwise("inserted"),
    )
    # EAV fan-out as ONE explode over a conditionally-assembled struct
    # array — NOT a union of per-field projections: Spark does not share
    # common subplans across union branches, so the 12-branch union form
    # re-executed the whole classification 12 times (5.3 s warm at
    # sf0.1; this form is one pass). The metadata JSON is BUILT per
    # request then genuinely PARSED (from_json -> map entries), the
    # engine-side path the reference's decode_json + sorted-keys
    # setParameter loop takes.
    fid = md5_60(
        F.concat(F.lit("nonminc:"), "file_name", F.lit(":"), "candidate")
    )
    sid = md5_60(
        F.concat(F.lit("sess:"), "candidate", F.lit(":"), "visit_label")
    )

    def row(kind, name, value):  # noqa: ANN001
        return F.struct(
            F.lit(kind).alias("kind"),
            (F.lit(name) if isinstance(name, str) else name).alias("name"),
            value.cast("string").alias("value"),
        )

    with_md = classified.join(
        F.broadcast(p.select("p_partkey", "p_size")),
        classified.part_key == F.col("p_partkey"),
        "left",
    ).withColumn(
        "md_json",
        F.concat(
            F.lit('{"slice_thickness": 2, "te": '), F.col("p_size"),
            F.lit(', "tr": '), (F.col("p_size") * 100),
            F.lit("}"),
        ),
    )
    inserted_rows = F.concat(
        F.array(
            row("file", "file_id", fid),
            row("file", "session_id", sid),
            row("file", "scanner_id", F.col("scanner_id")),
            row("file", "scan_type", F.col("scan_type")),
            row("file", "output_type", F.lit("native")),
            row("file", "coordinate_space", F.lit("native")),
            row("file", "acquisition_date", F.col("o_orderdate")),
            row("file", "file_type", F.col("ext")),
        ),
        # coalesce: a part-join miss nulls md_json and the whole
        # transform chain would otherwise null the OUTER concat, erasing
        # the entity's file/status rows too — degrade to "no parameter
        # rows" instead (the oracle inner-joins part only for parameter
        # rows, so file rows must survive a miss)
        F.coalesce(
            F.transform(
                F.map_entries(F.from_json("md_json", "map<string,string>")),
                lambda e: row(
                    "parameter", F.concat(F.lit("md:"), e["key"]), e["value"]
                ),
            ),
            F.array().cast(
                "array<struct<kind:string,name:string,value:string>>"
            ),
        ),
    )
    rows = F.concat(
        F.array(row("file", "status", F.col("status"))),
        F.when(F.col("status") == "inserted", inserted_rows).otherwise(
            F.array().cast(
                "array<struct<kind:string,name:string,value:string>>"
            )
        ),
    )
    return with_md.select(
        F.col("file_name").alias("entity"), F.explode(rows).alias("r")
    ).select("r.kind", "entity", "r.name", "r.value")


# ---------------------------------------------------------------------------
# pipeline_eeg_bids_ingest — the reference's SECONDARY ENTRY POINT
# (python/loris_bids_importer/src/loris_bids_importer/scripts/
# import_bids_dataset.py, EEG flow loris_bids_importer/eeg/main.py)
# composed end-to-end: subject/session validation
# (validation/subjects.py:38-77, validation/sessions.py:33-72, sex
# normalization subjects.py:131-160) -> per-recording file-type check
# (file_type.py) -> physiological_file registration with blake2b hash
# (eeg/main.py:222-240, loris_utils/crypto.py) -> channel registration
# (channels.py) -> task-event registration with HED tagging and
# inherited-tag filtering (events.py:81-155, 147-151) -> sidecar
# parameter flattening -> chunk pyramid plan
# (lib/physio/chunking.py). Every reference error EXIT becomes a row
# classification (the pipeline_non_minc_insertion recipe).
# ---------------------------------------------------------------------------

_BIDS_EEG_EXTS = ("edf", "set", "bdf", "vhdr")
_BIDS_EEG_SUPPORT_EXTS = ("vmrk", "eeg", "json")
_BIDS_EEG_SEX = {
    "m": "Male", "male": "Male",
    "f": "Female", "female": "Female",
    "o": "Other", "other": "Other",
}
_BIDS_EEG_KNOWN_EVENT_FIELDS = (
    "onset", "duration", "trial_type", "response_time", "sample",
    "event_code", "event_value", "event_sample", "event_type", "HED",
)
_BIDS_EEG_CHUNK_W = 16
_BIDS_EEG_VISIT = "V1"

# chunked content-hash read size: bounds a hashing task's memory at one
# buffer regardless of recording size (a multi-GB CTF .meg4 never
# materializes — the reference's chunker streams too, lib/physio)
_B2B_READ_CHUNK = 8 << 20  # 8 MiB


def _iter_file_chunks(uri: str, chunk: int = _B2B_READ_CHUNK):
    """Yield ``chunk``-sized byte blocks of a binaryFile-style URI.

    ``file:`` URIs read via plain ``open`` (the local / NFS executor
    path); any other scheme (hdfs://, s3://) routes through
    ``pyarrow.fs.FileSystem.from_uri`` — the cluster-filesystem path."""
    if uri.startswith("file:"):
        import re as _re

        local = _re.sub(r"^file:(//)?", "", uri)
        with open(local, "rb") as fh:
            while True:
                b = fh.read(chunk)
                if not b:
                    return
                yield b
    else:
        import pyarrow.fs as pafs

        fs, rel = pafs.FileSystem.from_uri(uri)
        with fs.open_input_stream(rel) as st:
            while True:
                b = st.read(chunk)
                if not b:
                    return
                yield b


def _blake2b_stream_partition(batches):
    """mapInPandas kernel: pass rows through, adding ``b2b`` — blake2b
    of the file at ``path`` computed by CHUNKED reads (8 MiB), so task
    memory is one buffer even for a multi-GB recording. The inventory
    scan itself is pruned to metadata (no ``content`` column ever
    crosses Arrow). Callers assume the listed files are immutable until
    hashed. The binaryFile scan stats each file when its task reads it
    and fails on a missing one, but a whole Arrow batch is scanned before
    it is hashed: a file that vanishes in that window keeps its row with
    a NULL ``b2b`` instead of failing the task."""
    import hashlib

    for pdf in batches:
        digs = []
        for p in pdf["path"]:
            h = hashlib.blake2b(digest_size=32)
            try:
                for blk in _iter_file_chunks(p):
                    h.update(blk)
            except FileNotFoundError:
                digs.append(None)
            else:
                digs.append(h.hexdigest())
        yield pdf.assign(b2b=digs).drop(columns=["path"])


def _bids_eeg_dir() -> str:
    import os

    return os.path.join(
        os.path.dirname(os.path.dirname(os.path.dirname(__file__))),
        "tests", "fixtures", "bids_eeg",
    )


def _eeg_bids_oracle() -> "str | None":
    """Golden VALUES oracle for the EEG BIDS ingest capstone — an
    independent pure-Python replay over the byte-stable fixtures (the
    HRRT/non-MINC golden recipe): participants/events TSVs re-parsed by
    plain split, recording headers PINNED to what generate.py wrote,
    blake2b recomputed from the bytes, HED tag groups hand-pinned per
    fixture string (NOT re-parsed with the engine's parser, so the X4
    parse is genuinely cross-checked)."""
    import hashlib
    import json
    import os

    fdir = _bids_eeg_dir()
    if not os.path.isdir(fdir):
        return None

    def md5_60_py(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    # participants.tsv by plain split
    participants: dict[str, dict[str, str]] = {}
    with open(os.path.join(fdir, "participants.tsv")) as fh:
        lines = fh.read().splitlines()
    hdr = lines[0].split("\t")
    for line in lines[1:]:
        if not line:
            continue
        rec = dict(zip(hdr, line.split("\t")))
        participants[rec["participant_id"]] = rec

    # dataset-level inherited HED tags (task-rest_events.json)
    with open(os.path.join(fdir, "task-rest_events.json")) as fh:
        dataset_dict = json.load(fh)
    inherited = dataset_dict.get("trial_type", {}).get("HED", {})

    # recording inventory: every sub-*/eeg/*_eeg.* data file
    recordings: list[tuple[str, str, str, str]] = []  # (sub, fname, ext, path)
    for sub in sorted(os.listdir(fdir)):
        subdir = os.path.join(fdir, sub, "eeg")
        if not os.path.isdir(subdir):
            continue
        for n in sorted(os.listdir(subdir)):
            if "_eeg." not in n:
                continue
            ext = n.rsplit(".", 1)[1].lower()
            if ext in _BIDS_EEG_SUPPORT_EXTS:
                continue
            recordings.append((sub, n, ext, os.path.join(subdir, n)))

    # channel labels + sample counts PINNED to the generator's arguments
    pinned = {
        "sub-01_task-rest_eeg.edf": (["EEG Fz", "EEG Pz"], 64),
        "sub-02_task-rest_eeg.set": (["Fp1", "Cz"], 64),
        "sub-03_task-rest_eeg.bdf": (["Fp1", "Oz"], 32),
    }
    # HED tag groups hand-pinned per fixture events row: onset ->
    # (trial_type, [tags]) for sub-01 (the only HED-bearing file)
    hed_pinned = {
        "0.5": ("go", ["Action/Move", "Sensory-event",
                       "Visual-presentation"]),
        "1.0": ("stop", ["Action/Hold", "Agent-action"]),
        "1.5": ("go", []),
    }

    rows: list[tuple[str, str, str, str]] = []

    def classify(sub: str, ext: str) -> str:
        p = participants.get(sub)
        if p is None:
            return "candidate_not_found"
        sex = p.get("sex")
        if sex and sex.lower() not in _BIDS_EEG_SEX and sex != "n/a":
            return "unknown_sex"
        if ext not in _BIDS_EEG_EXTS:
            return "unsupported_file_type"
        return "inserted"

    # candidate + session rows: every subject WITH DATA whose candidate
    # validates (dataset-wide validation precedes the per-file loop)
    subs_with_data = sorted({s for s, _, _, _ in recordings})
    for sub in subs_with_data:
        p = participants.get(sub)
        if p is None:
            continue
        # mirror the engine's CSV null semantics: Spark reads an EMPTY
        # sex cell as null, which validates (like 'n/a') — only a
        # non-empty, non-n/a, unknown value fails candidate validation
        sex_raw = p.get("sex") or ""
        sex_norm = _BIDS_EEG_SEX.get(sex_raw.lower())
        if sex_norm is None and sex_raw not in ("", "n/a"):
            continue
        cand_id = str(md5_60_py("cand:" + sub))
        sess_id = str(md5_60_py("sess:" + sub + ":" + _BIDS_EEG_VISIT))
        rows += [
            ("candidate", sub, "cand_id", cand_id),
            ("candidate", sub, "sex", sex_norm or ""),
            ("candidate", sub, "site", p["site"]),
            ("session", sub, "session_id", sess_id),
            ("session", sub, "visit_label", _BIDS_EEG_VISIT),
            ("session", sub, "cohort", p["cohort"]),
        ]

    inserted_subs: set[str] = set()
    for sub, fname, ext, path in recordings:
        status = classify(sub, ext)
        rows.append(("file", fname, "status", status))
        if status != "inserted":
            continue
        inserted_subs.add(sub)
        with open(path, "rb") as fh:
            b2b = hashlib.blake2b(fh.read(), digest_size=32).hexdigest()
        pin = pinned.get(fname)
        if pin is None:
            # a fixture edit made an unpinned recording insertable: give
            # up this ORACLE only (rows-only driver check) instead of
            # raising during module import and killing the registry
            return None
        labels, n_samples = pin
        rows += [
            ("file", fname, "file_id", str(md5_60_py("physio:" + fname))),
            ("file", fname, "cand_id", str(md5_60_py("cand:" + sub))),
            ("file", fname, "session_id",
             str(md5_60_py("sess:" + sub + ":" + _BIDS_EEG_VISIT))),
            ("file", fname, "file_type", ext),
            ("file", fname, "modality", "eeg"),
            ("file", fname, "output_type", "raw"),
            ("file", fname, "blake2b", b2b),
            ("file", fname, "n_channels", str(len(labels))),
        ]
        rows += [("channel", f"{fname}:{i}", "label", lb)
                 for i, lb in enumerate(labels)]
        # chunk pyramid: level i holds ceil(n / (W * 2^i)) chunks, down
        # to a single-chunk root (lib/physio/chunking.py's shape)
        n_chunks = -(-n_samples // _BIDS_EEG_CHUNK_W)
        i = 0
        while True:
            cnt = -(-n_samples // (_BIDS_EEG_CHUNK_W * (2 ** i)))
            rows.append(("chunk", fname, f"level_{i}", str(cnt)))
            if cnt <= 1:
                break
            i += 1

        # sidecar JSON (optional): flattened parameter rows
        sc_path = os.path.join(fdir, sub, "eeg", f"{sub}_task-rest_eeg.json")
        if os.path.exists(sc_path):
            with open(sc_path) as fh:
                sidecar = json.load(fh)
            for k in sorted(sidecar):
                rows.append(("parameter", fname, "sidecar:" + k,
                             str(sidecar[k])))

    # events.tsv (optional) by plain split; 'n/a' is the BIDS null.
    # Keyed PER SUBJECT (not per inserted recording) to mirror the
    # engine's per-subject semi-join — a subject with two inserted
    # recordings must not duplicate its event rows.
    for sub in sorted(inserted_subs):
        ev_path = os.path.join(
            fdir, sub, "eeg", f"{sub}_task-rest_events.tsv"
        )
        if not os.path.exists(ev_path):
            continue
        with open(ev_path) as fh:
            elines = fh.read().splitlines()
        ehdr = elines[0].split("\t")
        for line in elines[1:]:
            if not line:
                continue
            rec = dict(zip(ehdr, line.split("\t")))
            onset = rec.get("onset")
            # mirror the engine's usable-onset gate: a ragged row whose
            # padded map has a null or EMPTY onset is classified out
            if not onset:
                continue
            ent = f"{sub}:{onset}"
            rows.append(("event", ent, "trial_type", rec["trial_type"]))
            rows.append(("event", ent, "duration", rec["duration"]))
            rt = rec.get("response_time")
            if rt and rt != "n/a":
                rows.append(("event", ent, "response_time", rt))
            for k, v in rec.items():
                if (k not in _BIDS_EEG_KNOWN_EVENT_FIELDS
                        and v and v != "n/a"
                        and v.lower() != "nan"):
                    rows.append(("event_opt", ent, k, v))
            hed = rec.get("HED")
            if hed and hed != "n/a":
                hp = hed_pinned.get(onset)
                if hp is None or hp[0] != rec["trial_type"]:
                    # unpinned HED row after a fixture edit: degrade
                    # this one oracle (rows-only), never the registry
                    return None
                inh = inherited.get(hp[0])
                for tag in hp[1]:
                    if tag != inh:
                        rows.append(("hed", ent, "tag", tag))

    def q(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    vals = ", ".join(
        f"({q(k)}, {q(e)}, {q(n)}, {q(v)})" for k, e, n, v in rows
    )
    return (
        "SELECT * FROM (VALUES " + vals + ") AS t(kind, entity, name, value)"
    )


@query("pipeline_eeg_bids_ingest", oracle=_eeg_bids_oracle())
def pipeline_eeg_bids_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EEG BIDS dataset ingestion — the reference's secondary entry point
    (import_bids_dataset.py -> loris_bids_importer/eeg/main.py) as ONE
    composed DAG over the real BIDS fixture dataset:

    - recording inventory: distributed binaryFile scan of sub-*/eeg/
      (data files only; BrainVision .vmrk/.eeg ride as support files)
    - subject/session validation (validation/subjects.py:38-77,
      sessions.py:33-72): participants.tsv broadcast-joined; sex
      normalized per subjects.py:131-160; each reference error exit is a
      row classification (candidate_not_found / unknown_sex /
      unsupported_file_type), deterministic get-or-create ids (J10)
    - physiological_file registration: blake2b content hash via a
      CHUNKED-read mapInPandas stage (8 MiB blocks off the path — the
      inventory scan is metadata-pruned, so recording bytes never cross
      Arrow and a multi-GB CTF/.meg4 never materializes in one task;
      mirrors the reference chunker's streaming reads), file/session ids
    - channel registration (S7): the EDF/BDF/EEGLAB header parsers over
      the same scan, semi-joined to inserted recordings
    - task events (S8/events.py:81-155): schema-free TSV parse —
      wholetext -> header map per line, ALL JVM-side (BIDS events
      headers differ per file, so a fixed-schema csv read would
      misalign); known fields become event rows, additional fields the
      event_opt rows (events.py:114-121), 'n/a' the BIDS null
    - HED tagging (X4) with inherited-tag filtering (events.py:147-151):
      parsed tags anti-joined against the dataset-level event dictionary
    - sidecar parameter flattening (S8) and the chunk pyramid plan
      (lib/physio/chunking.py): level i holds ceil(n/(W*2^i)) chunks

    100-TB shape: the inventory scan and every parser are per-file
    Arrow-batched tasks over a distributed listing (millions of
    recordings scale out); participants/event-dict dims broadcast; the
    classification cascade, event map parse, and chunk plan are pure
    JVM expressions; no stage collects to the driver. Oracle: golden
    pure-Python replay over the byte-stable fixtures with hand-pinned
    header/HED values — independent of every engine parser. The scale
    sweep points the QUERY at a cloned-subject tier via
    LORIS_BIDS_EEG_FIXTURES (the LORIS_MM_FIXTURES recipe); the oracle
    always pins the committed fixtures."""
    import os

    from loris_mri_spark.functions.hed import hed_parse_udf
    from loris_mri_spark.sources.bids import (
        read_participants_tsv,
        read_sidecar_json,
    )
    from loris_mri_spark.sources.eeg import (
        EDF_CHANNEL_SCHEMA,
        _edf_rows,
        read_edf_channels,
        read_eeglab_channels,
    )
    from loris_mri_spark.sources.files import map_rows

    fdir = os.environ.get("LORIS_BIDS_EEG_FIXTURES") or _bids_eeg_dir()
    s = F.lit
    fname = F.element_at(F.split("path", "/"), -1)

    inv = (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*_eeg.*")
        .load(fdir)
        .select(
            fname.alias("fname"),
            F.regexp_extract(fname, r"(sub-[0-9A-Za-z]+)", 1).alias("sub"),
            F.lower(F.regexp_extract(fname, r"\.([A-Za-z0-9]+)$", 1)).alias(
                "ext"
            ),
            # metadata only — content is NOT selected, so the binaryFile
            # scan prunes to path/size and reads zero data bytes; the
            # blake2b step below streams the path in 8 MiB chunks
            "path",
        )
        .filter(~F.col("ext").isin(*_BIDS_EEG_SUPPORT_EXTS))
    )

    parts = read_participants_tsv(
        spark, f"{fdir}/participants.tsv"
    ).select(
        F.col("participant_id").alias("sub"), "sex", "site", "cohort"
    )
    sex_map = F.create_map(
        *[s(x) for kv in _BIDS_EEG_SEX.items() for x in kv]
    )
    parts = (
        parts.withColumn(
            "sex_norm", F.element_at(sex_map, F.lower("sex"))
        )
        .withColumn(
            "cand_ok",
            F.col("sex").isNull()
            | (F.col("sex") == "n/a")
            | F.col("sex_norm").isNotNull(),
        )
        # explicit row-presence marker: a participants row with empty
        # cells must still count as "candidate exists" after the left
        # join (subjects.py keys on the ROW, not any one field)
        .withColumn("has_row", F.lit(True))
    )

    inv = inv.join(F.broadcast(parts), "sub", "left").withColumn(
        "status",
        F.when(F.col("has_row").isNull(), "candidate_not_found")
        .when(~F.col("cand_ok"), "unknown_sex")
        .when(~F.col("ext").isin(*_BIDS_EEG_EXTS), "unsupported_file_type")
        .otherwise("inserted"),
    )

    def mid(prefix: Column, key: Column) -> Column:
        return md5_60(F.concat(prefix, key)).cast("string")

    cand_id = mid(s("cand:"), F.col("sub"))
    sess_id = mid(s("sess:"), F.concat("sub", s(":" + _BIDS_EEG_VISIT)))

    def rows4(df: DataFrame, kind, entity, name, value) -> DataFrame:
        return df.select(
            kind.alias("kind"),
            entity.alias("entity"),
            name.alias("name"),
            value.alias("value"),
        )

    # --- candidate + session rows (dataset-wide validation) --------------
    subs = inv.select("sub").distinct()
    valid = (
        subs.join(F.broadcast(parts), "sub")
        .filter("cand_ok")
        .select(
            "sub", F.coalesce("sex_norm", s("")).alias("sexn"),
            "site", "cohort",
            cand_id.alias("cid"), sess_id.alias("sid"),
        )
    )
    def knv(k: Column, n: Column, v: Column) -> Column:
        return F.struct(k.alias("k"), n.alias("n"), v.alias("v"))

    cand_rows = valid.select(
        "sub",
        F.explode(
            F.array(
                knv(s("candidate"), s("cand_id"), F.col("cid")),
                knv(s("candidate"), s("sex"), F.col("sexn")),
                knv(s("candidate"), s("site"), F.col("site")),
                knv(s("session"), s("session_id"), F.col("sid")),
                knv(s("session"), s("visit_label"), s(_BIDS_EEG_VISIT)),
                knv(s("session"), s("cohort"), F.col("cohort")),
            )
        ).alias("r"),
    ).select(F.col("r.k").alias("kind"), F.col("sub").alias("entity"),
             F.col("r.n").alias("name"), F.col("r.v").alias("value"))

    # --- file rows --------------------------------------------------------
    status_rows = rows4(inv, s("file"), F.col("fname"), s("status"),
                        F.col("status"))
    ins = inv.filter(F.col("status") == "inserted")
    def nv(n: Column, v: Column) -> Column:
        return F.struct(n.alias("n"), v.alias("v"))

    # chunked streaming hash (no join): one mapInPandas pass carries
    # fname/sub/ext through and appends b2b from 8 MiB chunked reads of
    # path — a multi-GB CTF/.meg4 recording is never resident in a task.
    # The listed recordings are assumed immutable until hashed: one that
    # vanished in between hashes to NULL.
    ins_hashed = ins.select("fname", "sub", "ext", "path").mapInPandas(
        _blake2b_stream_partition,
        schema="fname string, sub string, ext string, b2b string",
    )
    file_rows = ins_hashed.select(
        "fname",
        F.explode(
            F.array(
                nv(s("file_id"), mid(s("physio:"), F.col("fname"))),
                nv(s("cand_id"), cand_id),
                nv(s("session_id"), sess_id),
                nv(s("file_type"), F.col("ext")),
                nv(s("modality"), s("eeg")),
                nv(s("output_type"), s("raw")),
                nv(s("blake2b"), F.col("b2b")),
            )
        ).alias("r"),
    ).select(s("file").alias("kind"), F.col("fname").alias("entity"),
             F.col("r.n").alias("name"), F.col("r.v").alias("value"))

    ins_files = ins.select("fname", "sub")

    # --- channels (S7 parsers over the same tree) -------------------------
    bdf_files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bdf")
        .option("recursiveFileLookup", "true")
        .load(fdir)
        .select("path", "content")
    )
    ch = (
        read_edf_channels(spark, fdir)
        .select("path", "channel_idx", "label", "n_samples")
        .unionByName(
            map_rows(bdf_files, _edf_rows, EDF_CHANNEL_SCHEMA)
            .select("path", "channel_idx", "label", "n_samples")
        )
        .unionByName(
            read_eeglab_channels(spark, fdir).select(
                "path", "channel_idx", "label", "n_samples"
            )
        )
        .select(fname.alias("fname"), "channel_idx", "label", "n_samples")
        .join(F.broadcast(ins_files.select("fname")), "fname", "semi")
    )
    chan_rows = rows4(
        ch, s("channel"),
        F.concat("fname", s(":"), F.col("channel_idx").cast("string")),
        s("label"), F.col("label"),
    )
    per_file = ch.groupBy("fname").agg(
        F.count("*").alias("n_ch"), F.max("n_samples").alias("n_samp")
    )
    nch_rows = rows4(per_file, s("file"), F.col("fname"), s("n_channels"),
                     F.col("n_ch").cast("string"))

    # --- chunk pyramid plan (lib/physio/chunking.py shape) ----------------
    w = float(_BIDS_EEG_CHUNK_W)
    lvl = F.ceil(F.log2(F.greatest(F.ceil(F.col("n_samp") / w), s(1))))
    chunk_rows = per_file.select(
        "fname",
        F.posexplode(
            F.transform(
                F.sequence(s(0), lvl.cast("int")),
                lambda i: F.ceil(
                    F.col("n_samp") / (w * F.pow(s(2.0), i))
                ).cast("long"),
            )
        ).alias("lv", "cnt"),
    ).select(
        s("chunk").alias("kind"), F.col("fname").alias("entity"),
        F.concat(s("level_"), F.col("lv").cast("string")).alias("name"),
        F.col("cnt").cast("string").alias("value"),
    )

    # --- task events: schema-free TSV parse (headers differ per file) ----
    ev_raw = (
        spark.read.format("text")
        .option("wholetext", "true")
        .load(f"{fdir}/sub-*/eeg/*_events.tsv")
        .select(
            F.regexp_extract(
                F.col("_metadata.file_path"), r"(sub-[0-9A-Za-z]+)", 1
            ).alias("sub"),
            F.split(F.regexp_replace("value", "\r", ""), "\n").alias(
                "lines"
            ),
        )
    )
    ev = (
        ev_raw.select(
            "sub",
            F.split(F.element_at("lines", 1), "\t").alias("hdr"),
            F.posexplode("lines").alias("pos", "line"),
        )
        .filter((F.col("pos") > 0) & (F.length("line") > 0))
        .select(
            "sub",
            # classify-don't-fail: a RAGGED row (more/fewer cells than
            # the header) must not kill the scan task — pad with nulls
            # then truncate to the header width, so map_from_arrays
            # always zips equal-length arrays and short rows surface as
            # null fields (the BIDS 'n/a' semantics), never as a crash
            F.map_from_arrays(
                "hdr",
                F.slice(
                    F.concat(
                        F.split("line", "\t"),
                        F.array_repeat(
                            F.lit(None).cast("string"), F.size("hdr")
                        ),
                    ),
                    1,
                    F.size("hdr"),
                ),
            ).alias("m"),
        )
        .join(F.broadcast(ins_files.select("sub").distinct()), "sub", "semi")
        # a row whose padded map has no USABLE onset is not a BIDS event
        # row — classified out, never an error. isNotNull alone is not
        # enough: a ragged line like '\t' splits to [''], so the padded
        # map carries onset='' (non-null) and would mint a spurious
        # 'sub-NN:' entity — the empty string is classified out too.
        .filter(
            F.col("m")["onset"].isNotNull() & (F.col("m")["onset"] != "")
        )
        .withColumn("ent", F.concat("sub", s(":"), F.col("m")["onset"]))
        .withColumn("tt", F.col("m")["trial_type"])
    )
    ev_core = ev.select(
        "ent",
        F.explode(
            F.filter(
                F.array(
                    nv(s("trial_type"), F.col("tt")),
                    nv(s("duration"), F.col("m")["duration"]),
                    nv(s("response_time"),
                       F.nullif(F.col("m")["response_time"], s("n/a"))),
                ),
                lambda r: r["v"].isNotNull(),
            )
        ).alias("r"),
    ).select(s("event").alias("kind"), F.col("ent").alias("entity"),
             F.col("r.n").alias("name"), F.col("r.v").alias("value"))

    opt_rows = (
        ev.select("ent", F.explode("m").alias("k", "v"))
        .filter(
            ~F.col("k").isin(*_BIDS_EEG_KNOWN_EVENT_FIELDS)
            & F.col("v").isNotNull()
            & (F.col("v") != "n/a")
            & (F.lower("v") != "nan")
        )
        .select(s("event_opt").alias("kind"), F.col("ent").alias("entity"),
                F.col("k").alias("name"), F.col("v").alias("value"))
    )

    # --- HED tags minus dataset-inherited (events.py:147-151) ------------
    ddict = (
        spark.read.format("text")
        .option("wholetext", "true")
        .load(f"{fdir}/task-rest_events.json")
        .select(
            F.explode(
                F.from_json(
                    "value", "struct<trial_type: struct<HED: map<string,string>>>"
                )["trial_type"]["HED"]
            ).alias("inh_tt", "inh_tag")
        )
    )
    hed = (
        ev.select("ent", "tt",
                  F.nullif(F.col("m")["HED"], s("n/a")).alias("hs"))
        .filter(F.col("hs").isNotNull())
        .select("ent", "tt",
                F.explode(hed_parse_udf(F.col("hs"))).alias("t"))
        .select("ent", "tt", F.col("t.tag").alias("tag"))
        .join(
            F.broadcast(ddict),
            (F.col("tt") == F.col("inh_tt"))
            & (F.col("tag") == F.col("inh_tag")),
            "anti",
        )
    )
    hed_rows = rows4(hed, s("hed"), F.col("ent"), s("tag"), F.col("tag"))

    # --- sidecar parameters (S8) ------------------------------------------
    sc = (
        read_sidecar_json(spark, f"{fdir}/sub-*/eeg/*_eeg.json")
        .withColumnRenamed("subject", "sub")
        .join(F.broadcast(ins_files), "sub")
        .select("fname", F.explode("params").alias("k", "v"))
    )
    param_rows = rows4(
        sc, s("parameter"), F.col("fname"),
        F.concat(s("sidecar:"), F.col("k")), F.col("v"),
    )

    out = (
        status_rows.unionByName(cand_rows)
        .unionByName(file_rows)
        .unionByName(chan_rows)
        .unionByName(nch_rows)
        .unionByName(chunk_rows)
        .unionByName(ev_core)
        .unionByName(opt_rows)
        .unionByName(hed_rows)
        .unionByName(param_rows)
    )
    return out


# ---------------------------------------------------------------------------
# MRI BIDS import capstone — the MRI arm of the reference's secondary entry
# point (import_bids_dataset.py -> loris_bids_importer/mri/main.py +
# mri/sidecar.py), previously mapped-not-registered (COVERAGE.md).
# ---------------------------------------------------------------------------

# mri/main.py:28-42 KNOWN_SUFFIXES_PER_MRI_DATA_TYPE — the standard BIDS
# suffixes the importer will mint a scan type for (J10 get-or-create);
# any other suffix is the reference's "unknown MRI file suffix" exit.
_BIDS_MRI_KNOWN_SUFFIXES: "dict[str, tuple[str, ...]]" = {
    "anat": ("T1w", "T2w", "T1rho", "T1map", "T2map", "T2star", "FLAIR",
             "FLASH", "PD", "PDmap", "PDT2", "inplaneT1", "inplaneT2",
             "angio"),
    "func": ("bold", "cbv", "phase"),
    "dwi": ("dwi", "sbref"),
    "fmap": ("phasediff", "magnitude1", "magnitude2", "phase1", "phase2",
             "fieldmap", "epi"),
}

# Pinned projection of the reference's DB-configured BIDS->LORIS
# parameter-name map (lib/imaging_lib/file_parameter.py:68-79 reads
# bids_mri parameter_type rows; this engine has no DB, so the map is a
# constant — the MAPPED name rides alongside the raw sidecar: row, the
# reference's "original BIDS parameters are not removed" semantics).
_BIDS_TO_LORIS_PARAMS: "dict[str, str]" = {
    "RepetitionTime": "repetition_time",
    "EchoTime": "echo_time",
    "Manufacturer": "manufacturer",
    "ManufacturersModelName": "manufacturer_model_name",
}


def _bids_mri_dir() -> str:
    import os

    return os.path.join(
        os.path.dirname(os.path.dirname(os.path.dirname(__file__))),
        "tests", "fixtures", "bids_mri",
    )


def _mri_bids_oracle() -> "str | None":
    """Golden VALUES oracle for the MRI BIDS import capstone — a pure-
    Python replay over the byte-stable fixtures (the EEG capstone's
    golden recipe): participants/scans/events TSVs re-parsed by plain
    split, sidecars by json.load, NIfTI spatial parameters PINNED to
    what generate.py wrote (so the S4 header parse is genuinely
    cross-checked), blake2b recomputed from the bytes, the X1 session
    hook replayed as plain string splitting."""
    import hashlib
    import json
    import os

    fdir = _bids_mri_dir()
    if not os.path.isdir(fdir):
        return None

    def md5_60_py(sv: str) -> int:
        return int(hashlib.md5(sv.encode()).hexdigest()[:15], 16)

    def b2b_file(path: str) -> str:
        h = hashlib.blake2b(digest_size=32)
        with open(path, "rb") as fh:
            while True:
                blk = fh.read(1 << 20)
                if not blk:
                    break
                h.update(blk)
        return h.hexdigest()

    # participants.tsv by plain split
    participants: dict[str, dict[str, str]] = {}
    with open(os.path.join(fdir, "participants.tsv")) as fh:
        lines = fh.read().splitlines()
    hdr = lines[0].split("\t")
    for line in lines[1:]:
        if not line:
            continue
        rec = dict(zip(hdr, line.split("\t")))
        participants[rec["participant_id"]] = rec

    # spatial parameters PINNED to the generator's arguments:
    # (xspace, yspace, zspace, time|None, xstep, ystep, zstep)
    pinned_spatial = {
        "sub-01_T1w.nii.gz": (8, 8, 4, None, 1.0, 1.0, 1.2),
        "sub-01_dwi.nii.gz": (4, 4, 2, 6, 2.0, 2.0, 2.0),
        "sub-02_task-rest_bold.nii.gz": (4, 4, 2, 6, 3.0, 3.0, 3.0),
    }

    # acquisition inventory: every sub-*/<dtype>/*.nii[.gz], path-sorted
    acqs: list[tuple[str, str, str, str]] = []  # (sub, dtype, fname, path)
    for sub in sorted(os.listdir(fdir)):
        subdir = os.path.join(fdir, sub)
        if not os.path.isdir(subdir):
            continue
        for dtype in sorted(os.listdir(subdir)):
            ddir = os.path.join(subdir, dtype)
            if not os.path.isdir(ddir):
                continue
            for n in sorted(os.listdir(ddir)):
                if ".nii" in n:
                    acqs.append((sub, dtype, n, os.path.join(ddir, n)))

    def base_of(n: str) -> str:
        return n[:-7] if n.endswith(".nii.gz") else n[:-4]

    def suffix_of(n: str) -> str:
        b = base_of(n)
        return b.rsplit("_", 1)[1] if "_" in b else ""

    def cand_valid(sub: str) -> "str | None":
        """None when valid, else the error classification."""
        p = participants.get(sub)
        if p is None:
            return "candidate_not_found"
        sex_raw = p.get("sex") or ""
        if (_BIDS_EEG_SEX.get(sex_raw.lower()) is None
                and sex_raw not in ("", "n/a")):
            return "unknown_sex"
        return None

    rows: list[tuple[str, str, str, str]] = []

    # candidate + session rows: every subject WITH DATA whose candidate
    # validates (dataset-wide validation precedes the per-file loop)
    for sub in sorted({a[0] for a in acqs}):
        if cand_valid(sub) is not None:
            continue
        p = participants[sub]
        sex_norm = _BIDS_EEG_SEX.get((p.get("sex") or "").lower())
        rows += [
            ("candidate", sub, "cand_id", str(md5_60_py("cand:" + sub))),
            ("candidate", sub, "sex", sex_norm or ""),
            ("candidate", sub, "site", p["site"]),
            ("session", sub, "session_id",
             str(md5_60_py("sess:" + sub + ":" + _BIDS_EEG_VISIT))),
            ("session", sub, "visit_label", _BIDS_EEG_VISIT),
            ("session", sub, "cohort", p["cohort"]),
        ]

    # classification cascade + duplicate-hash gate (path order)
    seen_hashes: set[str] = set()
    inserted: list[tuple[str, str, str, str, str]] = []
    for sub, dtype, fname, path in acqs:
        status = cand_valid(sub)
        sfx = suffix_of(fname)
        if status is None and sfx == "":
            status = "no_suffix"
        if status is None and sfx not in _BIDS_MRI_KNOWN_SUFFIXES.get(
                dtype, ()):
            status = "unknown_suffix"
        if status is None:
            fh = b2b_file(path)
            if fh in seen_hashes:
                status = "duplicate_hash"
            else:
                seen_hashes.add(fh)
                status = "inserted"
                inserted.append((sub, dtype, fname, path, fh))
        rows.append(("acquisition", fname, "status", status))

    # scan types: J10 get-or-create per distinct inserted suffix
    for sfx in sorted({suffix_of(f) for _, _, f, _, _ in inserted}):
        rows.append(("scan_type", sfx, "scan_type_id",
                     str(md5_60_py("scantype:" + sfx))))

    for sub, dtype, fname, path, fh in inserted:
        base = base_of(fname)
        prefix = base.rsplit("_", 1)[0]
        fdirp = os.path.dirname(path)
        rows += [
            ("file", fname, "file_id", str(md5_60_py("mri:" + fname))),
            ("file", fname, "cand_id", str(md5_60_py("cand:" + sub))),
            ("file", fname, "session_id",
             str(md5_60_py("sess:" + sub + ":" + _BIDS_EEG_VISIT))),
            ("file", fname, "file_type", "nii"),
            ("file", fname, "scan_type", suffix_of(fname)),
            ("parameter", fname, "file_blake2b_hash", fh),
            ("parameter", fname, "check_pic",
             f"pic/{md5_60_py('mri:' + fname)}_check.png"),
        ]

        # spatial parameters (S4) — pinned, never the engine parser
        xs, ys, zs, t, dx, dy, dz = pinned_spatial[fname]
        rows += [
            ("parameter", fname, "xspace", str(xs)),
            ("parameter", fname, "yspace", str(ys)),
            ("parameter", fname, "zspace", str(zs)),
            ("parameter", fname, "xstep", str(dx)),
            ("parameter", fname, "ystep", str(dy)),
            ("parameter", fname, "zstep", str(dz)),
        ]
        if t is not None:
            rows.append(("parameter", fname, "time", str(t)))

        # sidecar JSON (optional)
        sc_path = os.path.join(fdirp, base + ".json")
        if os.path.exists(sc_path):
            with open(sc_path) as fh2:
                sidecar = json.load(fh2)
            for k in sorted(sidecar):
                rows.append(("parameter", fname, "sidecar:" + k,
                             str(sidecar[k])))
                mapped = _BIDS_TO_LORIS_PARAMS.get(k)
                if mapped is not None:
                    rows.append(("parameter", fname, mapped,
                                 str(sidecar[k])))
            rows += [
                ("parameter", fname, "bids_json_file", base + ".json"),
                ("parameter", fname, "bids_json_file_blake2b_hash",
                 b2b_file(sc_path)),
            ]
            for k, name in (("SeriesInstanceUID", "series_uid"),
                            ("EchoTime", "echo_time"),
                            ("EchoNumber", "echo_number"),
                            ("PhaseEncodingDirection",
                             "phase_encoding_direction")):
                if k in sidecar:
                    rows.append(("file", fname, name, str(sidecar[k])))
            pid = sidecar.get("PatientID")
            if pid is not None:
                parts_ = pid.split("_")
                is_ph = "phantom" in pid.lower()
                if not is_ph and len(parts_) >= 3:
                    rows += [
                        ("session_info", fname, "project", parts_[0]),
                        ("session_info", fname, "candidate", parts_[1]),
                        ("session_info", fname, "visit_label", parts_[2]),
                        ("session_info", fname, "is_phantom", "false"),
                    ]

        # aux files (bval/bvec by base; events/physio by entity prefix)
        for kind, aux_name in (
            ("bval", base + ".bval"),
            ("bvec", base + ".bvec"),
            ("events", prefix + "_events.tsv"),
            ("physio", prefix + "_physio.tsv"),
        ):
            aux_path = os.path.join(fdirp, aux_name)
            if os.path.exists(aux_path):
                rows += [
                    ("parameter", fname, "bids_" + kind, aux_name),
                    ("parameter", fname, "bids_" + kind + "_blake2b_hash",
                     b2b_file(aux_path)),
                ]

        # scans.tsv (per-subject, filename-keyed; the reference's typo'd
        # 'scans_tsv_file_bake2hash' name preserved — scans.py:20)
        scans_path = os.path.join(fdir, sub, sub + "_scans.tsv")
        if os.path.exists(scans_path):
            with open(scans_path) as fh2:
                slines = fh2.read().splitlines()
            shdr = slines[0].split("\t")
            for line in slines[1:]:
                if not line:
                    continue
                rec = dict(zip(shdr, line.split("\t")))
                if rec.get("filename") != dtype + "/" + fname:
                    continue
                rows += [
                    ("file", fname, "acquisition_time", rec["acq_time"]),
                    ("parameter", fname, "scan_acquisition_time",
                     rec["acq_time"]),
                    ("parameter", fname, "age_at_scan", rec["age"]),
                    ("parameter", fname, "scans_tsv_file",
                     sub + "_scans.tsv"),
                    ("parameter", fname, "scans_tsv_file_bake2hash",
                     b2b_file(scans_path)),
                ]

    def q(sv: str) -> str:
        return "'" + sv.replace("'", "''") + "'"

    vals = ", ".join(
        f"({q(k)}, {q(e)}, {q(n)}, {q(v)})" for k, e, n, v in rows
    )
    return (
        "SELECT * FROM (VALUES " + vals + ") AS t(kind, entity, name, value)"
    )


@query("pipeline_mri_bids_import", oracle=_mri_bids_oracle())
def pipeline_mri_bids_import(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MRI BIDS dataset import — the MRI arm of the reference's secondary
    entry point (import_bids_dataset.py -> loris_bids_importer/mri/
    main.py + mri/sidecar.py) as ONE composed DAG over the committed
    MRI-BIDS fixture tree (the EEG capstone's recipe with imaging
    parsers swapped in):

    - acquisition inventory: metadata-only binaryFile scan of
      sub-*/<dtype>/*.nii[.gz] (zero data bytes read at scan time)
    - subject/session validation (validation/subjects.py, sessions.py):
      participants.tsv broadcast-joined; every reference error exit is a
      row classification (candidate_not_found / unknown_sex / no_suffix
      / unknown_suffix / duplicate_hash), never a failure
    - suffix -> scan-type resolution (mri/main.py:197-214): the
      KNOWN_SUFFIXES_PER_MRI_DATA_TYPE broadcast-literal map gates
      unknown suffixes; J10 get-or-create mints deterministic
      scan_type_ids for the distinct inserted suffixes
    - blake2b duplicate gate (mri/main.py:182-194
      get_check_bids_nifti_file_hash): the CHUNKED-read mapInPandas hash
      (8 MiB blocks — a multi-GB volume never materializes in a task)
      feeds a window over the hash; path-order keep-first, later copies
      classified duplicate_hash — the within-run analogue of the
      reference's try_get_file_with_hash DB probe
    - NIfTI spatial parameters (S4, imaging_lib/nifti.py:7-30): the
      348-byte header parse (xstep..zstep / xspace..zspace / time)
      semi-joined to inserted acquisitions
    - sidecar parameters (S8 + mri/sidecar.py): schema-free JSON map
      parse; every key a sidecar: row, the pinned BIDS->LORIS name map
      adding the mapped rows (file_parameter.py:68-79), registration
      fields (SeriesInstanceUID/EchoTime/EchoNumber/
      PhaseEncodingDirection -> register_mri_file args,
      mri/main.py:157-171) as file rows
    - X1 session hook: the sidecar PatientID through
      resolve_session_config (get_session_info, mri/sidecar.py:24-40)
      -> session_info rows for valid non-phantom ids
    - scans.tsv parameters (scans.py:7-20, the reference's typo'd
      scans_tsv_file_bake2hash preserved) keyed per acquisition filename
    - aux files (reader.py:32-53 association rules approximated
      path-side: bval/bvec share the NIfTI base, events/physio share the
      entity prefix): bids_<kind> + bids_<kind>_blake2b_hash parameters
    - preview picture (S15, imaging_lib/nifti_pic.py): the check_pic
      parameter row carrying the deterministic pic path

    100-TB shape: the inventory, sidecar, scans and aux scans are
    metadata- or small-text-only distributed listings; all content
    passes (hash, header parse) are per-file Arrow-batched chunked
    reads; participants and the inserted-file list broadcast into every
    association join (the big side never shuffles); the one shuffle is
    the duplicate-gate window on the HASH of the file table (rows, not
    bytes — correct and skew-free at any corpus size, hashes are
    uniform). At millions of files the broadcast inserted-list joins
    become bucketed shuffle joins on the base/prefix key — same plan
    shape, still rows-sized.

    Oracle: golden pure-Python replay with PINNED spatial values (the
    S4 parser is cross-checked, not reused), blake2b recomputed, plain
    json/split parses. Scale tiers point the QUERY at a cloned-subject
    tree via LORIS_MRI_BIDS_FIXTURES (the LORIS_BIDS_EEG_FIXTURES
    recipe); the oracle always pins the committed fixtures."""
    import os

    from loris_mri_spark.sources.bids import read_participants_tsv
    from loris_mri_spark.sources.nifti import read_nifti_headers

    fdir = os.environ.get("LORIS_MRI_BIDS_FIXTURES") or _bids_mri_dir()
    s = F.lit
    fname = F.element_at(F.split("path", "/"), -1)

    inv = (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.nii*")
        .load(fdir)
        .select(
            fname.alias("fname"),
            F.regexp_extract(fname, r"(sub-[0-9A-Za-z]+)", 1).alias("sub"),
            F.element_at(F.split("path", "/"), -2).alias("data_type"),
            F.regexp_extract(
                fname, r"_([A-Za-z0-9]+)\.nii(\.gz)?$", 1
            ).alias("suffix"),
            F.regexp_replace(fname, r"\.nii(\.gz)?$", "").alias("base"),
            # metadata only — content is never selected; the hash step
            # below streams the path in 8 MiB chunks
            "path",
        )
        .withColumn(
            "prefix", F.regexp_extract("base", r"^(.*)_[A-Za-z0-9]+$", 1)
        )
        .withColumn(
            "relp", F.concat_ws("/", "sub", "data_type", "fname")
        )
    )

    parts = read_participants_tsv(
        spark, f"{fdir}/participants.tsv"
    ).select(
        F.col("participant_id").alias("sub"), "sex", "site", "cohort"
    )
    sex_map = F.create_map(
        *[s(x) for kv in _BIDS_EEG_SEX.items() for x in kv]
    )
    parts = (
        parts.withColumn(
            "sex_norm", F.element_at(sex_map, F.lower("sex"))
        )
        .withColumn(
            "cand_ok",
            F.col("sex").isNull()
            | (F.col("sex") == "n/a")
            | F.col("sex_norm").isNotNull(),
        )
        .withColumn("has_row", F.lit(True))
    )

    known_map = F.create_map(
        *[x for dt, sfx in _BIDS_MRI_KNOWN_SUFFIXES.items()
          for x in (s(dt), F.array(*[s(v) for v in sfx]))]
    )
    inv = inv.join(F.broadcast(parts), "sub", "left").withColumn(
        "early",
        F.when(F.col("has_row").isNull(), "candidate_not_found")
        .when(~F.col("cand_ok"), "unknown_sex")
        .when(F.col("suffix") == "", "no_suffix")
        .when(
            ~F.coalesce(
                F.array_contains(
                    F.element_at(known_map, F.col("data_type")),
                    F.col("suffix"),
                ),
                F.lit(False),
            ),
            "unknown_suffix",
        ),
    )

    # duplicate gate: chunked hash, then path-order keep-first per hash.
    # The listed volumes are assumed immutable until hashed: one that
    # vanished in between hashes to NULL and is classified file_not_found
    # (never a duplicate of another vanished file).
    gated = inv.filter(F.col("early").isNull())
    hashed = gated.select(
        "fname", "sub", "data_type", "suffix", "base", "prefix", "relp",
        "path",
    ).mapInPandas(
        _blake2b_stream_partition,
        schema=(
            "fname string, sub string, data_type string, suffix string, "
            "base string, prefix string, relp string, b2b string"
        ),
    )
    dup_w = Window.partitionBy("b2b").orderBy("relp")
    hashed = hashed.withColumn(
        "status",
        F.when(F.col("b2b").isNull(), "file_not_found")
        .when(F.row_number().over(dup_w) > 1, "duplicate_hash")
        .otherwise("inserted"),
    )
    # --- aux + scans file hashes (one metadata scan, chunked hash) ------
    # defined HERE (it depends only on the fixture dir) so its anchor
    # job can overlap the volume-hash anchor below
    aux = (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", "true")
        .load(fdir)
        .select(fname.alias("aux_fname"), "path")
        .withColumn(
            "kind",
            F.when(F.col("aux_fname").endswith(".bval"), "bval")
            .when(F.col("aux_fname").endswith(".bvec"), "bvec")
            .when(F.col("aux_fname").endswith("_events.tsv"), "events")
            .when(F.col("aux_fname").endswith("_physio.tsv"), "physio")
            .when(F.col("aux_fname").endswith("_scans.tsv"), "scans")
            .when(F.col("aux_fname").endswith(".json"), "json"),
        )
        .filter(F.col("kind").isNotNull())
        .withColumn(
            "key",
            F.when(
                F.col("kind").isin("bval", "bvec", "json"),
                F.regexp_replace(
                    "aux_fname", r"\.(bval|bvec|json)$", ""
                ),
            )
            .when(
                F.col("kind").isin("events", "physio"),
                F.regexp_replace(
                    "aux_fname", r"_(events|physio)\.tsv$", ""
                ),
            )
            .otherwise(
                F.regexp_extract("aux_fname", r"(sub-[0-9A-Za-z]+)", 1)
            ),
        )
    )
    # (listed aux files are assumed immutable until hashed, as above)
    aux_hashed = aux.select("kind", "key", "aux_fname", "path").mapInPandas(
        _blake2b_stream_partition,
        schema="kind string, key string, aux_fname string, b2b string",
    )
    # the hashed table feeds ~10 union branches below; without an anchor
    # each branch would RE-RUN the chunked content hash of every volume
    # (the t16/vec_cosine_pairs_lsh lesson). EAGER local checkpoint: the
    # rows-sized table materializes exactly once at plan-build time —
    # lazy would let the concurrent union branches RACE to compute the
    # same partitions (duplicate hash work + accumulator-GC noise).
    # aux_hashed has the same anchor contract (four association joins
    # consume it); the two content-hash anchor jobs are independent, so
    # they materialize CONCURRENTLY — each job's task tail back-fills
    # the other's idle cores instead of running serially.
    from concurrent.futures import ThreadPoolExecutor

    from loris_mri_spark.session import inheritable

    with ThreadPoolExecutor(max_workers=2) as pool:
        fh = pool.submit(inheritable(hashed.localCheckpoint, spark), True)
        fa = pool.submit(inheritable(aux_hashed.localCheckpoint, spark), True)
        hashed, aux_hashed = fh.result(), fa.result()

    def rows4(df: DataFrame, kind, entity, name, value) -> DataFrame:
        return df.select(
            kind.alias("kind"),
            entity.alias("entity"),
            name.alias("name"),
            value.cast("string").alias("value"),
        )

    status_rows = rows4(
        inv.filter(F.col("early").isNotNull()),
        s("acquisition"), F.col("fname"), s("status"), F.col("early"),
    ).unionByName(rows4(
        hashed, s("acquisition"), F.col("fname"), s("status"),
        F.col("status"),
    ))

    def mid(prefix: Column, key: Column) -> Column:
        return md5_60(F.concat(prefix, key)).cast("string")

    cand_id = mid(s("cand:"), F.col("sub"))
    sess_id = mid(s("sess:"), F.concat("sub", s(":" + _BIDS_EEG_VISIT)))

    def knv(k: Column, n: Column, v: Column) -> Column:
        return F.struct(k.alias("k"), n.alias("n"), v.alias("v"))

    # candidate + session rows (dataset-wide validation, EEG recipe)
    cand_rows = (
        inv.select("sub").distinct()
        .join(F.broadcast(parts), "sub")
        .filter("cand_ok")
        .select(
            "sub", F.coalesce("sex_norm", s("")).alias("sexn"),
            "site", "cohort", cand_id.alias("cid"), sess_id.alias("sid"),
        )
        .select(
            "sub",
            F.explode(F.array(
                knv(s("candidate"), s("cand_id"), F.col("cid")),
                knv(s("candidate"), s("sex"), F.col("sexn")),
                knv(s("candidate"), s("site"), F.col("site")),
                knv(s("session"), s("session_id"), F.col("sid")),
                knv(s("session"), s("visit_label"), s(_BIDS_EEG_VISIT)),
                knv(s("session"), s("cohort"), F.col("cohort")),
            )).alias("r"),
        )
        .select(F.col("r.k").alias("kind"), F.col("sub").alias("entity"),
                F.col("r.n").alias("name"),
                F.col("r.v").cast("string").alias("value"))
    )

    ins = hashed.filter(F.col("status") == "inserted")

    # J10: deterministic scan-type get-or-create per distinct suffix
    scan_type_rows = rows4(
        ins.select("suffix").distinct(),
        s("scan_type"), F.col("suffix"), s("scan_type_id"),
        mid(s("scantype:"), F.col("suffix")),
    )

    def nv(n: Column, v: Column) -> Column:
        return F.struct(n.alias("n"), v.cast("string").alias("v"))

    file_core = ins.select(
        "fname",
        F.explode(F.array(
            nv(s("file_id"), mid(s("mri:"), F.col("fname"))),
            nv(s("cand_id"), cand_id),
            nv(s("session_id"), sess_id),
            nv(s("file_type"), s("nii")),
            nv(s("scan_type"), F.col("suffix")),
        )).alias("r"),
    ).select(s("file").alias("kind"), F.col("fname").alias("entity"),
             F.col("r.n").alias("name"), F.col("r.v").alias("value"))

    param_core = ins.select(
        "fname",
        F.explode(F.array(
            nv(s("file_blake2b_hash"), F.col("b2b")),
            nv(s("check_pic"),
               F.concat(s("pic/"), mid(s("mri:"), F.col("fname")),
                        s("_check.png"))),
        )).alias("r"),
    ).select(s("parameter").alias("kind"), F.col("fname").alias("entity"),
             F.col("r.n").alias("name"), F.col("r.v").alias("value"))

    ins_files = ins.select("fname", "sub", "data_type", "base", "prefix",
                           "relp")

    # --- spatial parameters (S4 header parse, semi-joined to inserted) --
    hdrs = (
        read_nifti_headers(spark, fdir)
        .select(fname.alias("fname"), "xspace", "yspace", "zspace",
                "time", "xstep", "ystep", "zstep")
        .join(F.broadcast(ins_files.select("fname")), "fname")
    )
    spatial_rows = hdrs.select(
        "fname",
        F.explode(F.filter(F.array(
            nv(s("xspace"), F.col("xspace")),
            nv(s("yspace"), F.col("yspace")),
            nv(s("zspace"), F.col("zspace")),
            nv(s("xstep"), F.col("xstep")),
            nv(s("ystep"), F.col("ystep")),
            nv(s("zstep"), F.col("zstep")),
            nv(s("time"), F.col("time")),
        ), lambda r: r["v"].isNotNull())).alias("r"),
    ).select(s("parameter").alias("kind"), F.col("fname").alias("entity"),
             F.col("r.n").alias("name"), F.col("r.v").alias("value"))

    # --- sidecar parameters (S8, mri/sidecar.py) ------------------------
    sc = (
        spark.read.format("text")
        .option("wholetext", "true")
        .load(f"{fdir}/sub-*/*/*.json")
        .withColumn("__file", F.col("_metadata.file_path"))
        .select(
            F.element_at(F.split("__file", "/"), -1).alias("json_fname"),
            F.from_json("value", "map<string,string>").alias("params"),
        )
        .withColumn(
            "base", F.regexp_replace("json_fname", r"\.json$", "")
        )
        .join(F.broadcast(ins_files.select("base", "fname")), "base")
    )
    sc_kv = sc.select("fname", F.explode("params").alias("k", "v"))
    sidecar_rows = rows4(
        sc_kv, s("parameter"), F.col("fname"),
        F.concat(s("sidecar:"), F.col("k")), F.col("v"),
    )
    loris_map = F.create_map(
        *[s(x) for kv in _BIDS_TO_LORIS_PARAMS.items() for x in kv]
    )
    mapped_rows = rows4(
        sc_kv.withColumn("m", F.element_at(loris_map, F.col("k")))
        .filter(F.col("m").isNotNull()),
        s("parameter"), F.col("fname"), F.col("m"), F.col("v"),
    )
    reg_fields = F.array(
        nv(s("series_uid"), F.col("params")["SeriesInstanceUID"]),
        nv(s("echo_time"), F.col("params")["EchoTime"]),
        nv(s("echo_number"), F.col("params")["EchoNumber"]),
        nv(s("phase_encoding_direction"),
           F.col("params")["PhaseEncodingDirection"]),
    )
    reg_rows = sc.select(
        "fname",
        F.explode(
            F.filter(reg_fields, lambda r: r["v"].isNotNull())
        ).alias("r"),
    ).select(s("file").alias("kind"), F.col("fname").alias("entity"),
             F.col("r.n").alias("name"), F.col("r.v").alias("value"))

    # --- X1 session hook over the sidecar PatientID ---------------------
    si = resolve_session_config(
        sc.select("fname", F.col("params")["PatientID"].alias(
            "patient_id")).filter(F.col("patient_id").isNotNull()),
        "patient_id",
    ).filter(F.col("project").isNotNull())
    session_info_rows = si.select(
        "fname",
        F.explode(F.array(
            nv(s("project"), F.col("project")),
            nv(s("candidate"), F.col("candidate")),
            nv(s("visit_label"), F.col("visit_label")),
            nv(s("is_phantom"), F.col("is_phantom")),
        )).alias("r"),
    ).select(s("session_info").alias("kind"),
             F.col("fname").alias("entity"),
             F.col("r.n").alias("name"), F.col("r.v").alias("value"))

    # (aux + scans hashes were anchored above, concurrently with the
    # volume-hash anchor)
    base_aux = (
        aux_hashed.filter(F.col("kind").isin("bval", "bvec"))
        .join(F.broadcast(ins_files.select(
            F.col("base").alias("key"), "fname")), "key")
    )
    prefix_aux = (
        aux_hashed.filter(F.col("kind").isin("events", "physio"))
        .join(F.broadcast(ins_files.select(
            F.col("prefix").alias("key"), "fname")), "key")
    )
    json_aux = (
        aux_hashed.filter(F.col("kind") == "json")
        .join(F.broadcast(ins_files.select(
            F.col("base").alias("key"), "fname")), "key")
        .withColumn("kind", s("json_file"))
    )
    aux_rows = (
        base_aux.unionByName(prefix_aux).unionByName(json_aux)
        .select(
            "fname",
            F.explode(F.array(
                nv(F.concat(s("bids_"), F.col("kind")),
                   F.col("aux_fname")),
                nv(F.concat(s("bids_"), F.col("kind"),
                            s("_blake2b_hash")), F.col("b2b")),
            )).alias("r"),
        )
        .select(s("parameter").alias("kind"),
                F.col("fname").alias("entity"),
                F.col("r.n").alias("name"), F.col("r.v").alias("value"))
    )

    # --- scans.tsv rows (schema-free header-map parse, EEG recipe) ------
    scans_raw = (
        spark.read.format("text")
        .option("wholetext", "true")
        .load(f"{fdir}/sub-*/sub-*_scans.tsv")
        .withColumn("__file", F.col("_metadata.file_path"))
        .select(
            F.element_at(F.split("__file", "/"), -1).alias("scans_fname"),
            F.regexp_extract(
                F.element_at(F.split("__file", "/"), -1),
                r"(sub-[0-9A-Za-z]+)", 1,
            ).alias("sub"),
            F.split(F.regexp_replace("value", r"\r", ""), "\n")
            .alias("lines"),
        )
    )
    scans = (
        scans_raw.select(
            "scans_fname", "sub",
            F.split(F.element_at("lines", 1), "\t").alias("hdr"),
            F.posexplode("lines").alias("pos", "line"),
        )
        .filter((F.col("pos") > 0) & (F.length("line") > 0))
        .select(
            "scans_fname", "sub",
            F.map_from_arrays(
                "hdr",
                F.slice(
                    F.concat(
                        F.split("line", "\t"),
                        F.array_repeat(
                            F.lit(None).cast("string"), F.size("hdr")
                        ),
                    ),
                    1, F.size("hdr"),
                ),
            ).alias("m"),
        )
        .withColumn("filename", F.col("m")["filename"])
        .join(
            F.broadcast(
                ins_files.select(
                    "sub", "fname",
                    F.concat_ws(
                        "/", "data_type", "fname"
                    ).alias("filename"),
                )
            ),
            ["sub", "filename"],
        )
        .join(
            F.broadcast(
                aux_hashed.filter(F.col("kind") == "scans").select(
                    F.col("key").alias("sub"),
                    F.col("b2b").alias("scans_b2b"),
                )
            ),
            "sub",
        )
    )
    scans_file_rows = rows4(
        scans.filter(F.col("m")["acq_time"].isNotNull()),
        s("file"), F.col("fname"), s("acquisition_time"),
        F.col("m")["acq_time"],
    )
    scans_param_rows = scans.select(
        "fname",
        F.explode(F.filter(F.array(
            nv(s("scan_acquisition_time"), F.col("m")["acq_time"]),
            nv(s("age_at_scan"), F.col("m")["age"]),
            nv(s("scans_tsv_file"), F.col("scans_fname")),
            nv(s("scans_tsv_file_bake2hash"), F.col("scans_b2b")),
        ), lambda r: r["v"].isNotNull())).alias("r"),
    ).select(s("parameter").alias("kind"), F.col("fname").alias("entity"),
             F.col("r.n").alias("name"), F.col("r.v").alias("value"))

    out = (
        status_rows.unionByName(cand_rows)
        .unionByName(scan_type_rows)
        .unionByName(file_core)
        .unionByName(param_core)
        .unionByName(spatial_rows)
        .unionByName(sidecar_rows)
        .unionByName(mapped_rows)
        .unionByName(reg_rows)
        .unionByName(session_info_rows)
        .unionByName(aux_rows)
        .unionByName(scans_file_rows)
        .unionByName(scans_param_rows)
    )
    return out


# -- unified BIDS dataset import: the entry point's modality dispatch --

# The reference's single entry point processes a dataset whose sessions
# hold BOTH imaging and electrophysiology data-type directories in ONE
# run, dispatching per directory (loris_bids_importer/main.py:190-194
# `match data_type: case BidsMriDataTypeReader() -> MRI arm; case
# BidsDataTypeReader() -> EEG arm`); the reader builds MRI readers for
# these directory names and EEG readers for those
# (loris_bids_utils/reader.py:279,296).
_BIDS_MRI_DATA_TYPES = ("anat", "dwi", "fmap", "func")
_BIDS_EEG_DATA_TYPES = ("eeg", "ieeg")


def _bids_dispatch_rows() -> "list[tuple[str, str, str, str, str]]":
    """Pure-Python replay of the per-data-type-directory dispatch: walk
    both committed fixture trees (standing in for one mixed dataset's
    two modality halves), one row per (subject, data-type dir) holding
    at least one file."""
    import os

    rows: list[tuple[str, str, str, str, str]] = []
    for root in (_bids_eeg_dir(), _bids_mri_dir()):
        if not os.path.isdir(root):
            return []
        for sub in sorted(os.listdir(root)):
            subp = os.path.join(root, sub)
            if not (sub.startswith("sub-") and os.path.isdir(subp)):
                continue
            for dt in sorted(os.listdir(subp)):
                dtp = os.path.join(subp, dt)
                if not os.path.isdir(dtp) or not os.listdir(dtp):
                    continue
                if dt in _BIDS_MRI_DATA_TYPES:
                    arm = "mri"
                elif dt in _BIDS_EEG_DATA_TYPES:
                    arm = "eeg"
                else:
                    continue
                rows.append(
                    ("dispatch", f"{sub}/{dt}", "arm", arm, arm)
                )
    return rows


def _bids_dataset_oracle() -> "str | None":
    """Composed oracle: both arms' golden replays (each already an
    independent pure-Python replay of its tree) tagged with their
    modality, plus the dispatch VALUES. Degrades with its parts: if
    either arm's oracle degrades to rows-only, so does this one."""
    eeg = _eeg_bids_oracle()
    mri = _mri_bids_oracle()
    disp = _bids_dispatch_rows()
    if eeg is None or mri is None or not disp:
        return None

    def q(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    vals = ", ".join(
        "(" + ", ".join(q(x) for x in r) + ")" for r in disp
    )
    return (
        "SELECT kind, entity, name, value, 'eeg' AS modality FROM ("
        + eeg
        + ") UNION ALL SELECT kind, entity, name, value, 'mri' AS"
        " modality FROM ("
        + mri
        + ") UNION ALL SELECT * FROM (VALUES "
        + vals
        + ") AS d(kind, entity, name, value, modality)"
    )


@query("pipeline_bids_dataset_import", oracle=_bids_dataset_oracle())
def pipeline_bids_dataset_import(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Unified BIDS dataset import — the reference's secondary entry
    point END TO END: import_bids_dataset.py processes a dataset whose
    sessions hold both imaging and electrophysiology data-type
    directories in ONE run, dispatching per directory
    (loris_bids_importer/main.py:190-194; MRI directory set
    loris_bids_utils/reader.py:279, EEG set :296). The two arm queries
    (pipeline_eeg_bids_ingest, pipeline_mri_bids_import) each cover one
    modality; this query covers the DISPATCH and the composition:

    - one metadata-only binaryFile listing per modality half (the two
      committed fixture trees stand in for one mixed dataset; content is
      never selected), distinct (subject, data-type dir) pairs
      classified to an arm exactly as the reference's match statement —
      emitted as `dispatch` rows;
    - both arms' full row sets, tagged with a `modality` column.

    100-TB shape: the dispatch listing is a pure-metadata distributed
    scan (rows = files, shrunk to distinct (sub, dtype) pairs by a
    partial-agg distinct); the arms keep their pinned plans (broadcast
    dims, chunked Arrow content passes, no SortMergeJoin). Oracle: both
    golden replays + the dispatch walk, composed; engine and oracle
    share no parsing code."""
    import os

    eeg_dir = os.environ.get("LORIS_BIDS_EEG_FIXTURES") or _bids_eeg_dir()
    mri_dir = os.environ.get("LORIS_MRI_BIDS_FIXTURES") or _bids_mri_dir()
    s = F.lit

    def build_disp() -> DataFrame:
        # built on a pool thread: binaryFile `.load()` lists the fixture
        # tree EAGERLY on the driver (InMemoryFileIndex), so the two
        # dispatch listings overlap the arm builds instead of preceding
        # them serially — same expression tree, same plan
        halves = []
        for root in (eeg_dir, mri_dir):
            halves.append(
                spark.read.format("binaryFile")
                .option("recursiveFileLookup", "true")
                .load(root)
                .select(
                    F.regexp_extract(
                        F.element_at(F.split("path", "/"), -3),
                        r"^(sub-[0-9A-Za-z]+)$",
                        1,
                    ).alias("sub"),
                    F.element_at(F.split("path", "/"), -2).alias("data_type"),
                )
            )
        return (
            halves[0]
            .unionByName(halves[1])
            .filter(F.col("sub") != "")
            .filter(
                F.col("data_type").isin(
                    *_BIDS_MRI_DATA_TYPES, *_BIDS_EEG_DATA_TYPES
                )
            )
            .distinct()
            .select(
                s("dispatch").alias("kind"),
                F.concat_ws("/", "sub", "data_type").alias("entity"),
                s("arm").alias("name"),
                F.when(
                    F.col("data_type").isin(*_BIDS_MRI_DATA_TYPES), s("mri")
                )
                .otherwise(s("eeg"))
                .alias("value"),
            )
            .withColumn("modality", F.col("value"))
        )

    # the two arm builds and the dispatch listing are independent: each
    # arm is ~200-400 driver-side py4j ops (which release the GIL on
    # every JVM round-trip) plus, for the MRI arm, two eager anchor
    # jobs — building all three from threads overlaps the EEG arm's
    # build with the MRI arm's anchor execution and the dispatch
    # listings instead of paying the sum serially
    from concurrent.futures import ThreadPoolExecutor

    from loris_mri_spark.session import inheritable

    with ThreadPoolExecutor(max_workers=3) as pool:
        f_disp = pool.submit(inheritable(build_disp, spark))
        f_eeg = pool.submit(inheritable(pipeline_eeg_bids_ingest, spark), spark, sf_dir)
        f_mri = pool.submit(inheritable(pipeline_mri_bids_import, spark), spark, sf_dir)
        disp = f_disp.result()
        eeg = f_eeg.result().withColumn("modality", s("eeg"))
        mri = f_mri.result().withColumn("modality", s("mri"))
    return disp.unionByName(eeg).unionByName(mri)
