"""Similarity-search workload over the `embeddings` table
(vec_id bigint, embedding float[64], label int) — ANN extension mandated
alongside SURVEY §2 (BASELINE.json north star).

Float discipline for oracle parity: both engines cast float32 -> double
BEFORE any arithmetic and fold sums sequentially (Spark `aggregate` /
DuckDB `list_sum`), so cosine values agree to ~1e-15 and ROUND(...,6) is
stable on both sides.
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from loris_mri_spark.catalog import load_table, table_path
from loris_mri_spark.operators.vectors import (
    as_double,
    cosine,
    cosine_topk,
    hyperplane_lsh_pairs,
    ivf_topk,
)
from loris_mri_spark.workload import query
from loris_mri_spark.workload import shared_df as _shared


def _lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH verified cosine pairs (>= 0.45) — consumed by the
    pair listing and the cluster collapse; one persisted copy under
    spark.loris.sharedCache (see workload.shared_df)."""

    def build() -> DataFrame:
        e = load_table(spark, sf_dir, "embeddings")
        return hyperplane_lsh_pairs(
            e, id_col="vec_id", vec_col="embedding", threshold=0.45,
            n_planes=64, bands=16, dim=64,
        )

    return _shared(spark, ("hyperplane_lsh_pairs", sf_dir), build)

# Shared DuckDB fragments: double-cast vectors + sequential-fold cosine.
_V_CTE = """
    v AS (SELECT vec_id, label,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
          FROM embeddings)
"""

_SQL_COS = (
    "(list_sum(list_transform(range(1, 65), k -> {a}[k] * {b}[k]))"
    " / sqrt(list_sum(list_transform({a}, x -> x * x)))"
    " / sqrt(list_sum(list_transform({b}, x -> x * x))))"
)


@query(
    "ann_cosine_topk_exact",
    oracle=f"""
    WITH {_V_CTE},
    q AS (SELECT vec_id AS query_id, emb AS qv FROM v WHERE vec_id < 10),
    scored AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             {_SQL_COS.format(a='q.qv', b='c.emb')} AS cos
      FROM q JOIN v c ON c.vec_id <> q.query_id),
    ranked AS (
      SELECT query_id, neighbor_id, cos,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, neighbor_id ASC)
                  AS BIGINT) AS rank
      FROM scored)
    SELECT query_id, neighbor_id, rank, ROUND(cos, 6) AS cos_r
    FROM ranked WHERE rank <= 5
    """,
)
def ann_cosine_topk_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 cosine neighbors for a bounded query set (vec_id < 10):
    broadcast queries, ONE scan of the corpus, JVM-side double math."""
    e = load_table(spark, sf_dir, "embeddings")
    out = cosine_topk(
        e.filter(F.col("vec_id") < 10), e, id_col="vec_id", vec_col="embedding", k=5
    )
    return out.select(
        "query_id", "neighbor_id", "rank", F.round("cos", 6).alias("cos_r")
    )


# Decimal-exact centroid of a (cell, emb) relation — mirrors
# operators/vectors.cell_centroids: quantize each (double) component to
# DECIMAL(27,9), sum exactly, one double conversion + one division.
def _dec_centroid_sql(rel: str, cell_expr: str = "cell") -> str:
    return f"""
      SELECT {cell_expr} AS cell, list(comp ORDER BY pos) AS cv FROM (
        SELECT {cell_expr}, pos,
               CAST(SUM(dv) AS DOUBLE) / COUNT(*) AS comp
        FROM (SELECT {cell_expr}, unnest(range(0, 64)) AS pos,
                     CAST(unnest(emb) AS DECIMAL(27,9)) AS dv
              FROM {rel})
        GROUP BY {cell_expr}, pos)
      GROUP BY {cell_expr}
    """


@query(
    "ann_ivf_topk",
    oracle=f"""
    WITH {_V_CTE},
    centroids AS ({_dec_centroid_sql("v", "label")}),
    q AS (SELECT vec_id AS query_id, emb AS qv FROM v WHERE vec_id < 10),
    cell_ranked AS (
      SELECT q.query_id, q.qv, c.cell,
             ROW_NUMBER() OVER (PARTITION BY q.query_id
                                ORDER BY {_SQL_COS.format(a='q.qv', b='c.cv')} DESC,
                                         c.cell ASC) AS crank
      FROM q CROSS JOIN centroids c),
    probed AS (SELECT query_id, qv, cell FROM cell_ranked WHERE crank <= 2),
    scored AS (
      SELECT p.query_id, c.vec_id AS neighbor_id,
             {_SQL_COS.format(a='p.qv', b='c.emb')} AS cos
      FROM probed p JOIN v c ON c.label = p.cell AND c.vec_id <> p.query_id),
    ranked AS (
      SELECT query_id, neighbor_id, cos,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, neighbor_id ASC)
                  AS BIGINT) AS rank
      FROM scored)
    SELECT query_id, neighbor_id, rank, ROUND(cos, 6) AS cos_r
    FROM ranked WHERE rank <= 5
    """,
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF scale path: probe the 2 most-similar cells (label = coarse
    cell), search only those cells' vectors. Deterministic, so it has a
    full oracle; recall vs the exact answer is measured in tests."""
    e = load_table(spark, sf_dir, "embeddings")
    out = ivf_topk(
        e.filter(F.col("vec_id") < 10),
        e,
        id_col="vec_id",
        vec_col="embedding",
        cell_col="label",
        k=5,
        nprobe=2,
    )
    return out.select(
        "query_id", "neighbor_id", "rank", F.round("cos", 6).alias("cos_r")
    )


def _kmeans_train_ctes(n_cells: int = 8, n_iter: int = 2) -> list[str]:
    """DuckDB CTE chain replaying kmeans_cells exactly: v (double-cast
    corpus), c0 (seeds = first n_cells vectors, cell label = seed id),
    then per round a{i} (argmax-cosine assignment, ties to lowest cell)
    and c{i} (decimal-exact centroid update). Shared by every oracle
    that consumes the trained quantizer."""
    parts = [
        _V_CTE,
        f"c0 AS (SELECT vec_id AS cell, emb AS cv FROM v WHERE vec_id < {n_cells})",
    ]
    for i in range(1, n_iter + 1):
        cos = _SQL_COS.format(a="v.emb", b="c.cv")
        parts.append(f"""
    a{i} AS (
      SELECT vec_id, emb, cell FROM (
        SELECT v.vec_id, v.emb, c.cell,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                                  ORDER BY {cos} DESC, c.cell ASC) AS rn
        FROM v CROSS JOIN c{i - 1} c) WHERE rn = 1)""")
        parts.append(f"c{i} AS ({_dec_centroid_sql(f'a{i}')})")
    return parts


def _kmeans_oracle(n_cells: int = 8, n_iter: int = 2) -> str:
    """Generate the DuckDB mirror of kmeans_cells + ivf_topk: seeds are
    the first n_cells vectors (cell label = seed id), each iteration is
    argmax-cosine assignment (ties to lowest cell) + decimal-exact
    centroid update — the identical deterministic procedure, so the
    trained cells, probes, and final top-k agree exactly."""
    parts = _kmeans_train_ctes(n_cells, n_iter)
    final_a, final_c = f"a{n_iter}", f"c{n_iter}"
    probe_cos = _SQL_COS.format(a="q.qv", b="c.cv")
    score_cos = _SQL_COS.format(a="p.qv", b="s.emb")
    parts.append(f"""
    q AS (SELECT vec_id AS query_id, emb AS qv FROM v WHERE vec_id < 10),
    cell_ranked AS (
      SELECT q.query_id, q.qv, c.cell,
             ROW_NUMBER() OVER (PARTITION BY q.query_id
                                ORDER BY {probe_cos} DESC, c.cell ASC)
               AS crank
      FROM q CROSS JOIN {final_c} c),
    probed AS (SELECT query_id, qv, cell FROM cell_ranked WHERE crank <= 2),
    scored AS (
      SELECT p.query_id, s.vec_id AS neighbor_id,
             {score_cos} AS cos
      FROM probed p JOIN {final_a} s
        ON s.cell = p.cell AND s.vec_id <> p.query_id),
    ranked AS (
      SELECT query_id, neighbor_id, cos,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, neighbor_id ASC)
                  AS BIGINT) AS rank
      FROM scored)""")
    return (
        "WITH " + ",\n".join(parts)
        + "\n    SELECT query_id, neighbor_id, rank, ROUND(cos, 6) AS cos_r"
        + "\n    FROM ranked WHERE rank <= 5"
    )


@query("ann_ivf_kmeans_topk", oracle=_kmeans_oracle())
def ann_ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with a TRAINED coarse quantizer: spherical k-means (8 cells,
    2 rounds, deterministic seeds/ties/decimal-exact updates) replaces
    label-as-cell; probe the 2 best trained cells per query. The oracle
    replays the full training loop in SQL; recall vs the exact answer is
    measured in tests/test_vectors.py."""
    from loris_mri_spark.operators.vectors import kmeans_cells

    e = load_table(spark, sf_dir, "embeddings")
    # keep_cols: the assignment IS the corpus rows plus the argmax cell
    # column (a pure projection) — the former e.join(assignment, vec_id)
    # was a corpus self-join reattaching columns the projection already
    # carried (broadcast of a corpus-sized side here, a full corpus
    # shuffle at scale).
    corpus, centroids = kmeans_cells(
        e, id_col="vec_id", vec_col="embedding", n_cells=8, n_iter=2,
        keep_cols=True,
    )
    out = ivf_topk(
        e.filter(F.col("vec_id") < 10),
        corpus,
        id_col="vec_id",
        vec_col="embedding",
        cell_col="cell",
        k=5,
        nprobe=2,
        centroids=centroids,
    )
    return out.select(
        "query_id", "neighbor_id", "rank", F.round("cos", 6).alias("cos_r")
    )


@query(
    "vec_centroid_per_label",
    oracle="""
    SELECT label,
           CAST(pos AS BIGINT) AS pos,
           ROUND(AVG(v), 6) AS avg_val
    FROM (SELECT label,
                 unnest(range(0, 64)) AS pos,
                 unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS v
          FROM embeddings)
    GROUP BY label, pos
    """,
)
def vec_centroid_per_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid, flattened to (label, pos, avg) — the W4
    ordered-position/posexplode operator (SURVEY §2.5; chunk-index
    enumeration `loris_ephys_chunker/.../chunking.py:141-157`) applied to
    embedding components."""
    e = load_table(spark, sf_dir, "embeddings")
    return (
        e.select(
            "label",
            F.posexplode(F.transform("embedding", lambda x: x.cast("double"))).alias(
                "pos", "v"
            ),
        )
        .groupBy("label", F.col("pos").cast("long").alias("pos"))
        .agg(F.round(F.avg("v"), 6).alias("avg_val"))
    )


@query(
    "dedup_embedding_cosine_pairs",
    oracle=f"""
    WITH {_V_CTE},
    b AS (SELECT vec_id, emb FROM v WHERE vec_id < 200)
    SELECT a.vec_id AS i, c.vec_id AS j,
           ROUND({_SQL_COS.format(a='a.emb', b='c.emb')}, 6) AS cos_r
    FROM b a JOIN v c ON a.vec_id < c.vec_id
    WHERE {_SQL_COS.format(a='a.emb', b='c.emb')} >= 0.45
    """,
)
def dedup_embedding_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup, exact reference form: a BOUNDED probe
    set (vec_id < 200, e.g. the new-arrivals batch) against the full
    corpus — broadcast the bounded side, one corpus scan, JVM-side double
    math, i < j dedup. The unbounded corpus-x-corpus form is the LSH path
    (vec_cosine_pairs_lsh); this exact variant is the oracle-checkable
    anchor the LSH recall is measured against."""
    from loris_mri_spark.operators.vectors import dot, l2_norm

    e = load_table(spark, sf_dir, "embeddings")
    # Norms are hoisted ABOVE the join (once per row, not once per pair —
    # 3x fewer folds); cos keeps the identical dot/na/nb operation order,
    # so the value is bit-for-bit the oracle's.
    probe = e.filter(F.col("vec_id") < 200).select(
        F.col("vec_id").alias("i"),
        as_double("embedding").alias("__a"),
    ).withColumn("__na", l2_norm(F.col("__a")))
    corpus = e.select(
        F.col("vec_id").alias("j"), as_double("embedding").alias("__b")
    ).withColumn("__nb", l2_norm(F.col("__b")))
    return (
        F.broadcast(probe)
        .join(corpus, F.col("i") < F.col("j"))
        .select(
            "i",
            "j",
            (dot(F.col("__a"), F.col("__b")) / F.col("__na") / F.col("__nb"))
            .alias("cos"),
        )
        .filter(F.col("cos") >= 0.45)
        .select("i", "j", F.round("cos", 6).alias("cos_r"))
    )


# SemDeDup duplicate threshold — read by BOTH the oracle generator and
# the grouped-map kernel below, so editing it can never desync the sides.
_SEMDEDUP_EPS = 0.45

# Per-cell task budget: the kernel REFUSES a cell above this row count
# (a descriptive error instead of an executor OOM — the remedy is raising
# n_cells so k ~ sqrt(n) holds), and computes the similarity row-blocked
# so peak memory is O(block * n) doubles, never the O(n^2) full matrix.
# At the cap, a block is 2048 x 32768 * 8 B = 512 MiB transient.
_SEMDEDUP_CELL_CAP = 32768
_SEMDEDUP_BLOCK = 2048


def _semdedup_oracle(
    n_cells: int = 8, n_iter: int = 2, eps: float = _SEMDEDUP_EPS
) -> str:
    """DuckDB mirror of dedup_semdedup: the shared k-means training chain
    (_kmeans_train_ctes — identical seeds/ties/decimal updates, so cell
    assignments agree exactly), then within-cell cosine>=eps pair edges,
    recursive-CTE min-label components, and the SemDeDup keep rule
    (per component keep the member LEAST similar to its cell centroid,
    ties to lowest vec_id)."""
    parts = _kmeans_train_ctes(n_cells, n_iter)
    a, c = f"a{n_iter}", f"c{n_iter}"
    ccos = _SQL_COS.format(a="m.emb", b="c.cv")
    pcos = _SQL_COS.format(a="x.emb", b="y.emb")
    parts.append(f"""
    cc AS (
      SELECT m.vec_id, m.cell, {ccos} AS ccos
      FROM {a} m JOIN {c} c ON c.cell = m.cell),
    pairs AS (
      SELECT x.vec_id AS i, y.vec_id AS j
      FROM {a} x JOIN {a} y
        ON x.cell = y.cell AND x.vec_id < y.vec_id
      WHERE {pcos} >= {eps}),
    nodes AS (SELECT DISTINCT n FROM (SELECT i AS n FROM pairs
                                      UNION SELECT j FROM pairs)),
    edges2 AS (SELECT i, j FROM pairs UNION SELECT j AS i, i AS j FROM pairs),
    reach AS (
      SELECT n AS node, n AS r FROM nodes
      UNION
      SELECT rr.node, e.j AS r FROM reach rr JOIN edges2 e ON e.i = rr.r),
    comp AS (SELECT node, MIN(r) AS component FROM reach GROUP BY node),
    ranked AS (
      SELECT p.node AS vec_id, p.component, cc.cell, cc.ccos,
             ROW_NUMBER() OVER (PARTITION BY p.component
                                ORDER BY cc.ccos ASC, p.node ASC) AS rn
      FROM comp p JOIN cc ON cc.vec_id = p.node)""")
    return (
        "WITH RECURSIVE " + ",\n".join(parts)
        + "\n    SELECT vec_id, CAST(component AS BIGINT) AS component,"
        + "\n           CAST(cell AS BIGINT) AS cell,"
        + "\n           ROUND(ccos, 6) AS cos_centroid_r, (rn = 1) AS keep"
        + "\n    FROM ranked"
    )


def semdedup_fold_cos(a, b) -> float:  # noqa: ANN001
    """Sequential left-fold cosine replaying the JVM/DuckDB operation
    order exactly (operators/vectors.cosine / _SQL_COS) — the tie-breaker
    for pairs the vectorized matmul puts within 1e-6 of the threshold."""
    s = 0.0
    for x, y in zip(a, b):
        s += x * y
    na = 0.0
    for x in a:
        na += x * x
    nb = 0.0
    for y in b:
        nb += y * y
    return s / na**0.5 / nb**0.5


def semdedup_cell_kernel(pdf):  # noqa: ANN001 - pandas grouped map
    """Per-cell SemDeDup phase (module-level so it is importable on
    executors AND property-testable without a Spark session): vectorized
    within-cell similarity matrix, union-find components over pairs with
    cosine >= _SEMDEDUP_EPS (borderline pairs re-decided by
    semdedup_fold_cos), and the keep rule (per component keep the member
    with the LOWEST centroid cosine, ties to lowest vec_id). Input
    columns: vec_id, cell, emb (list<double>), ccos. Emits only members
    of >=2-node duplicate groups."""
    import numpy as np
    import pandas as pd

    out_cols = ["vec_id", "component", "cell", "ccos", "keep"]

    def empty():
        # dtype-carrying empty frame: Arrow can't infer long/double/
        # boolean from length-0 object columns on every pyarrow
        # version, and a 1-member or edge-free cell is a legal input
        return pd.DataFrame(
            {
                "vec_id": pd.Series(dtype="int64"),
                "component": pd.Series(dtype="int64"),
                "cell": pd.Series(dtype="int64"),
                "ccos": pd.Series(dtype="float64"),
                "keep": pd.Series(dtype="bool"),
            }
        )

    n = len(pdf)
    if n < 2:
        return empty()
    if n > _SEMDEDUP_CELL_CAP:
        raise ValueError(
            f"SemDeDup cell {int(pdf['cell'].iloc[0])} has {n} rows, over "
            f"the {_SEMDEDUP_CELL_CAP}-row task cap: raise n_cells so "
            "k ~ sqrt(n) holds (dedup_semdedup_cellstats reports per-cell "
            "sizes and flags offenders before any kernel runs)"
        )
    ids = pdf["vec_id"].to_numpy()
    mat = np.array(pdf["emb"].tolist(), dtype=np.float64)
    norms = np.sqrt((mat * mat).sum(axis=1))
    eps = _SEMDEDUP_EPS
    # Row-blocked similarity: each pass materializes only block x n of
    # the matrix (same per-pair arithmetic as the full matmul, so the
    # 1e-6 borderline envelope is unchanged), keeping ONLY candidate
    # pairs — peak memory O(block * n) instead of O(n^2).
    iu_parts, ju_parts, sim_parts = [], [], []
    for b0 in range(0, n, _SEMDEDUP_BLOCK):
        b1 = min(b0 + _SEMDEDUP_BLOCK, n)
        sim_b = (mat[b0:b1] @ mat.T) / norms[b0:b1, None] / norms[None, :]
        bi, bj = np.nonzero(sim_b >= eps - 1e-6)
        ut = b0 + bi < bj  # strict upper triangle, across blocks
        bi, bj = bi[ut], bj[ut]
        iu_parts.append(bi + b0)
        ju_parts.append(bj)
        sim_parts.append(sim_b[bi, bj])
    iu = np.concatenate(iu_parts)
    ju = np.concatenate(ju_parts)
    sims = np.concatenate(sim_parts)

    parent = {}

    def find(x):  # noqa: ANN001
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    borderline = np.abs(sims - eps) <= 1e-6
    for a, b, edge_uncertain in zip(iu, ju, borderline):
        if edge_uncertain and semdedup_fold_cos(mat[a], mat[b]) < eps:
            continue
        for x in (a, b):
            parent.setdefault(x, x)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    if not parent:
        return empty()
    comp = {}
    for node in parent:
        comp.setdefault(find(node), []).append(node)
    ccos = pdf["ccos"].to_numpy()
    cell = int(pdf["cell"].iloc[0])
    out = []
    for members_ in comp.values():
        root = int(min(ids[m] for m in members_))
        kept = min(members_, key=lambda m: (ccos[m], ids[m]))
        for m in members_:
            out.append((int(ids[m]), root, cell, float(ccos[m]), m == kept))
    return pd.DataFrame(out, columns=out_cols)


@query("dedup_semdedup", oracle=_semdedup_oracle())
def dedup_semdedup(
    spark: SparkSession,
    sf_dir: str,
    n_cells: int = 8,
    use_arrow_trainer: bool = False,
    two_level: bool = False,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by clustering embeddings (spherical k-means, the S-IVF
    trained quantizer reused verbatim), finding within-cluster pairs with
    cosine >= eps, collapsing them to components, and KEEPING the member
    of each duplicate group least similar to its cluster centroid (the
    paper's low-centroid-similarity keep rule — retains the hardest
    example), ties to lowest id. 100 TB shape: pair search never leaves
    a cell (k ~ sqrt(n) bounds cell size — the paper's own tractability
    argument, no corpus-wide all-pairs; raise k WITH use_arrow_trainer=
    True, the float64 matmul trainer — the decimal-exact trainer here is
    the oracle-parity anchor and costs O(n*k) fold expressions, measured
    super-linear at raised k in SCALE.md), centroids broadcast, and the
    whole per-cell phase (vectorized similarity matrix + union-find +
    keep rule) is ONE Arrow-batched grouped-map stage parallelized over
    cells. Output: one row per member of any duplicate group with its
    component (min member id), cell, centroid cosine, and keep
    decision."""
    from loris_mri_spark.operators.vectors import (
        kmeans_cells,
        kmeans_cells_arrow,
        kmeans_cells_two_level,
    )

    e = load_table(spark, sf_dir, "embeddings")
    # the oracle-pinned registered query trains with the decimal-exact
    # kmeans_cells; use_arrow_trainer=True is the corpus-scale path
    # (raise n_cells ~ sqrt(n) AND train with float64 Arrow matmuls —
    # the fold-expression trainer is what turns raise-k super-linear,
    # BENCH_SF1.json r8); two_level=True additionally splits the trained
    # quantizer coarse->fine (k_coarse = k_fine = ceil(sqrt(n_cells))),
    # dropping assignment cost from O(n*k) to O(n*sqrt(k)) — the remedy
    # SCALE.md names for the sqrt-k trainer's O(n^1.5) tail.
    if two_level:
        import math as _math

        kc = max(2, _math.isqrt(max(n_cells - 1, 0)) + 1)
        # member_vecs: the trainer's fine stage already holds every
        # member's vector, so take (id, cell, vec) straight from it
        # instead of shuffling the corpus into a join with the
        # assignment table (2 exchanges + a corpus-wide hash join saved)
        assignment, centroids = kmeans_cells_two_level(
            e, id_col="vec_id", vec_col="embedding",
            k_coarse=kc, k_fine=kc, n_iter=2, member_vecs=True,
        )
        base = assignment.select(
            "vec_id", "cell", F.col("__vec").alias("__e")
        )
    elif use_arrow_trainer:
        # member_vecs: the assign pass already holds the vector in its
        # Arrow batch — carrying it out replaces the corpus self-join
        # (e ⋈ assignment) that reattached the embedding to the label.
        assignment, centroids = kmeans_cells_arrow(
            e, id_col="vec_id", vec_col="embedding", n_cells=n_cells,
            n_iter=2, member_vecs=True,
        )
        base = assignment.select(
            "vec_id", F.col("__vec").alias("__e"), "cell"
        )
    else:
        # keep_cols: assignment = corpus rows + argmax cell (pure
        # projection) — take (vec_id, __e, cell) straight from it; the
        # former join shipped the corpus into a self-join for columns
        # the projection already had.
        assignment, centroids = kmeans_cells(
            e, id_col="vec_id", vec_col="embedding", n_cells=n_cells,
            n_iter=2, keep_cols=True,
        )
        base = assignment.select(
            "vec_id", as_double("embedding").alias("__e"), "cell"
        )
    # ccos (the keep-rule key) stays JVM-side — identical fold order to
    # the oracle's _SQL_COS, so keep ranking compares bit-identical
    # doubles on both sides.
    members = (
        base.join(F.broadcast(centroids), F.col("cell") == F.col("__cell"))
        .select(
            "vec_id",
            "cell",
            F.col("__e").alias("emb"),
            cosine(F.col("__e"), F.col("__centroid")).alias("ccos"),
        )
    )

    # Pairwise search + components + keep rule in ONE Arrow-batched pass
    # per cell — the paper's own implementation shape (the full
    # within-cluster similarity matrix, vectorized): cells partition the
    # pair space, so no work ever crosses a cell boundary and the stage
    # parallelizes over cells (k ~ sqrt(n) keeps each matrix bounded; a
    # cell too large for one task is sub-chunked by raising k). The
    # matmul is float64 BLAS, NOT the engines' sequential fold, so any
    # pair within 1e-6 of the threshold is re-decided by a faithful
    # left-fold replay (the _lsh_values_sql discipline); union-find
    # collapses edges in O(m a(n)) — no per-round job latency, unlike a
    # global min-label loop on chain-shaped duplicate graphs.
    resolved = members.groupBy("cell").applyInPandas(
        semdedup_cell_kernel,
        "vec_id long, component long, cell long, ccos double, keep boolean",
    )
    return resolved.select(
        "vec_id",
        "component",
        "cell",
        F.round("ccos", 6).alias("cos_centroid_r"),
        "keep",
    )


def _semdedup_cellstats_oracle(n_cells: int = 8, n_iter: int = 2) -> str:
    """DuckDB mirror of the cell-budget guard: the SAME k-means training
    chain as _semdedup_oracle (identical assignments), then pure integer
    size metrics — no floats in the output, so no rounding-convention
    surface between the engines."""
    parts = _kmeans_train_ctes(n_cells, n_iter)
    a = f"a{n_iter}"
    parts.append(
        f"""
    sizes AS (SELECT cell, COUNT(*) AS n FROM {a} GROUP BY cell),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM sizes)"""
    )
    return (
        "WITH RECURSIVE " + ",\n".join(parts)
        + f"""
    SELECT CAST(cell AS BIGINT) AS cell,
           CAST(n AS BIGINT) AS n_members,
           CAST(n * (n - 1) / 2 AS BIGINT) AS n_pairs,
           CAST(n * n * 8 AS BIGINT) AS sim_matrix_bytes,
           CAST(FLOOR(1000000.0 * n / t) AS BIGINT) AS ppm_of_corpus,
           n > {_SEMDEDUP_CELL_CAP} AS over_cap
    FROM sizes, tot"""
    )


@query("dedup_semdedup_cellstats", oracle=_semdedup_cellstats_oracle())
def dedup_semdedup_cellstats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SemDeDup cell-budget GUARD as a first-class query: per trained
    cell, its member count, pair count, the bytes a full similarity
    matrix would take, its corpus share (ppm), and whether it exceeds
    the kernel's task cap (_SEMDEDUP_CELL_CAP, 32768 rows — above it the
    grouped-map kernel refuses with the raise-k remedy rather than
    OOMing an executor). Run this BEFORE dedup_semdedup at a new scale:
    over_cap rows name exactly the cells that need a larger n_cells.
    One aggregation over the assignment — no embeddings move, no pair
    work; the corpus total rides in as a broadcast 1-row frame. Output
    is all-integer so the oracle has no float-rounding surface."""
    from loris_mri_spark.operators.vectors import kmeans_cells

    e = load_table(spark, sf_dir, "embeddings")
    assignment, _centroids = kmeans_cells(
        e, id_col="vec_id", vec_col="embedding", n_cells=8, n_iter=2
    )
    sizes = assignment.groupBy("cell").agg(F.count("*").alias("n"))
    # The corpus total: count the INPUT rows, not sum(n) over sizes —
    # sum-over-sizes re-evaluates the whole sizes subtree on the broadcast
    # side (Spark does not dedupe it), i.e. a second corpus scan that
    # re-runs the argmax assignment fold per row. count(*) over e is the
    # same value (every row gets exactly one cell) and column-prunes to a
    # bare scan.
    tot = e.agg(F.count("*").alias("t"))
    return sizes.crossJoin(F.broadcast(tot)).select(
        F.col("cell").cast("long").alias("cell"),
        F.col("n").cast("long").alias("n_members"),
        ((F.col("n") * (F.col("n") - 1)) / 2).cast("long").alias("n_pairs"),
        (F.col("n") * F.col("n") * 8).cast("long").alias("sim_matrix_bytes"),
        F.floor(F.lit(1000000.0) * F.col("n") / F.col("t"))
        .cast("long")
        .alias("ppm_of_corpus"),
        (F.col("n") > _SEMDEDUP_CELL_CAP).alias("over_cap"),
    )


@lru_cache
def _lsh_values_sql(sf_dir: str) -> "str | None":
    """Golden VALUES oracle for the hyperplane-LSH pairs, computed
    INDEPENDENTLY of Spark from the catalog under check: the LSH is
    fully deterministic (md5-seeded planes), so its exact output is
    recomputable with numpy + pure-Python folds from the raw parquet —
    no Spark session, no JVM. Signature bits use the same numpy matmul
    as the engine's pandas UDF; the verification cosine replays the
    JVM's sequential left-fold operation order exactly, with numpy only
    pre-filtering candidates (anything within 1e-6 of the threshold is
    re-decided by the faithful fold). Memoised per catalog: the pair
    listing and the cluster oracle share it. None when no pair
    verifies."""
    import math
    from collections import defaultdict
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np
    import pyarrow.parquet as pq

    from loris_mri_spark.operators.vectors import _hyperplanes

    tb = pq.read_table(
        table_path(sf_dir, "embeddings"), columns=["vec_id", "embedding"]
    )
    ids = tb.column("vec_id").to_pylist()
    mat = np.asarray(
        [[float(x) for x in e] for e in tb.column("embedding").to_pylist()],
        dtype="float64",
    )
    planes = np.asarray(_hyperplanes(64, 64), dtype="float64")
    bits = (mat @ planes.T >= 0).astype("uint8")
    r, bands = 4, 16
    buckets: dict = defaultdict(list)
    for row_i, row in enumerate(bits):
        for b in range(bands):
            buckets[(b, bytes(row[b * r : (b + 1) * r]))].append(row_i)
    cand = set()
    for members in buckets.values():
        for a in range(len(members)):
            for c in range(a + 1, len(members)):
                x, y = members[a], members[c]
                cand.add((x, y) if ids[x] < ids[y] else (y, x))
    if not cand:
        return None
    ci = np.asarray([p[0] for p in cand])
    cj = np.asarray([p[1] for p in cand])
    a_m, b_m = mat[ci], mat[cj]
    approx = (a_m * b_m).sum(axis=1) / (
        np.sqrt((a_m * a_m).sum(axis=1)) * np.sqrt((b_m * b_m).sum(axis=1))
    )

    def fold(vals) -> float:
        acc = 0.0
        for v in vals:
            acc += v
        return acc

    rows = []
    for k in np.nonzero(approx >= 0.45 - 1e-6)[0]:
        x, y = int(ci[k]), int(cj[k])
        va, vb = mat[x], mat[y]
        cos = (
            fold(va * vb)
            / math.sqrt(fold(va * va))
            / math.sqrt(fold(vb * vb))
        )
        if cos >= 0.45:
            cos_r = float(
                Decimal(repr(cos)).quantize(
                    Decimal("0.000001"), rounding=ROUND_HALF_UP
                )
            )
            rows.append(
                f"(CAST({ids[x]} AS BIGINT), CAST({ids[y]} AS BIGINT), "
                f"CAST({cos_r!r} AS DOUBLE))"
            )
    if not rows:
        return None
    return "SELECT * FROM (VALUES " + ", ".join(rows) + ") AS t(i, j, cos_r)"


def _lsh_clusters_sql(sf_dir: str) -> "str | None":
    """Components oracle over the deterministic LSH pair graph: the
    catalog's golden pair VALUES (see _lsh_values_sql) feed a
    recursive-CTE min-label reachability — fully independent of the
    engine's frontier-loop implementation."""
    pairs = _lsh_values_sql(sf_dir)
    if pairs is None:
        return None
    return f"""
    WITH RECURSIVE pairs AS ({pairs}),
    nodes AS (SELECT DISTINCT n FROM (SELECT i AS n FROM pairs
                                      UNION SELECT j FROM pairs)),
    edges2 AS (SELECT i, j FROM pairs UNION SELECT j AS i, i AS j FROM pairs),
    reach AS (
      SELECT n AS node, n AS r FROM nodes
      UNION
      SELECT rr.node, e.j AS r FROM reach rr JOIN edges2 e ON e.i = rr.r)
    SELECT node AS vec_id, MIN(r) AS component
    FROM reach GROUP BY node
    """


@query("vec_cosine_clusters", oracle=_lsh_clusters_sql)
def vec_cosine_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup CLUSTERS: the hyperplane-LSH cosine pair graph
    collapsed to connected components via min-label propagation
    (operators/components.py) — the embedding-space counterpart of
    dedup_minhash_clusters, turning pairwise cosine >= 0.45 into
    keep/remove sets (keep = min vec_id per component). Oracle:
    recursive-CTE reachability over the independently recomputed golden
    pair graph."""
    from loris_mri_spark.operators.components import connected_components

    pairs = _lsh_pairs(spark, sf_dir)
    comp = connected_components(pairs, "i", "j")
    return comp.select(F.col("node").alias("vec_id"), "component")


@query("vec_cosine_pairs_lsh", oracle=_lsh_values_sql)
def vec_cosine_pairs_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All vector pairs with cosine >= 0.45 found via random-hyperplane
    LSH (64 planes, 16 bands of 4) + exact verification — the
    sub-quadratic embedding near-dup path. 4-bit bands prune ~4x more
    candidates than the 2-bit setting (whose candidate set approached the
    full cross product on this weakly-clustered corpus) at measured
    recall 0.94/0.93 (sf0.1/sf0.01, deterministic — planes are seeded).
    DuckDB cannot express the LSH, but the output is deterministic, so
    the oracle is a golden recomputed independently in numpy/pure
    Python from the catalog under check (_lsh_values_sql); tests
    additionally assert output ⊆ brute force and recall >= 0.9."""
    out = _lsh_pairs(spark, sf_dir)
    return out.select("i", "j", F.round("cos", 6).alias("cos_r"))


@query(
    "ann_recall_at_k",
    oracle=f"""
    WITH {_V_CTE},
    q AS (SELECT vec_id AS query_id, emb AS qv FROM v WHERE vec_id < 10),
    ex_scored AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             {_SQL_COS.format(a='q.qv', b='c.emb')} AS cos
      FROM q JOIN v c ON c.vec_id <> q.query_id),
    ex_ranked AS (
      SELECT query_id, neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, neighbor_id ASC) AS rank
      FROM ex_scored),
    ex_top AS (SELECT query_id, neighbor_id FROM ex_ranked WHERE rank <= 5),
    centroids AS ({_dec_centroid_sql("v", "label")}),
    cell_ranked AS (
      SELECT q.query_id, q.qv, c.cell,
             ROW_NUMBER() OVER (PARTITION BY q.query_id
                                ORDER BY {_SQL_COS.format(a='q.qv', b='c.cv')} DESC,
                                         c.cell ASC) AS crank
      FROM q CROSS JOIN centroids c),
    probed AS (SELECT query_id, qv, cell FROM cell_ranked WHERE crank <= 2),
    iv_scored AS (
      SELECT p.query_id, c.vec_id AS neighbor_id,
             {_SQL_COS.format(a='p.qv', b='c.emb')} AS cos
      FROM probed p JOIN v c ON c.label = p.cell AND c.vec_id <> p.query_id),
    iv_ranked AS (
      SELECT query_id, neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, neighbor_id ASC) AS rank
      FROM iv_scored),
    iv_top AS (SELECT query_id, neighbor_id FROM iv_ranked WHERE rank <= 5),
    hits AS (
      SELECT i.query_id, COUNT(*) AS n_hits
      FROM iv_top i JOIN ex_top e
        ON e.query_id = i.query_id AND e.neighbor_id = i.neighbor_id
      GROUP BY i.query_id)
    SELECT q.query_id,
           CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
           ROUND(COALESCE(h.n_hits, 0) / 5.0, 4) AS recall_r
    FROM (SELECT DISTINCT query_id FROM ex_top) q
    LEFT JOIN hits h ON h.query_id = q.query_id
    """,
)
def ann_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline ANN EVALUATION computed in-engine: recall@5 of the IVF
    index against exact brute force, per query — the metric an ML
    platform recomputes after every index rebuild, expressed as one
    plan so it runs at corpus scale instead of in a notebook. The two
    retrievals share the corpus scan; the hit count is a semi-join-
    shaped equi-join on (query, neighbor); zero-hit queries are kept by
    the left join (a recall metric that silently drops them
    overstates quality)."""
    e = load_table(spark, sf_dir, "embeddings")
    qset = e.filter(F.col("vec_id") < 10)
    exact = cosine_topk(
        qset, e, id_col="vec_id", vec_col="embedding", k=5
    ).select("query_id", "neighbor_id")
    approx = ivf_topk(
        qset,
        e,
        id_col="vec_id",
        vec_col="embedding",
        cell_col="label",
        k=5,
        nprobe=2,
    ).select("query_id", "neighbor_id")
    # exact/hits are topk-bounded (n_queries x k rows by the eval
    # contract) but sit above windows/aggregates whose size estimates the
    # planner can't trust, so without the hints both joins sort-merge —
    # shuffling and sorting the approx side for a 50-row probe table
    # (same hint rationale at every recall-eval site in this module).
    hits = (
        approx.join(
            F.broadcast(exact), ["query_id", "neighbor_id"], "left_semi"
        )
        .groupBy("query_id")
        .agg(F.count("*").alias("n_hits"))
    )
    qs = exact.select("query_id").distinct()
    return qs.join(F.broadcast(hits), "query_id", "left").select(
        "query_id",
        F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
        F.round(F.coalesce("n_hits", F.lit(0)) / 5.0, 4).alias(
            "recall_r"
        ),
    )




def _ragged_stats_kernel(batches):
    """Arrow RecordBatch kernel for c8b: per-row list stats via offsets +
    reduceat — correct for RAGGED rows (pinned in tests/test_pyds.py),
    zero-copy for the fixed-width case."""
    import numpy as np
    import pyarrow as pa

    for batch in batches:
        ids = batch.column("vec_id")
        emb = batch.column("embedding")
        flat = emb.flatten()
        offs = np.asarray(emb.offsets)
        vals = np.asarray(flat, dtype=np.float64)
        n = len(batch)
        n_dims = (offs[1:] - offs[:-1]).astype(np.int64)
        sums = np.add.reduceat(vals, offs[:-1]) if n else np.array([])
        sqs = np.add.reduceat(vals * vals, offs[:-1]) if n else np.array([])
        pos = (
            np.add.reduceat((vals > 0).astype(np.int64), offs[:-1])
            if n
            else np.array([])
        )
        yield pa.RecordBatch.from_arrays(
            [
                ids,
                pa.array(n_dims, type=pa.int64()),
                pa.array(pos.astype(np.int64), type=pa.int64()),
                pa.array(np.round(np.sqrt(sqs), 4)),
                pa.array(np.round(sums / n_dims, 4)),
            ],
            names=["vec_id", "n_dims", "n_pos", "l2_r", "mean_r"],
        )


@query(
    "c8b_mapinarrow_vector_stats",
    oracle="""
    SELECT vec_id,
           CAST(len(embedding) AS BIGINT) AS n_dims,
           CAST(len(list_filter(embedding, x -> x > 0)) AS BIGINT)
             AS n_pos,
           ROUND(sqrt(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4)
             AS l2_r,
           ROUND(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE))) / len(embedding), 4)
             AS mean_r
    FROM embeddings
    """,
)
def c8b_mapinarrow_vector_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The `mapInArrow` interop surface: per-vector stats computed on
    raw Arrow RecordBatches — no pandas materialization at all, the
    zero-copy lane for numeric kernels (the embedding column arrives as
    an Arrow list<float> whose values buffer reshapes straight into a
    (n, dim) numpy view). Completes the engine's Python-interop
    inventory: pandas_udf, mapInPandas, applyInPandas(+state), UDTF,
    Python Data Source, and now mapInArrow. Rounded to 4 decimals so
    numpy's pairwise summation vs the oracle's sequential fold cannot
    surface."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    return e.mapInArrow(
        _ragged_stats_kernel,
        "vec_id long, n_dims long, n_pos long, l2_r double, mean_r double",
    )


def _pq_oracle(n_sub: int = 8, sub_dim: int = 8, n_codes: int = 16, k: int = 5) -> str:
    l2 = (
        f"list_sum(list_transform(range(1, {sub_dim + 1}), "
        "i -> (x.sv[i] - c.cw[i]) * (x.sv[i] - c.cw[i])))"
    )
    l2q = l2.replace("x.sv", "q.sv")
    return f"""
    WITH {_V_CTE},
    sub AS (SELECT vec_id, CAST(r.s AS INT) AS s,
                   emb[r.s * {sub_dim} + 1 : r.s * {sub_dim} + {sub_dim}]
                     AS sv
            FROM v, range(0, {n_sub}) r(s)),
    cb AS (SELECT s, vec_id AS code_id, sv AS cw FROM sub
           WHERE vec_id < {n_codes}),
    enc AS (SELECT vec_id, s, code_id AS code FROM (
              SELECT x.vec_id, x.s, c.code_id,
                     ROW_NUMBER() OVER (
                       PARTITION BY x.vec_id, x.s
                       ORDER BY CAST(FLOOR({l2} * 1000000000 + 0.5)
                                     AS BIGINT) ASC, c.code_id ASC) AS rn
              FROM sub x JOIN cb c ON c.s = x.s)
            WHERE rn = 1),
    qt AS (SELECT q.vec_id AS query_id, c.s, c.code_id,
                  CAST(FLOOR({l2q} * 1000000000 + 0.5) AS BIGINT) AS dn
           FROM sub q JOIN cb c ON c.s = q.s WHERE q.vec_id < 10),
    adc AS (SELECT t.query_id, e.vec_id AS neighbor_id,
                   CAST(SUM(t.dn) AS BIGINT) AS adist_nanos
            FROM enc e JOIN qt t ON t.s = e.s AND t.code_id = e.code
            WHERE e.vec_id <> t.query_id
            GROUP BY t.query_id, e.vec_id),
    ranked AS (SELECT query_id, neighbor_id, adist_nanos,
                      CAST(ROW_NUMBER() OVER (
                        PARTITION BY query_id
                        ORDER BY adist_nanos ASC, neighbor_id ASC)
                        AS BIGINT) AS rank
               FROM adc)
    SELECT query_id, neighbor_id, rank, adist_nanos
    FROM ranked WHERE rank <= {k}
    """


@query("ann_pq_adc_topk", oracle=_pq_oracle())
def ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (operators/vectors.py:pq_topk): 8x8
    subspace codes + asymmetric-distance lookup tables — after the
    encode, retrieval reads ONLY the 8-byte code rows, the 32x-
    compressed scan PQ exists for. Distances ride in exact bigint
    nano-units so the ranking is engine-portable; recall vs exact
    cosine is pinned in tests/test_vectors.py."""
    from loris_mri_spark.operators.vectors import pq_topk

    e = load_table(spark, sf_dir, "embeddings")
    return pq_topk(
        e.filter(F.col("vec_id") < 10),
        e,
        id_col="vec_id",
        vec_col="embedding",
    )


_SQL_COS16 = (
    "(list_sum(list_transform(range(1, 17), k -> {a}[k] * {b}[k]))"
    " / sqrt(list_sum(list_transform(range(1, 17), k -> {a}[k] * {a}[k])))"
    " / sqrt(list_sum(list_transform(range(1, 17), k -> {b}[k] * {b}[k]))))"
)


@query(
    "ann_matryoshka_recall",
    oracle=f"""
    WITH {_V_CTE},
    q AS (SELECT vec_id AS query_id, emb AS qv FROM v WHERE vec_id < 10),
    full_scored AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             {_SQL_COS.format(a='q.qv', b='c.emb')} AS cos
      FROM q JOIN v c ON c.vec_id <> q.query_id),
    full_top AS (SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id ASC) AS rn
        FROM full_scored) WHERE rn <= 5),
    trunc_scored AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             {_SQL_COS16.format(a='q.qv', b='c.emb')} AS cos
      FROM q JOIN v c ON c.vec_id <> q.query_id),
    trunc_top AS (SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id ASC) AS rn
        FROM trunc_scored) WHERE rn <= 5),
    hits AS (SELECT t.query_id, COUNT(*) AS n_hits
             FROM trunc_top t JOIN full_top f
               ON f.query_id = t.query_id
              AND f.neighbor_id = t.neighbor_id
             GROUP BY t.query_id)
    SELECT q2.query_id, CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
           ROUND(COALESCE(h.n_hits, 0) / 5.0, 4) AS recall_r
    FROM (SELECT DISTINCT query_id FROM full_top) q2
    LEFT JOIN hits h ON h.query_id = q2.query_id
    """,
)
def ann_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATRYOSHKA-truncation retrieval eval: recall@5 of cosine search
    over the FIRST 16 dimensions against the full 64-dim ground truth —
    the measurement behind prefix-truncatable (MRL) embeddings, where
    serving cost drops 4x if the recall holds. Computed in-engine like
    ann_recall_at_k: both retrievals share the corpus scan; the
    truncated side is the same JVM fold over `slice(vec, 1, 16)`
    (re-normalized — prefix norms differ from full norms). Zero-hit
    queries are kept by the left join."""
    e = load_table(spark, sf_dir, "embeddings")
    qset = e.filter(F.col("vec_id") < 10)
    full = cosine_topk(
        qset, e, id_col="vec_id", vec_col="embedding", k=5
    ).select("query_id", "neighbor_id")

    trunc = e.select(
        "vec_id", F.slice(as_double("embedding"), 1, 16).alias("v16")
    )
    qtrunc = trunc.filter(F.col("vec_id") < 10)
    t_top = cosine_topk(
        qtrunc, trunc, id_col="vec_id", vec_col="v16", k=5
    ).select("query_id", "neighbor_id")

    hits = (
        t_top.join(
            F.broadcast(full), ["query_id", "neighbor_id"], "left_semi"
        )
        .groupBy("query_id")
        .agg(F.count("*").alias("n_hits"))
    )
    qs = full.select("query_id").distinct()
    return qs.join(F.broadcast(hits), "query_id", "left").select(
        "query_id",
        F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
        F.round(F.coalesce("n_hits", F.lit(0)) / 5.0, 4).alias(
            "recall_r"
        ),
    )


@query(
    "vec_drift_monitor",
    oracle=f"""
    WITH {_V_CTE},
    ref AS (SELECT label, vec_id, emb FROM v WHERE vec_id % 2 = 0),
    cur AS (SELECT label, vec_id, emb FROM v WHERE vec_id % 2 = 1),
    refc AS ({_dec_centroid_sql("ref", "label")}),
    curc AS ({_dec_centroid_sql("cur", "label")})
    SELECT r.cell AS label,
           ROUND({_SQL_COS.format(a='r.cv', b='c.cv')}, 6) AS centroid_cos_r,
           {_SQL_COS.format(a='r.cv', b='c.cv')} < 0.95 AS drifted
    FROM refc r JOIN curc c ON c.cell = r.cell
    """,
)
def vec_drift_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMBEDDING DRIFT monitor — the ML-ops check run whenever an
    encoder is retrained or a corpus refreshes: per label, the cosine
    between the REFERENCE cohort's centroid (even vec_ids, standing in
    for the pinned snapshot a versioned store would supply) and the
    CURRENT cohort's (odd vec_ids); a centroid that swung below the
    0.95 threshold flags the class for re-indexing. Centroids are the
    decimal-exact means (cell_centroids), so the comparison is
    engine-portable; both centroid tables are |labels| rows — the whole
    monitor is two partial-agg passes and a tiny join."""
    from loris_mri_spark.operators.vectors import (
        as_double,
        cell_centroids,
        cosine,
    )

    e = load_table(spark, sf_dir, "embeddings").select(
        "label", "vec_id", as_double("embedding").alias("__cv")
    )
    refc = cell_centroids(
        e.filter(F.col("vec_id") % 2 == 0).select(
            F.col("label").alias("__cell"), "__cv"
        )
    )
    curc = cell_centroids(
        e.filter(F.col("vec_id") % 2 == 1).select(
            F.col("label").alias("__cell"), "__cv"
        )
    )
    cos = cosine(F.col("r.__centroid"), F.col("c.__centroid"))
    return (
        refc.alias("r")
        .join(curc.alias("c"), F.col("r.__cell") == F.col("c.__cell"))
        .select(
            F.col("r.__cell").alias("label"),
            F.round(cos, 6).alias("centroid_cos_r"),
            (cos < 0.95).alias("drifted"),
        )
    )


@query(
    "ann_mrr_ndcg",
    oracle=f"""
    WITH {_V_CTE},
    q AS (SELECT vec_id AS query_id, emb AS qv FROM v WHERE vec_id < 10),
    ex_scored AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             {_SQL_COS.format(a='q.qv', b='c.emb')} AS cos
      FROM q JOIN v c ON c.vec_id <> q.query_id),
    ex_rank AS (
      SELECT query_id, neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, neighbor_id ASC) AS erank
      FROM ex_scored),
    centroids AS ({_dec_centroid_sql("v", "label")}),
    cell_ranked AS (
      SELECT q.query_id, q.qv, c.cell,
             ROW_NUMBER() OVER (PARTITION BY q.query_id
                                ORDER BY {_SQL_COS.format(a='q.qv', b='c.cv')} DESC,
                                         c.cell ASC) AS crank
      FROM q CROSS JOIN centroids c),
    probed AS (SELECT query_id, qv, cell FROM cell_ranked WHERE crank <= 2),
    iv_scored AS (
      SELECT p.query_id, c.vec_id AS neighbor_id,
             {_SQL_COS.format(a='p.qv', b='c.emb')} AS cos
      FROM probed p JOIN v c ON c.label = p.cell AND c.vec_id <> p.query_id),
    iv_rank AS (
      SELECT query_id, neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, neighbor_id ASC) AS irank
      FROM iv_scored),
    iv_top AS (SELECT query_id, neighbor_id, irank FROM iv_rank
               WHERE irank <= 5),
    judged AS (
      SELECT t.query_id, t.irank,
             CASE WHEN e.erank = 1 THEN 1 ELSE 0 END AS is_first,
             CASE WHEN e.erank <= 5
                  THEN 1.0 / log2(t.irank + 1) ELSE 0 END AS gain
      FROM iv_top t
      LEFT JOIN ex_rank e ON e.query_id = t.query_id
                         AND e.neighbor_id = t.neighbor_id),
    ideal AS (SELECT SUM(1.0 / log2(r + 1)) AS idcg
              FROM range(1, 6) t(r)),
    perq AS (
      SELECT query_id,
             MAX(CASE WHEN is_first = 1 THEN 1.0 / irank ELSE 0 END)
               AS rr,
             SUM(gain) AS dcg
      FROM judged GROUP BY query_id)
    SELECT p.query_id,
           ROUND(p.rr, 4) AS rr_r,
           ROUND(p.dcg / i.idcg, 4) AS ndcg5_r
    FROM perq p, ideal i
    """,
)
def ann_mrr_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-quality metrics for the IVF index, in-engine: per query,
    the RECIPROCAL RANK of the true nearest neighbor (does the index
    surface the #1 answer, and how high) and NDCG@5 with binary gains
    over the exact top-5 (position-discounted overlap — recall@k's
    order-aware refinement). Same shared-scan shape as ann_recall_at_k;
    the metric arithmetic is 5 fixed-order terms, rounded to 4."""
    from pyspark.sql.window import Window as W

    e = load_table(spark, sf_dir, "embeddings")
    qset = e.filter(F.col("vec_id") < 10)
    # exact ranks over the whole corpus (erank 1 = the true NN);
    # built directly (cosine_topk caps at k, and the metric needs
    # every candidate's exact rank up to 5)
    from loris_mri_spark.operators.vectors import as_double, cosine

    a = qset.select(
        F.col("vec_id").alias("query_id"), as_double("embedding").alias("qv")
    )
    b = e.select(
        F.col("vec_id").alias("neighbor_id"),
        as_double("embedding").alias("cv"),
    )
    ex_rank = (
        a.crossJoin(b)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos", cosine(F.col("qv"), F.col("cv")))
        .withColumn(
            "erank",
            F.row_number().over(
                W.partitionBy("query_id").orderBy(
                    F.col("cos").desc(), F.col("neighbor_id").asc()
                )
            ),
        )
        .select("query_id", "neighbor_id", "erank")
    )
    iv_top = ivf_topk(
        qset, e, id_col="vec_id", vec_col="embedding",
        cell_col="label", k=5, nprobe=2,
    ).select("query_id", "neighbor_id", F.col("rank").alias("irank"))
    judged = iv_top.join(
        F.broadcast(ex_rank), ["query_id", "neighbor_id"], "left"
    ).select(
        "query_id",
        "irank",
        F.when(F.col("erank") == 1, 1).otherwise(0).alias("is_first"),
        F.when(
            F.col("erank") <= 5, 1.0 / F.log2(F.col("irank") + 1)
        )
        .otherwise(0.0)
        .alias("gain"),
    )
    idcg = sum(1.0 / __import__("math").log2(r + 1) for r in range(1, 6))
    perq = judged.groupBy("query_id").agg(
        F.max(
            F.when(F.col("is_first") == 1, 1.0 / F.col("irank")).otherwise(
                0.0
            )
        ).alias("rr"),
        F.sum("gain").alias("dcg"),
    )
    return perq.select(
        "query_id",
        F.round("rr", 4).alias("rr_r"),
        F.round(F.col("dcg") / F.lit(idcg), 4).alias("ndcg5_r"),
    )


# ---------------------------------------------------------------------------
# Two-level (IMI-style) quantizer queries — registered late-r8, first
# driver-checked in r9. Fixed hyper-parameters shared by the engine
# queries and their golden replays.
_TL_KC, _TL_KF, _TL_ITER = 3, 3, 2


@lru_cache
def _two_level_replay(sf_dir: str) -> "tuple | None":
    """Pure numpy replay of kmeans_cells_two_level(k_coarse=3, k_fine=3)
    on the catalog's embeddings — the shared engine-independent base for
    the golden oracles below (the _lsh_values_sql discipline: no Spark,
    no JVM), memoised per catalog so the three share one replay.

    Bit-parity argument: given identical cell MEMBERSHIPS, everything
    downstream is bit-identical on both sides (fine training is the same
    numpy ops on the same id-sorted rows; all emitted cosines replay the
    JVM's sequential fold). The one cross-engine wobble is the COARSE
    centroid combine (the engine sums sorted per-batch partials, this
    replay takes full-matrix means — last-ulp differences possible), and
    that wobble can only surface by flipping an argmax decision. So the
    replay self-guards: if any vector's top-2 coarse cosine margin in
    any round is below 1e-9 (six orders above ulp noise), it returns
    None and the three goldens decline that catalog.

    Returns (ids, mat, fine_cells: id->cell, centroids: cell->vector)."""
    import numpy as np
    import pyarrow.parquet as pq

    tb = pq.read_table(
        table_path(sf_dir, "embeddings"), columns=["vec_id", "embedding"]
    )
    ids = np.array(tb.column("vec_id").to_pylist(), dtype=np.int64)
    mat = np.array(
        [[float(x) for x in e] for e in tb.column("embedding").to_pylist()],
        dtype=np.float64,
    )
    order = np.argsort(ids)
    ids, mat = ids[order], mat[order]

    def unit(m: "np.ndarray") -> "np.ndarray":
        n_ = np.sqrt((m * m).sum(axis=1, keepdims=True))
        n_[n_ == 0] = 1.0
        return m / n_

    tight = [False]

    def train(ids_, mat_, k, guard_margin):  # noqa: ANN001
        """Replays the trainer contract: n_iter (assign, update) rounds,
        then ONE final assignment against the last-updated centroids.
        Returns (cell_ids, final_assignment, cent) with ``cent`` being
        the LAST-UPDATE centroids — exactly what the engine's fine
        kernel emits (the final re-assignment does NOT refresh them)."""
        k = min(k, len(ids_))
        cell_ids = ids_[:k].copy()
        cent = mat_[:k].copy()
        a = None
        for _ in range(_TL_ITER + 1):  # n_iter updates + final assign
            sims = unit(mat_) @ unit(cent).T
            if guard_margin and sims.shape[1] > 1:
                part = np.partition(sims, -2, axis=1)
                if float(np.min(part[:, -1] - part[:, -2])) < 1e-9:
                    tight[0] = True
            a = np.argmax(sims, axis=1)
            if _ == _TL_ITER:
                break
            alive = sorted(set(a.tolist()))
            cent = np.array([mat_[a == ci].mean(axis=0) for ci in alive])
            cell_ids = cell_ids[alive]
        return cell_ids, a, cent

    c_ids, c_a, _ccent = train(ids, mat, _TL_KC, guard_margin=True)
    if tight[0]:
        return None
    fine_cells: dict = {}
    centroids: dict = {}
    for ci in range(len(c_ids)):
        sel = c_a == ci
        f_ids, f_a, f_cent = train(
            ids[sel], mat[sel], _TL_KF, guard_margin=False
        )
        # fine stage is bit-identical engine-side (same numpy ops on the
        # same id-sorted rows inside one kernel) — no margin guard needed
        for i, fc in zip(ids[sel], f_a):
            fine_cells[int(i)] = int(f_ids[fc])
        for fi, fc in enumerate(f_ids):
            centroids[int(fc)] = f_cent[fi]
    return ids, mat, fine_cells, centroids


def _imi_golden_sql(sf_dir: str) -> "str | None":
    """Golden VALUES oracle for ann_imi_topk: replay the two-level
    training (self-guarded, see _two_level_replay), then the ivf_topk
    probe/score/rank semantics with sequential-fold cosines replaying
    the JVM operation order exactly."""
    from decimal import ROUND_HALF_UP, Decimal

    rep = _two_level_replay(sf_dir)
    if rep is None:
        return None
    ids, mat, fine_cells, centroids = rep
    by_id = {int(i): mat[n] for n, i in enumerate(ids)}
    rows = []
    for qid in sorted(int(i) for i in ids if i < 10):
        qv = by_id[qid]
        probes = sorted(
            ((semdedup_fold_cos(qv, cv), -cell) for cell, cv in centroids.items()),
            reverse=True,
        )[:2]
        probed = {-c for _, c in probes}
        scored = sorted(
            (
                (-semdedup_fold_cos(qv, by_id[nid]), nid)
                for nid, cell in fine_cells.items()
                if cell in probed and nid != qid
            ),
        )[:5]
        for rank, (negcos, nid) in enumerate(scored, start=1):
            cos_r = float(
                Decimal(repr(-negcos)).quantize(
                    Decimal("0.000001"), rounding=ROUND_HALF_UP
                )
            )
            rows.append(
                f"(CAST({qid} AS BIGINT), CAST({nid} AS BIGINT), "
                f"CAST({rank} AS BIGINT), CAST({cos_r!r} AS DOUBLE))"
            )
    if not rows:
        return None
    return (
        "SELECT * FROM (VALUES "
        + ", ".join(rows)
        + ") AS t(query_id, neighbor_id, rank, cos_r)"
    )


def _semdedup_twolevel_golden_sql(sf_dir: str) -> "str | None":
    """Golden VALUES oracle for dedup_semdedup_twolevel: the two-level
    replay feeds THE SAME per-cell kernel the engine runs
    (semdedup_cell_kernel — importable without Spark by design), with
    centroid cosines replayed in JVM fold order. What the driver check
    then certifies is the Spark plumbing: trainer parity, grouped-map
    partitioning, Arrow transport."""
    from decimal import ROUND_HALF_UP, Decimal

    import pandas as pd

    rep = _two_level_replay(sf_dir)
    if rep is None:
        return None
    ids, mat, fine_cells, centroids = rep
    by_cell: dict = {}
    for n, i in enumerate(ids):
        by_cell.setdefault(fine_cells[int(i)], []).append(n)
    rows = []
    for cell, members in sorted(by_cell.items()):
        pdf = pd.DataFrame(
            {
                "vec_id": [int(ids[m]) for m in members],
                "cell": cell,
                "emb": [mat[m].tolist() for m in members],
                "ccos": [
                    semdedup_fold_cos(mat[m], centroids[cell])
                    for m in members
                ],
            }
        )
        out = semdedup_cell_kernel(pdf)
        for r in out.itertuples(index=False):
            ccos_r = float(
                Decimal(repr(r.ccos)).quantize(
                    Decimal("0.000001"), rounding=ROUND_HALF_UP
                )
            )
            rows.append(
                f"(CAST({int(r.vec_id)} AS BIGINT), "
                f"CAST({int(r.component)} AS BIGINT), "
                f"CAST({int(r.cell)} AS BIGINT), "
                f"CAST({ccos_r!r} AS DOUBLE), {bool(r.keep)})"
            )
    if not rows:
        return None
    return (
        "SELECT * FROM (VALUES "
        + ", ".join(rows)
        + ") AS t(vec_id, component, cell, cos_centroid_r, keep)"
    )


@query("ann_imi_topk", oracle=_imi_golden_sql)
def ann_imi_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IMI-style ANN (inverted multi-index shape, Babenko & Lempitsky
    2012): the corpus is partitioned by the TWO-LEVEL trained quantizer
    (kmeans_cells_two_level, k_coarse = k_fine = 3 here — at corpus
    scale ceil(sqrt(k_total)) each, O(n^1.25) training vs the flat
    trainer's O(n^1.5), measured 11.4 vs 17.5 s at 100x in
    BENCH_SF1.json), then standard IVF probing over the FINE cells:
    2 best cells per query by centroid cosine, exact scoring inside.
    Oracle: golden replay over the catalog under check, self-guarded on
    training-margin ties (_two_level_replay)."""
    from loris_mri_spark.operators.vectors import (
        ivf_topk,
        kmeans_cells_two_level,
    )

    e = load_table(spark, sf_dir, "embeddings")
    # member_vecs: the fine stage emits (id, cell, vec) directly — no
    # corpus ⋈ assignment shuffle join to reattach the embedding
    assignment, centroids = kmeans_cells_two_level(
        e, id_col="vec_id", vec_col="embedding",
        k_coarse=_TL_KC, k_fine=_TL_KF, n_iter=_TL_ITER, member_vecs=True,
    )
    corpus = assignment.select(
        "vec_id", F.col("__vec").alias("embedding"), "cell"
    )
    out = ivf_topk(
        e.filter(F.col("vec_id") < 10),
        corpus,
        id_col="vec_id",
        vec_col="embedding",
        cell_col="cell",
        k=5,
        nprobe=2,
        centroids=centroids,
    )
    return out.select(
        "query_id", "neighbor_id", "rank", F.round("cos", 6).alias("cos_r")
    )


@query("dedup_semdedup_twolevel", oracle=_semdedup_twolevel_golden_sql)
def dedup_semdedup_twolevel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the TWO-LEVEL trained quantizer — the corpus-scale
    configuration (k ~ sqrt(n) cells trained in O(n^1.25); the
    oracle-pinned dedup_semdedup keeps the decimal-exact flat trainer
    for SQL-replayable bit-parity). Same per-cell kernel, same keep
    rule; k_coarse = k_fine = 3 here so the golden replay stays
    cheap at sf0.01. Oracle: golden VALUES through the SAME
    kernel (engine-independence lives in the training replay + fold
    cosines; the driver check certifies the Spark plumbing)."""
    return dedup_semdedup(
        spark, sf_dir, n_cells=_TL_KC * _TL_KF, two_level=True
    )


def _imi_recall_golden_sql(sf_dir: str) -> "str | None":
    """Golden VALUES oracle for ann_imi_recall: recall@5 of the IMI
    (two-level) index against exact brute force, both sides replayed
    with sequential-fold cosines (bit-identical to the JVM fold), so the
    top-5 SETS — not just scores — match the engine exactly. Shares the
    one memoized _two_level_replay with the two oracles above."""
    rep = _two_level_replay(sf_dir)
    if rep is None:
        return None
    ids, mat, fine_cells, centroids = rep
    by_id = {int(i): mat[n] for n, i in enumerate(ids)}
    rows = []
    for qid in sorted(int(i) for i in ids if i < 10):
        qv = by_id[qid]
        exact5 = {
            nid
            for _, nid in sorted(
                (-semdedup_fold_cos(qv, by_id[nid]), nid)
                for nid in by_id
                if nid != qid
            )[:5]
        }
        probes = sorted(
            ((semdedup_fold_cos(qv, cv), -cell) for cell, cv in centroids.items()),
            reverse=True,
        )[:2]
        probed = {-c for _, c in probes}
        imi5 = {
            nid
            for _, nid in sorted(
                (-semdedup_fold_cos(qv, by_id[nid]), nid)
                for nid, cell in fine_cells.items()
                if cell in probed and nid != qid
            )[:5]
        }
        n_hits = len(exact5 & imi5)
        rows.append(
            f"(CAST({qid} AS BIGINT), CAST({n_hits} AS BIGINT), "
            f"CAST({round(n_hits / 5.0, 4)!r} AS DOUBLE))"
        )
    if not rows:
        return None
    return (
        "SELECT * FROM (VALUES "
        + ", ".join(rows)
        + ") AS t(query_id, n_hits, recall_r)"
    )


@query("ann_imi_recall", oracle=_imi_recall_golden_sql)
def ann_imi_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the IMI (two-level quantizer) index vs exact brute
    force at the SAME probe budget as ann_recall_at_k's IVF row
    (nprobe=2, k=5) — the eval parity row that makes the two-level
    index's recall/cost trade measurable side by side with flat IVF
    (ann_recall_at_k) instead of asserted. Same shape: shared corpus
    scan, semi-join hit count, zero-hit queries kept by the left join."""
    from loris_mri_spark.operators.vectors import (
        cosine_topk,
        ivf_topk,
        kmeans_cells_two_level,
    )

    e = load_table(spark, sf_dir, "embeddings")
    qset = e.filter(F.col("vec_id") < 10)
    exact = cosine_topk(
        qset, e, id_col="vec_id", vec_col="embedding", k=5
    ).select("query_id", "neighbor_id")
    assignment, centroids = kmeans_cells_two_level(
        e, id_col="vec_id", vec_col="embedding",
        k_coarse=_TL_KC, k_fine=_TL_KF, n_iter=_TL_ITER, member_vecs=True,
    )
    corpus = assignment.select(
        "vec_id", F.col("__vec").alias("embedding"), "cell"
    )
    approx = ivf_topk(
        qset,
        corpus,
        id_col="vec_id",
        vec_col="embedding",
        cell_col="cell",
        k=5,
        nprobe=2,
        centroids=centroids,
    ).select("query_id", "neighbor_id")
    hits = (
        approx.join(
            F.broadcast(exact), ["query_id", "neighbor_id"], "left_semi"
        )
        .groupBy("query_id")
        .agg(F.count("*").alias("n_hits"))
    )
    qs = exact.select("query_id").distinct()
    return qs.join(F.broadcast(hits), "query_id", "left").select(
        "query_id",
        F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
        F.round(F.coalesce("n_hits", F.lit(0)) / 5.0, 4).alias("recall_r"),
    )


_SQ8_SQL = f"""
    WITH {_V_CTE},
    dims AS (
      SELECT i AS dim, MIN(v.emb[i]) AS mn, MAX(v.emb[i]) AS mx
      FROM v, unnest(range(1, 65)) t(i)
      GROUP BY i),
    b AS (SELECT list(mn ORDER BY dim) AS mns,
                 list(mx ORDER BY dim) AS mxs
          FROM dims),
    vq AS (
      SELECT v.vec_id,
             [CASE WHEN b.mxs[i] = b.mns[i] THEN b.mns[i]
                   ELSE b.mns[i]
                        + floor((v.emb[i] - b.mns[i]) * CAST(255 AS DOUBLE)
                                / (b.mxs[i] - b.mns[i])
                                + CAST(0.5 AS DOUBLE))
                          * (b.mxs[i] - b.mns[i]) / CAST(255 AS DOUBLE)
              END
              for i in range(1, 65)] AS emb
      FROM v CROSS JOIN b),
    q AS (SELECT vec_id AS query_id, emb AS qv FROM v WHERE vec_id < 10),
    ex_scored AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             {_SQL_COS.format(a='q.qv', b='c.emb')} AS cos
      FROM q JOIN v c ON c.vec_id <> q.query_id),
    ex_ranked AS (
      SELECT query_id, neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, neighbor_id ASC) AS rank
      FROM ex_scored),
    ex_top AS (SELECT query_id, neighbor_id FROM ex_ranked WHERE rank <= 5),
    sq_scored AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             {_SQL_COS.format(a='q.qv', b='c.emb')} AS cos
      FROM q JOIN vq c ON c.vec_id <> q.query_id),
    sq_ranked AS (
      SELECT query_id, neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, neighbor_id ASC) AS rank
      FROM sq_scored),
    sq_top AS (SELECT query_id, neighbor_id FROM sq_ranked WHERE rank <= 5),
    hits AS (
      SELECT s.query_id, COUNT(*) AS n_hits
      FROM sq_top s JOIN ex_top e
        ON e.query_id = s.query_id AND e.neighbor_id = s.neighbor_id
      GROUP BY s.query_id)
    SELECT q.query_id,
           CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
           ROUND(COALESCE(h.n_hits, 0) / 5.0, 4) AS recall_r
    FROM (SELECT DISTINCT query_id FROM ex_top) q
    LEFT JOIN hits h ON h.query_id = q.query_id
"""


@query("ann_sq8_recall", oracle=_SQ8_SQL)
def ann_sq8_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCALAR QUANTIZATION (SQ8) ANN with in-engine recall@5: each
    dimension is linearly quantized to one of 256 levels between the
    corpus-wide per-dimension min/max (the classic SQ8 codec — 4x
    smaller than float32, the standard first compression step before
    PQ), search is ASYMMETRIC distance computation (exact query floats
    against dequantized corpus codes), and the query reports recall@5
    against exact brute force — the compression-loss eval an ML
    platform runs before adopting the codec.

    100-TB shape: the per-dimension bounds come from ONE partial-agg
    shuffle of (dim, partial-min/max) pairs (64 rows per mapper, never
    the vectors), the 64-entry bounds table broadcasts, quantize +
    dequantize + cosine are a single codegen'd projection (no Python),
    and both retrievals share the TakeOrdered/window top-k shape of
    ann_cosine_topk_exact. Tie policy on the quantization boundary is
    floor(x + 0.5) — written identically in both engines, so code
    assignment is bit-deterministic (Spark round() and DuckDB round()
    disagree on .5 ties; floor(+0.5) cannot)."""
    e = load_table(spark, sf_dir, "embeddings")
    ed = e.select("vec_id", as_double("embedding").alias("emb"))
    dims = (
        ed.select(F.posexplode("emb").alias("dim", "x"))
        .groupBy("dim")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
    )
    bounds = (
        dims.agg(
            F.array_sort(F.collect_list(F.struct("dim", "mn", "mx"))).alias(
                "b"
            )
        )
        .select(
            F.expr("transform(b, s -> s.mn)").alias("mns"),
            F.expr("transform(b, s -> s.mx)").alias("mxs"),
        )
    )
    corpus_sq = ed.crossJoin(F.broadcast(bounds)).select(
        "vec_id",
        F.expr(
            "transform(emb, (x, i) -> "
            "CASE WHEN mxs[i] = mns[i] THEN mns[i] "
            "ELSE mns[i] + floor((x - mns[i]) * CAST(255 AS DOUBLE)"
            " / (mxs[i] - mns[i]) + CAST(0.5 AS DOUBLE))"
            " * (mxs[i] - mns[i]) / CAST(255 AS DOUBLE) END)"
        ).alias("embedding"),
    )
    qset = e.filter(F.col("vec_id") < 10)
    exact = cosine_topk(
        qset, e, id_col="vec_id", vec_col="embedding", k=5
    ).select("query_id", "neighbor_id")
    approx = cosine_topk(
        qset, corpus_sq, id_col="vec_id", vec_col="embedding", k=5
    ).select("query_id", "neighbor_id")
    hits = (
        approx.join(
            F.broadcast(exact), ["query_id", "neighbor_id"], "left_semi"
        )
        .groupBy("query_id")
        .agg(F.count("*").alias("n_hits"))
    )
    qs = exact.select("query_id").distinct()
    return qs.join(F.broadcast(hits), "query_id", "left").select(
        "query_id",
        F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
        F.round(F.coalesce("n_hits", F.lit(0)) / 5.0, 4).alias("recall_r"),
    )
