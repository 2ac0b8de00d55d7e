"""Derivation-DAG traversal — SURVEY §2.3 J9 at depth (transitive
closure) and the delete-upload cascade that consumes it.

Reference: `files.SourceFileID` self-edges and `files_intermediary`
input→output chains walked row-at-a-time to find everything derived from
an upload before cascading deletes
(`/root/reference/tools/delete_imaging_upload.pl:1009-1030,1098-1146`).

Spark-first shape: iterative frontier expansion — a driver LOOP of joins,
each round joining the current frontier to the (narrow) edge table and
anti-joining the visited set. Rounds = DAG depth (derivation chains are
shallow: scan -> nifti -> qc-pic is depth ~3), so the loop runs O(depth)
shuffles of frontier-sized data, never materializing the full closure
matrix. The visited set is unioned incrementally, and every round is
localCheckpoint'ed so lineage stays flat; the round's row count (the stop
test) comes from that same checkpoint job (operators/fixpoint.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from loris_mri_spark.operators.fixpoint import checkpoint_count


def transitive_closure(
    edges: DataFrame,
    seeds: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    id_col: str = "id",
    max_iterations: int = 20,
    broadcast_max_rows: "int | None" = None,
) -> DataFrame:
    """All nodes reachable from ``seeds[id_col]`` by following
    ``edges(src -> dst)``, seeds included. Returns one column ``id_col``.

    Each iteration: frontier ⋈ edges on src -> new dsts, minus visited.
    Terminates when the frontier drains or ``max_iterations`` is hit
    (guards cyclic inputs; derivation DAGs are acyclic by construction).

    Join strategy: the FRONTIER side (and the visited set on the
    anti-join) is broadcast explicitly. A localCheckpoint-backed frame
    reports no size statistics, so the planner would otherwise
    sort-merge every round — shuffling and sorting the (big, stationary)
    edge table once PER ROUND. The frontier is cascade-seed-sized by
    contract, so broadcasting it turns every round into one map-side
    hash join over an edge scan: the edges never shuffle at any scale.

    Scale safety is MECHANICAL, not contractual: ``visited`` grows
    monotonically with the closure, so each side's hint is applied only
    while its exact row count (summed from the per-round counts, which
    the checkpoint jobs observe — no job of their own) stays at or below
    ``broadcast_max_rows`` (default: conf
    ``spark.loris.closure.broadcastMaxRows``, 4M rows ≈ tens of MB of
    bigint keys). Past the threshold the hint is dropped and the planner
    falls back to a shuffle join for that side — slower, but never an
    8 GB-cap broadcast OOM if the seed contract ever drifts.
    """
    # Materialize the edge projection ONCE: every round scans it, and
    # without this each round re-evaluates the caller's edge pipeline (for
    # j9, a parquet decode and filter of all of lineitem per round).
    e = edges.select(
        F.col(src_col).alias("__src"), F.col(dst_col).alias("__dst")
    ).localCheckpoint()
    if broadcast_max_rows is None:
        broadcast_max_rows = int(
            edges.sparkSession.conf.get(
                "spark.loris.closure.broadcastMaxRows", "4000000"
            )
        )

    def hinted(df: DataFrame, n_rows: int) -> DataFrame:
        return F.broadcast(df) if n_rows <= broadcast_max_rows else df

    # localCheckpoint each frontier: it truncates lineage, so `visited`
    # stays a FLAT union of materialized frontiers instead of a plan that
    # re-derives every earlier round on each termination check (the
    # un-checkpointed loop went quadratic in plan size; a persist-only
    # variant kept the whole chain pinned and OOM'd a 1g driver). The
    # count observed by that checkpoint job is both the stop test and the
    # broadcast-size ledger for the next round.
    frontier, n_frontier = checkpoint_count(
        seeds.select(F.col(id_col).alias("__id")).distinct()
    )
    visited = frontier
    n_visited = n_frontier

    for _ in range(max_iterations):
        f = hinted(frontier, n_frontier)
        nxt, n_new = checkpoint_count(
            f.join(e, f["__id"] == e["__src"])
            .select(F.col("__dst").alias("__id"))
            .distinct()
            .join(hinted(visited, n_visited), on="__id", how="left_anti")
        )
        if n_new == 0:
            break
        visited = visited.unionByName(nxt)
        n_visited += n_new
        frontier = nxt
        n_frontier = n_new
    else:
        # Frontier still live at the cap: the closure is TRUNCATED (deep or
        # cyclic graph). A cascade delete planned on a partial closure would
        # orphan derived rows — fail loudly instead.
        raise RuntimeError(
            f"transitive_closure did not drain in {max_iterations} "
            "iterations (graph deeper than the cap, or cyclic); raise "
            "max_iterations"
        )

    return visited.select(F.col("__id").alias(id_col))


def ancestor_closure(
    nodes: DataFrame,
    id_col: str = "node_id",
    parent_col: str = "parent_id",
    max_iterations: int = 20,
    broadcast_edges: bool = False,
) -> DataFrame:
    """(node, ancestor, dist) pairs for a self-referencing parent-pointer
    table — the `hed_schema_node` shape
    (`/root/reference/python/lib/db/models/hed_schema_node.py:7-16`): every
    node paired with each of its strict ancestors and the hop count.

    Unlike :func:`transitive_closure` this KEEPS the origin node, so the
    result is a joinable closure table: parsed tags broadcast-join to it to
    pull full ancestor paths without per-row recursion. Ontologies are
    metadata-sized (HED ~1-2k nodes), so each iteration joins tiny frames;
    the loop runs O(tree depth) rounds and raises on cap exhaustion like
    transitive_closure (a truncated closure would silently drop ancestors).

    ``broadcast_edges``: when the parent-pointer table is metadata-sized
    (ontologies, a registration batch's provenance) the per-round join
    should broadcast the edge side — every iteration becomes a map-side
    hash join with NO shuffle exchange, so the only per-round cost is the
    frontier materialization. Leave False for edge tables too big to
    broadcast (the generic shuffle join).
    """
    edges = nodes.select(
        F.col(id_col).alias("__n"), F.col(parent_col).alias("__a")
    ).filter(F.col("__a").isNotNull())
    if broadcast_edges:
        edges = F.broadcast(edges.localCheckpoint())
    out = edges.withColumn("dist", F.lit(1)).localCheckpoint()
    frontier = out
    for _ in range(max_iterations):
        nxt, n_new = checkpoint_count(
            frontier.alias("f")
            .join(edges.alias("e"), F.col("f.__a") == F.col("e.__n"))
            .select(
                F.col("f.__n").alias("__n"),
                F.col("e.__a").alias("__a"),
                (F.col("f.dist") + 1).alias("dist"),
            )
        )
        if n_new == 0:
            break
        out = out.unionByName(nxt)
        frontier = nxt
    else:
        raise RuntimeError(
            f"ancestor_closure did not drain in {max_iterations} "
            "iterations (tree deeper than the cap, or a parent cycle); "
            "raise max_iterations"
        )

    return out.select(
        F.col("__n").alias(id_col),
        F.col("__a").alias("ancestor_id"),
        "dist",
    )


def pointer_doubling_roots(
    nodes: DataFrame,
    id_col: str = "node_id",
    parent_col: str = "parent_id",
    doublings: int = 5,
) -> DataFrame:
    """(node, root, depth) for a parent-pointer table by POINTER DOUBLING:
    after k self-joins every node's pointer has advanced up to 2**k hops
    (saturating at its root), so ceil(log2(max_depth)) joins replace the
    per-round frontier loop — ONE Catalyst plan, log-depth shuffles, no
    driver-side iteration, no broadcast requirement. This is the scale
    shape for resolving `files.SourceFileID` provenance roots when the
    node table is corpus-sized (delete_imaging_upload.pl:1009-1030 walks
    the same pointers row-at-a-time).

    ``depth`` = number of strict ancestors (0 for roots). Chains deeper
    than 2**doublings raise (a silently truncated root would mis-assign
    provenance) — the one materialization doubles as the saturation
    check.
    """
    state = nodes.select(
        F.col(id_col).alias("__n"),
        F.coalesce(F.col(parent_col), F.col(id_col)).alias("__a"),
        F.when(F.col(parent_col).isNotNull(), F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("__d"),
    )
    for _ in range(doublings):
        nxt = state.select(
            F.col("__n").alias("__m"),
            F.col("__a").alias("__ma"),
            F.col("__d").alias("__md"),
        )
        # LEFT join: a pointer may target a node absent from `nodes` (a
        # phantom parent — e.g. a source row not in this batch); such a
        # pointer is terminal and keeps its current (ancestor, distance)
        state = state.join(nxt, state["__a"] == nxt["__m"], "left").select(
            "__n",
            F.coalesce("__ma", "__a").alias("__a"),
            (F.col("__d") + F.coalesce("__md", F.lit(0))).alias("__d"),
        )
    final = state.localCheckpoint()
    # saturation: a saturated node's pointer lands on a root (whose own
    # advance distance is 0); any remaining positive-distance pointer
    # means the chain is deeper than 2**doublings
    probe = final.select(
        F.col("__n").alias("__m"), F.col("__d").alias("__md")
    )
    unsat = (
        final.join(probe, final["__a"] == probe["__m"])
        .filter(F.col("__md") > 0)
        .limit(1)
        .count()
    )
    if unsat:
        raise RuntimeError(
            f"pointer_doubling_roots: chains deeper than 2**{doublings}; "
            "raise `doublings`"
        )
    return final.select(
        F.col("__n").alias(id_col),
        F.col("__a").alias("root_id"),
        F.col("__d").alias("depth"),
    )
