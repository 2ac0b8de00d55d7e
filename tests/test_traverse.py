"""Unit invariants for the iterative graph operators
(operators/traverse.py) beyond the oracle-parity coverage of
j9_transitive_closure / x4b_hed_ancestors."""

from __future__ import annotations

import pytest

from loris_mri_spark.operators.traverse import ancestor_closure, transitive_closure


def test_ancestor_closure_paths_and_distances(spark):
    #      1
    #     / \
    #    2   3
    #    |
    #    4        5 (root, isolated)
    nodes = spark.createDataFrame(
        [(1, None), (2, 1), (3, 1), (4, 2), (5, None)],
        "node_id int, parent_id int",
    )
    got = {
        (r["node_id"], r["ancestor_id"], r["dist"])
        for r in ancestor_closure(nodes).collect()
    }
    assert got == {(2, 1, 1), (3, 1, 1), (4, 2, 1), (4, 1, 2)}


def test_ancestor_closure_raises_on_parent_cycle(spark):
    nodes = spark.createDataFrame(
        [(1, 2), (2, 1)], "node_id int, parent_id int"
    )
    with pytest.raises(RuntimeError, match="did not drain"):
        ancestor_closure(nodes, max_iterations=5).collect()


def test_transitive_closure_reaches_and_stops(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "src int, dst int"
    )
    seeds = spark.createDataFrame([(1,)], "id int")
    got = {r["id"] for r in transitive_closure(edges, seeds).collect()}
    assert got == {1, 2, 3}


def test_transitive_closure_job_count(spark):
    """Job-count pin for a 3-deep chain: the edge-list checkpoint, the seed
    round and four frontier rounds (the last one drains). Each round is
    one eager checkpoint whose observed count is the stop test, with no
    count job of its own. Job counts are deterministic, so an extra
    per-round job fails here without timing noise."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(1,)], "id long")
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    before = scheduler.nextJobId()
    closure = transitive_closure(edges, seeds)
    jobs = scheduler.nextJobId() - before
    assert {r["id"] for r in closure.collect()} == {1, 2, 3, 4}
    assert jobs == 17


def test_transitive_closure_cyclic_graph_drains(spark):
    """1 -> 2 -> 3 -> 1 plus a branch 2 -> 5 -> 6: the anti-join against
    the visited set stops the cycle, so the loop drains instead of
    hitting the cap."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (2, 5), (5, 6), (7, 8)], "src int, dst int"
    )
    seeds = spark.createDataFrame([(1,)], "id int")
    got = sorted(r["id"] for r in transitive_closure(edges, seeds).collect())
    assert got == [1, 2, 3, 5, 6]


def test_transitive_closure_empty_seeds(spark):
    edges = spark.createDataFrame([(1, 2), (2, 3)], "src int, dst int")
    seeds = spark.createDataFrame([], "id int")
    assert transitive_closure(edges, seeds).collect() == []


def test_transitive_closure_broadcast_guard_fallback(spark):
    """Above ``broadcast_max_rows`` the frontier/visited broadcast hints
    are DROPPED (shuffle-join fallback) instead of trusting the
    cascade-seed contract — the closure itself must be unchanged. With
    threshold 0 every round takes the fallback path; the conf default
    (4M rows) keeps the hinted plan at any realistic seed size."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "src int, dst int"
    )
    seeds = spark.createDataFrame([(1,), (10,)], "id int")
    hinted = {r["id"] for r in transitive_closure(edges, seeds).collect()}
    fallback = {
        r["id"]
        for r in transitive_closure(
            edges, seeds, broadcast_max_rows=0
        ).collect()
    }
    assert hinted == fallback == {1, 2, 3, 4, 10, 11}


def test_pointer_doubling_roots_matches_closure(spark):
    """pointer_doubling_roots must agree with the per-round closure on
    root (deepest ancestor) and depth, including PHANTOM parents (a
    pointer targeting a node absent from the table is terminal)."""
    from loris_mri_spark.operators.traverse import pointer_doubling_roots

    #    1 (root)        7 -> 99 (phantom parent)
    #    |               |
    #    2 -> 4 -> 6     8
    nodes = spark.createDataFrame(
        [(1, None), (2, 1), (4, 2), (6, 4), (7, 99), (8, 7), (5, None)],
        "node_id int, parent_id int",
    )
    got = {
        (r["node_id"], r["root_id"], r["depth"])
        for r in pointer_doubling_roots(nodes).collect()
    }
    assert got == {
        (1, 1, 0),
        (2, 1, 1),
        (4, 1, 2),
        (6, 1, 3),
        (7, 99, 1),   # phantom parent: terminal root
        (8, 99, 2),
        (5, 5, 0),
    }


def test_pointer_doubling_roots_raises_on_deep_chain(spark):
    from loris_mri_spark.operators.traverse import pointer_doubling_roots

    chain = [(i, i - 1 if i else None) for i in range(10)]
    nodes = spark.createDataFrame(chain, "node_id int, parent_id int")
    with pytest.raises(RuntimeError, match="deeper than"):
        pointer_doubling_roots(nodes, doublings=2)  # cap 4 < depth 9
    ok = pointer_doubling_roots(nodes, doublings=4)  # cap 16
    assert ok.filter("node_id = 9").collect()[0]["depth"] == 9
