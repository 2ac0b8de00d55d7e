"""Connected components over a pair graph — the cluster step of near-dup
deduplication (pair lists become keep/remove sets: every cluster keeps
its minimum id, the rest are duplicates).

Spark-first shape: iterative MIN-LABEL PROPAGATION. Each node starts
labeled with itself; each round every node takes the minimum label among
itself and its neighbors; fixpoint in O(component diameter) rounds.
Near-dup clusters have tiny diameters (near-duplicates of a document are
near-duplicates of each other), so 3-5 rounds close real corpora. Each
round is one shuffle of (node, label) pairs — linear, skew-safe — and
frontier labels are localCheckpoint'ed to keep plans flat (same
discipline as operators/traverse.py). The stop test costs no job of its
own: the number of labels that moved is observed by the round's
checkpoint job (operators/fixpoint.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from loris_mri_spark.operators.fixpoint import checkpoint_count


def connected_components(
    pairs: DataFrame,
    left_col: str = "i",
    right_col: str = "j",
    max_iterations: int = 15,
) -> DataFrame:
    """Components of the undirected graph given by (left_col, right_col)
    pairs. Returns (node, component) where component = min node id in the
    component. Only nodes appearing in pairs are returned (isolated rows
    are trivially their own component — join them back at the call site).
    """
    edges = (
        pairs.select(F.col(left_col).alias("a"), F.col(right_col).alias("b"))
        .unionByName(
            pairs.select(F.col(right_col).alias("a"), F.col(left_col).alias("b"))
        )
        .distinct()
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )

    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges["b"] == labels["node"])
            .groupBy(F.col("a").alias("node2"))
            .agg(F.min("label").alias("nmin"))
        )
        updated, n_changed = checkpoint_count(
            labels.join(neighbor_min, labels["node"] == F.col("node2"), "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))
                ).alias("label"),
                (F.coalesce(F.col("nmin"), F.col("label")) < F.col("label")).alias(
                    "__changed"
                ),
            ),
            F.col("__changed"),
        )
        labels = updated.drop("__changed")
        if n_changed == 0:
            break
    else:
        # Cap exhausted while labels were still moving: the labels are NOT
        # a fixpoint, so a long pairwise chain (a real shape in templated
        # corpora) would come back as split clusters. Fail loudly rather
        # than return silently-wrong components.
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            "iterations (component diameter exceeds the cap); raise "
            "max_iterations"
        )

    return labels.select(F.col("node"), F.col("label").alias("component"))
