"""Shared step of the engine's fixpoint loops (operators/traverse.py,
operators/components.py): materialize one round and read the row count
its stop test needs from the same job.

Each loop round is localCheckpoint'ed to keep plans flat. An
``Observation`` attached to the frame fires on that eager checkpoint, so
the termination count rides the checkpoint job instead of paying a
separate ``count()`` / ``isEmpty()`` job of its own.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


def checkpoint_count(
    df: DataFrame, condition: "Column | None" = None
) -> "tuple[DataFrame, int]":
    """``df.localCheckpoint()`` and the number of its rows (only those
    where ``condition`` is true, when given), counted by the checkpoint's
    own job rather than a separate one."""
    obs = Observation()
    n = F.count(F.lit(1) if condition is None else F.when(condition, True))
    checkpointed = df.observe(obs, n.alias("n")).localCheckpoint()
    return checkpointed, obs.get["n"]
