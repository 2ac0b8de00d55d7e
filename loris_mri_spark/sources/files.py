"""The one binaryFile scan every ``sources`` reader starts from, packed to
the slots (the rule and the Python-task floor it answers are in the
package docstring).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession


def binary_files(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    recursive: bool = True,
) -> DataFrame:
    """``spark.read.format("binaryFile").load(path)``, coalesced to
    ``max(defaultParallelism, ceil(listed_bytes / maxPartitionBytes))``
    partitions: Spark's split rule without the 4 MB per-file open cost,
    which would pack small files only 32 to a partition. ``coalesce``
    never adds partitions, so a scan that already has fewer keeps them.

    ``glob`` is the ``pathGlobFilter`` option and ``recursive`` the
    ``recursiveFileLookup`` option. ``listed_bytes`` is the file
    relation's ``sizeInBytes``, known once ``load`` has listed the
    files, so the packing costs no job."""
    reader = spark.read.format("binaryFile")
    if glob is not None:
        reader = reader.option("pathGlobFilter", glob)
    if recursive:
        reader = reader.option("recursiveFileLookup", "true")
    df = reader.load(path)
    listed_bytes = df._jdf.queryExecution().analyzed().relation().sizeInBytes()
    sql_conf = spark._jsparkSession.sessionState().conf()
    split_bytes = sql_conf.filesMaxPartitionBytes()
    n = max(
        spark.sparkContext.defaultParallelism,
        math.ceil(listed_bytes / split_bytes),
    )
    return df.coalesce(n)
