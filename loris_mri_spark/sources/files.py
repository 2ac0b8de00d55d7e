"""The one binaryFile scan every ``sources`` reader starts from, packed to
the slots (the rule, the Python-task floor it answers and what packing
still saves at that floor are in the package docstring), and the one
Arrow map every file parser emits its rows through.
"""

from __future__ import annotations

import math
from typing import Any, Callable, Iterable, Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


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


def map_rows(
    df: DataFrame,
    fn: Callable[..., Iterable[dict[str, Any]]],
    ddl: str,
) -> DataFrame:
    """``df.mapInArrow`` that calls ``fn(*row)`` on each input row and
    emits the dicts it yields as rows of the DDL schema ``ddl``.

    Each output column is built with ``pa.array`` at its Arrow type
    (derived once, here on the driver): a key a row lacks is NULL, a
    Python int stays an exact 64-bit int, and a float NaN is NULL (a
    NaN header float, e.g. a NIfTI pixdim, reads as missing)."""
    schema = to_arrow_schema(StructType.fromDDL(ddl))

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            rows = [
                out
                for row in zip(*(c.to_pylist() for c in batch.columns))
                for out in fn(*row)
            ]
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(
                        [r.get(f.name) for r in rows],
                        type=f.type,
                        from_pandas=True,
                    )
                    for f in schema
                ],
                schema=schema,
            )

    return df.mapInArrow(run, ddl)
