"""Vectorized pandas UDAF (GROUPED_AGG) — the one Python-interop shape
not exercised elsewhere (SCALAR pandas_udf: workload/signals.py;
GROUPED_MAP applyInPandas: workload/signals.py; MAP mapInPandas: the
workload/pipeline.py blake2b stream hash; ARROW mapInArrow:
sources/files.py map_rows, which every file parser emits through; UDTF:
workload/ingest.py).

NOTE: this module deliberately has NO ``from __future__ import
annotations`` — pandas_udf resolves REAL type hints (pd.Series -> int)
to infer the GROUPED_AGG eval type; stringified hints fail with
UNSUPPORTED_SIGNATURE (see the r6 build notes).

Scale contract: GROUPED_AGG pandas UDFs do NOT partial-aggregate — every
group's full value vector crosses the shuffle to one task (unlike
builtin aggs, which map-side combine). It is therefore the right tool
only for moderate group counts x bounded group sizes, or where the
aggregate genuinely cannot be expressed relationally. The workload query
that exercises this (x5_grouped_agg_trimmed_mean) aggregates 4 groups
and documents the relational rewrite as the 100 TB path — its oracle IS
that rewrite.
"""

import pandas as pd
from pyspark.sql.functions import pandas_udf


@pandas_udf("array<long>")
def trimmed_sum_cents(v: pd.Series) -> list:
    """Exact 10%-trimmed sum over int64 cent amounts: sort, drop
    floor(n/10) values from each end, sum the middle. Equal values are
    interchangeable, so the trimmed SET (hence the sum) is unambiguous
    without a tie-break column. int64 accumulation is exact up to
    2^63-1 — ~9e16 dollars at cent precision; beyond that the caller
    must pre-aggregate (this demo aggregates one table's price column,
    orders of magnitude below the bound).

    Returns [trimmed_sum, n]: a GROUPED_AGG pandas UDF must be the only
    aggregate in its Aggregate (INVALID_PANDAS_UDF_PLACEMENT bars mixing
    with builtin aggs), so the group count rides along in the array
    instead of a sibling count(*)."""
    vals = v.dropna()
    if vals.dtype != "int64":
        # a NULL anywhere in the group makes Arrow hand the column over
        # as float64 — cast back after dropna so the sum is exact int64
        # again (the float hop itself is lossless below 2^53, i.e. ~9e13
        # dollars per VALUE, far above any single price)
        vals = vals.astype("int64")
    vals = vals.sort_values(ignore_index=True)
    k = len(vals) // 10
    middle = vals.iloc[k : len(vals) - k] if k else vals
    return [int(middle.sum()), int(len(vals))]
