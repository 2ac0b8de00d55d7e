"""Local mirror of the driver's correctness gate: run a Spark query and its
DuckDB oracle on the same parquet tables and compare order-insensitively."""

from __future__ import annotations

import math
from typing import Any

import duckdb
import pandas as pd

from loris_mri_spark.catalog import TESTDATA_TABLES, table_path
from loris_mri_spark.workload import Oracle


def run_oracle(oracle: Oracle, sf_dir: str) -> pd.DataFrame:
    """Run a query's oracle on the catalog in ``sf_dir``: SQL as is, a
    golden builder on the SQL it returns for ``sf_dir``."""
    sql = oracle(sf_dir) if callable(oracle) else oracle
    if sql is None:
        raise AssertionError(f"{oracle.__name__} declines the catalog {sf_dir}")
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{table_path(sf_dir, t)}'")
    return con.sql(sql).df()


def _norm_cell(v: Any) -> Any:
    if v is None:
        return "<null>"
    if isinstance(v, float):
        if math.isnan(v):
            return "<null>"
        # Nullable int columns arrive as float64: compare integral values
        # exactly (a .9g collapse would mask real diffs in e.g. µs epochs).
        if v.is_integer() and abs(v) < 2**53:
            return str(int(v))
        # Normalize away sub-1e-9 representation noise the way a tolerant
        # comparator would; exact mismatches beyond that still fail.
        return f"{v:.9g}"
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    return str(v)


def canonical(df: pd.DataFrame) -> list[tuple]:
    cols = sorted(df.columns)
    rows = [
        tuple(_norm_cell(v) for v in row)
        for row in df[cols].itertuples(index=False, name=None)
    ]
    return sorted(rows)


def assert_parity(spark_df, oracle: Oracle, sf_dir: str, name: str = "") -> None:
    actual = spark_df.toPandas()
    expected = run_oracle(oracle, sf_dir)
    assert sorted(actual.columns) == sorted(expected.columns), (
        f"{name}: column mismatch spark={sorted(actual.columns)} "
        f"oracle={sorted(expected.columns)}"
    )
    assert len(actual) == len(expected), (
        f"{name}: row count spark={len(actual)} oracle={len(expected)}"
    )
    a, e = canonical(actual), canonical(expected)
    if a != e:
        diffs = [(x, y) for x, y in zip(a, e) if x != y][:5]
        raise AssertionError(f"{name}: value mismatch; first diffs: {diffs}")
