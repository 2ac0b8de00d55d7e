"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship query smoke check at sf0.001.
``queries()``    — every implemented operator from SURVEY.md §2 (and the
                   training-data-pipeline extensions), (spark, sf_dir) -> DF.
``oracle_sql()`` — matching DuckDB SQL per query, golden oracles built
                   from the sf0.01 correctness catalog (an entry is
                   omitted only when its golden declines that catalog).
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

# Make the package importable regardless of the driver's cwd.
_REPO = str(Path(__file__).resolve().parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from loris_mri_spark import workload  # noqa: E402

workload.load_all()

_CHECK_SF = "/root/testdata/sf0.01"  # the correctness gate's catalog

_PKG_ZIP: "str | None" = None


def _ensure_pkg_shipped(spark: SparkSession) -> None:
    """Ship the package to EXECUTOR Python workers via addPyFile.

    The sys.path insert above only fixes the DRIVER; worker processes
    (mapInPandas, Arrow UDFs, Python data sources) import the package by
    reference and know nothing about the driver's sys.path — with any
    cwd other than the repo root, every scan task would die on
    ModuleNotFoundError. addPyFile is the Spark-native channel: the zip
    rides the session, lands on every worker's sys.path (local mode AND
    a real cluster), and new tasks pick it up immediately."""
    global _PKG_ZIP
    sc = spark.sparkContext
    if _REPO in (sc.getConf().get("spark.submit.pyFiles", "") or ""):
        return
    shipped = getattr(sc, "_loris_pkg_shipped", None)
    if shipped:
        return
    if _PKG_ZIP is None:
        import tempfile
        import zipfile

        fd, zpath = tempfile.mkstemp(
            prefix="loris_mri_spark_", suffix=".zip"
        )
        import os

        os.close(fd)
        pkg_root = Path(_REPO) / "loris_mri_spark"
        with zipfile.ZipFile(zpath, "w") as zf:
            for py in sorted(pkg_root.rglob("*.py")):
                zf.write(py, py.relative_to(Path(_REPO)))
        _PKG_ZIP = zpath
    sc.addPyFile(_PKG_ZIP)
    sc._loris_pkg_shipped = True


def _wrap(fn: "QueryFn") -> "QueryFn":
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        _ensure_pkg_shipped(spark)
        return fn(spark, sf_dir)

    return run


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: protocol identification rollup at sf0.001 — the reference's
    single most important computation (MRI.pm:307-526) as one codegen'd
    ``CASE WHEN`` chain over the scan table (first true branch = first
    matching rule; no join and no shuffle in the match), then a count per
    scan type."""
    _ensure_pkg_shipped(spark)
    return workload.QUERIES["j7_scan_type_rollup"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: _wrap(fn) for name, fn in workload.QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    resolved = {
        name: oracle(_CHECK_SF) if callable(oracle) else oracle
        for name, oracle in workload.ORACLES.items()
    }
    return {name: sql for name, sql in resolved.items() if sql is not None}
