"""Benchmark workloads: the operations each runs and how each is checked.

An operation is ``build(spark, inputs) -> DataFrame``; the benchmark times
the build call and then ``toPandas()`` on the returned frame.
Declared queries build with ``workload.QUERIES[name](spark, catalog_dir)``
and are checked against their DuckDB or golden oracle from
``workload.ORACLES``. Ingest operations call the ``sources``/``sinks``
layer functions directly and are checked against the generator manifest.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
from dataclasses import dataclass
from typing import Callable

import pandas as pd

# Declared batch queries over the parquet catalog. The relational one
# spends its time executing the declared plan (scans, joins and the
# protocol match against the rule table); the iterative one is a
# driver-side fixpoint loop that fires many small jobs while it builds.
RELATIONAL = ["j7_protocol_identification"]
ITERATIVE = ["j9_transitive_closure"]

# File-source streaming queries riding with the ingest workload: each
# drains a checkpointed stream with availableNow.
STREAMS = ["t1_incremental_ingest", "t4_notification_append_log"]

# Catalog tables each workload reads (j7 scans lineitem, j9 joins lineitem
# and orders, the streams read events); set-up first-touches these.
TABLES = {"batch": ("lineitem", "orders"), "ingest": ("events",)}


@dataclass(frozen=True)
class Inputs:
    catalog: str  # directory of catalog parquet tables
    imaging: str  # imaging file tree
    out: str  # scratch directory for sink writes
    manifest: dict


@dataclass(frozen=True)
class Op:
    name: str
    build: Callable  # (spark, Inputs) -> DataFrame
    check: Callable  # (pandas.DataFrame, Inputs) -> error text, None if ok
    layer: str  # layer the op exercises: workload, sources or sinks
    kind: str | None = None  # imaging input it parses (manifest key)
    # input files the reader classified as malformed, from the op's output
    malformed: Callable | None = None


def _expect(cond: bool, what: str) -> str | None:
    return None if cond else what


# -- declared queries --------------------------------------------------------


def _oracle_module():
    """``tests/oracle.py`` of the repository (the current directory)."""
    import importlib.util

    mod = sys.modules.get("_perfbench_oracle")
    if mod is None:
        spec = importlib.util.spec_from_file_location(
            "_perfbench_oracle", os.path.join("tests", "oracle.py")
        )
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        sys.modules["_perfbench_oracle"] = mod
    return mod


def _query_op(name: str) -> Op:
    def build(spark, inp: Inputs):
        from loris_mri_spark import workload

        return workload.QUERIES[name](spark, inp.catalog)

    def check(actual: pd.DataFrame, inp: Inputs) -> str | None:
        from loris_mri_spark import workload

        oracle = _oracle_module()
        expected = oracle.run_oracle(workload.ORACLES[name], inp.catalog)
        if sorted(actual.columns) != sorted(expected.columns):
            return f"columns {sorted(actual.columns)} != {sorted(expected.columns)}"
        if oracle.canonical(actual) != oracle.canonical(expected):
            return f"values differ ({len(actual)} rows, oracle {len(expected)})"
        return None

    return Op(name, build, check, "workload")


# -- ingest: parse, classify, register ----------------------------------------


def _dicom(spark, inp: Inputs):
    """DICOM header scan, collapsed to one row per series (non-DICOM files
    form their own group)."""
    from pyspark.sql import functions as F

    from loris_mri_spark.sources.dicom import scan_dicom_dir

    hdrs = scan_dicom_dir(spark, os.path.join(inp.imaging, "dicom"))
    return hdrs.groupBy("is_dicom", "series_uid").agg(
        F.count("*").alias("n_files"), F.min("instance_number").alias("first")
    )


def _bad_dicom(df: pd.DataFrame) -> int:
    return int(df.loc[~df["is_dicom"].astype(bool), "n_files"].sum())


def _check_dicom(df: pd.DataFrame, inp: Inputs) -> str | None:
    m = inp.manifest["imaging"]["dicom"]
    series = int(df["is_dicom"].astype(bool).sum())
    return (
        _expect(int(df["n_files"].sum()) == m["files"], "dicom file count")
        or _expect(_bad_dicom(df) == m["malformed"], "dicom malformed count")
        or _expect(series == m["series"], f"dicom series {series}")
    )


def _nifti(spark, inp: Inputs):
    from loris_mri_spark.sources.nifti import read_nifti_headers

    return read_nifti_headers(spark, os.path.join(inp.imaging, "nifti"))


def _flag(col: pd.Series) -> pd.Series:
    """A boolean column as read back: bool, null, or a partition string."""
    return col.astype(str).str.lower().eq("true")


def _bad_nifti(df: pd.DataFrame) -> int:
    return int((~_flag(df["is_nifti"])).sum())


def _check_nifti(df: pd.DataFrame, inp: Inputs) -> str | None:
    m = inp.manifest["imaging"]["nifti"]
    ok = _flag(df["is_nifti"])
    # a 3-d volume has no time dimension
    dims = df.loc[ok, ["xspace", "yspace", "zspace", "time"]].fillna(1).astype("int64")
    vox = int(dims.prod(axis=1).sum())
    return (
        _expect(len(df) == m["files"], f"nifti rows {len(df)}")
        or _expect(_bad_nifti(df) == m["malformed"], "nifti malformed count")
        or _expect(vox == m["voxels"], f"nifti voxels {vox} != {m['voxels']}")
    )


def _edf(spark, inp: Inputs):
    from loris_mri_spark.sources.eeg import read_edf_channels

    return read_edf_channels(spark, os.path.join(inp.imaging, "eeg")).drop(
        "samples"
    )


def _check_edf(df: pd.DataFrame, inp: Inputs) -> str | None:
    m = inp.manifest["imaging"]["edf"]
    return (
        _expect(len(df) == m["channels"], f"edf channels {len(df)}")
        or _expect(df["path"].nunique() == m["files"], "edf files")
        or _expect(int(df["n_samples"].sum()) == m["samples"], "edf samples")
    )


def _minc(spark, inp: Inputs):
    from loris_mri_spark.sources.minc_ecat import read_minc_headers

    return read_minc_headers(spark, os.path.join(inp.imaging, "minc"))


def _bad_minc(df: pd.DataFrame) -> int:
    return int(df.loc[~df["is_readable"].astype(bool), "path"].nunique())


def _check_minc(df: pd.DataFrame, inp: Inputs) -> str | None:
    m = inp.manifest["imaging"]["minc"]
    return _expect(df["path"].nunique() == m["files"], "minc files") or _expect(
        _bad_minc(df) == m["malformed"], "minc malformed count"
    )


def _brainvision(spark, inp: Inputs):
    from loris_mri_spark.sources.eeg import read_brainvision_channels

    return read_brainvision_channels(
        spark, os.path.join(inp.imaging, "brainvision")
    )


def _check_brainvision(df: pd.DataFrame, inp: Inputs) -> str | None:
    m = inp.manifest["imaging"]["brainvision"]
    return (
        _expect(len(df) == m["channels"], f"brainvision channels {len(df)}")
        or _expect(df["path"].nunique() == m["files"], "brainvision files")
        or _expect(int(df["n_samples"].sum()) == m["samples"],
                   "brainvision samples")
    )


def _events_tsv(spark, inp: Inputs):
    from loris_mri_spark.sources.bids import read_events_tsv

    return read_events_tsv(spark, os.path.join(inp.imaging, "bids", "*.tsv"))


def _check_events_tsv(df: pd.DataFrame, inp: Inputs) -> str | None:
    m = inp.manifest["imaging"]["events_tsv"]
    return (
        _expect(len(df) == m["rows"], f"events.tsv rows {len(df)}")
        or _expect(df["subject"].nunique() == m["files"], "events.tsv subjects")
    )


def _sink_dir(inp: Inputs, tag: str) -> str:
    """A fresh sink directory; earlier ones of the same tag are removed."""
    os.makedirs(inp.out, exist_ok=True)
    for old in os.listdir(inp.out):
        if old.startswith(f"{tag}-"):
            shutil.rmtree(os.path.join(inp.out, old), ignore_errors=True)
    return tempfile.mkdtemp(prefix=f"{tag}-", dir=inp.out)


def _register_dicom(spark, inp: Inputs):
    """Register every scanned DICOM-tree file as a row with a content-hash
    id; returns the registered table read back."""
    from pyspark.sql import functions as F

    from loris_mri_spark.sinks import append_with_ids
    from loris_mri_spark.sources.dicom import scan_dicom_dir

    hdrs = scan_dicom_dir(spark, os.path.join(inp.imaging, "dicom"))
    path = _sink_dir(inp, "files")
    append_with_ids(hdrs, path, id_col="file_id", natural_key=F.col("path"))
    return spark.read.parquet(path).select("file_id", "is_dicom", "series_uid")


def _check_register(df: pd.DataFrame, inp: Inputs) -> str | None:
    m = inp.manifest["imaging"]["dicom"]
    return _expect(
        len(df) == m["files"] and df["file_id"].nunique() == m["files"],
        "registered dicom ids",
    )


def _register_nifti(spark, inp: Inputs):
    """Write the NIfTI headers with a dynamic partition overwrite keyed on
    the parse outcome; returns the written table read back."""
    from loris_mri_spark.sinks import overwrite_partitions
    from loris_mri_spark.sources.nifti import read_nifti_headers

    hdrs = read_nifti_headers(spark, os.path.join(inp.imaging, "nifti"))
    path = _sink_dir(inp, "nifti")
    overwrite_partitions(hdrs.select("path", "is_nifti", "xspace"), path,
                         ["is_nifti"])
    return spark.read.parquet(path)


def _check_register_nifti(df: pd.DataFrame, inp: Inputs) -> str | None:
    m = inp.manifest["imaging"]["nifti"]
    return _expect(len(df) == m["files"], f"registered nifti rows {len(df)}") or (
        _expect(_bad_nifti(df) == m["malformed"], "registered nifti malformed")
    )


INGEST = [
    Op("sources.scan_dicom_dir", _dicom, _check_dicom, "sources", "dicom",
       _bad_dicom),
    Op("sources.read_nifti_headers", _nifti, _check_nifti, "sources", "nifti",
       _bad_nifti),
    Op("sources.read_edf_channels", _edf, _check_edf, "sources", "edf"),
    Op("sources.read_minc_headers", _minc, _check_minc, "sources", "minc",
       _bad_minc),
    Op("sources.read_brainvision_channels", _brainvision, _check_brainvision,
       "sources", "brainvision"),
    Op("sources.read_events_tsv", _events_tsv, _check_events_tsv, "sources",
       "events_tsv"),
    Op("sinks.append_with_ids", _register_dicom, _check_register, "sinks"),
    Op("sinks.overwrite_partitions", _register_nifti, _check_register_nifti,
       "sinks"),
]

WORKLOADS = ("batch", "ingest")


def workload_ops(name: str) -> list[Op]:
    if name == "batch":
        return [_query_op(q) for q in RELATIONAL + ITERATIVE]
    if name == "ingest":
        return INGEST + [_query_op(q) for q in STREAMS]
    raise KeyError(name)
