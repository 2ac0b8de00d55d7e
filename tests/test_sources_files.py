"""The binaryFile scans under ``sources/`` are packed to the slots: a
listing of small files parses in one task per slot, the 128 MB split rule
still bounds the task count from below at scale, and packing does not
change what the readers return."""

from __future__ import annotations

import math
import os

from loris_mri_spark.sources.dicom import (
    DICOM_SCHEMA,
    parse_dicom_bytes,
    scan_dicom_dir,
)
from loris_mri_spark.sources.files import binary_files

FIXTURES = os.path.join(os.path.dirname(__file__), "fixtures")


def _write_files(root, n: int, size: int) -> int:
    for i in range(n):
        (root / f"f{i:04d}.bin").write_bytes(bytes([i % 251]) * size)
    return n * size


def test_small_listing_scans_in_one_task_per_slot(spark, tmp_path):
    slots = spark.sparkContext.defaultParallelism
    n = 40 * slots
    _write_files(tmp_path, n, 64)
    df = scan_dicom_dir(spark, str(tmp_path))
    assert df.rdd.getNumPartitions() == slots
    rows = df.collect()
    assert len(rows) == n
    assert not any(r["is_dicom"] for r in rows)


def test_split_rule_bounds_the_task_count(spark, tmp_path):
    key = "spark.sql.files.maxPartitionBytes"
    before = spark.conf.get(key, None)
    slots = spark.sparkContext.defaultParallelism
    listed = _write_files(tmp_path, 12 * slots, 300)
    spark.conf.set(key, "1000")
    try:
        df = binary_files(spark, str(tmp_path))
        parts = df.rdd.getNumPartitions()
        assert parts >= math.ceil(listed / 1000) > slots
        assert df.count() == 12 * slots
    finally:
        if before is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, before)


def test_glob_and_recursion_options_kept(spark, tmp_path):
    (tmp_path / "sub").mkdir()
    (tmp_path / "a.nii").write_bytes(b"x")
    (tmp_path / "b.txt").write_bytes(b"y")
    (tmp_path / "sub" / "c.nii").write_bytes(b"z")

    def names(df):
        return sorted(os.path.basename(r["path"]) for r in df.collect())

    assert names(binary_files(spark, str(tmp_path), "*.nii")) == [
        "a.nii", "c.nii",
    ]
    assert names(
        binary_files(spark, str(tmp_path), recursive=False)
    ) == ["a.nii", "b.txt"]


def test_scan_dicom_dir_equals_pure_python_parse(spark):
    cols = [c.split(" ")[0] for c in DICOM_SCHEMA.split(", ")]
    expected = []
    dirs = sorted(d for d in os.listdir(FIXTURES) if d.startswith("dicom"))
    assert len(dirs) > 1
    for d in dirs:
        for root, _, files in os.walk(os.path.join(FIXTURES, d)):
            for name in files:
                path = os.path.join(root, name)
                with open(path, "rb") as fh:
                    parsed = parse_dicom_bytes(fh.read())
                expected.append(
                    (path,) + tuple(parsed.get(c) for c in cols[1:])
                )
    got = [
        (r["path"].removeprefix("file:"),) + tuple(r[c] for c in cols[1:])
        for r in scan_dicom_dir(spark, os.path.join(FIXTURES, "dicom*"))
        .collect()
    ]
    assert sorted(got) == sorted(expected)


def test_map_rows_nan_and_missing_keys_are_null(spark):
    """``map_rows`` builds each column at its schema type: a Python or
    numpy float NaN in a double column is NULL, a key a row lacks is
    NULL in every column type, and a bigint past 2**53 stays exact."""
    import numpy as np

    from loris_mri_spark.sources.files import map_rows

    def rows(k):
        yield {"k": k, "d": float("nan") if k == 0 else np.float64("nan")}
        yield {"k": k, "d": 0.5, "i": 7, "b": 2**62 + 1, "f": True, "a": [1.5]}
        yield {"k": k}

    ddl = "k int, d double, i int, b bigint, f boolean, a array<double>"
    got = map_rows(spark.createDataFrame([(0,), (1,)], "k int"), rows, ddl)
    full = (0.5, 7, 2**62 + 1, True, [1.5])
    nulls = (None,) * 5
    expected = sorted(
        [(k, *nulls) for k in (0, 1)] * 2 + [(k, *full) for k in (0, 1)],
        key=repr,
    )
    assert sorted((tuple(r) for r in got.collect()), key=repr) == expected
