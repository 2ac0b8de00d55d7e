"""``read_events_tsv`` takes its header from the first file on the driver,
so building it fires no schema-inference jobs, and it returns what a plain
``inferSchema=false`` CSV read (mapped the same way) returns."""

from __future__ import annotations

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from loris_mri_spark.sources.bids import read_events_tsv

HEADER = "onset\tduration\ttrial_type\tresponse_time\tHED\n"


def _write_events(root, n_files: int) -> str:
    for i in range(n_files):
        # sizes vary, so the largest file is not the first in path order
        rows = "".join(
            f"{j * 0.5}\t{'n/a' if j % 3 else 0.25}\tgo\t{j}\tH{i}\n"
            for j in range(1 + (i * 7) % 11)
        )
        (root / f"sub-{i:03d}_task-rest_events.tsv").write_text(HEADER + rows)
    return str(root / "*.tsv")


def _plain_read(spark, glob: str):
    return (
        spark.read.option("sep", "\t")
        .option("header", "true")
        .option("nullValue", "n/a")
        .option("inferSchema", "false")
        .csv(glob)
    )


def _mapped(df):
    return df.withColumn("__file", F.col("_metadata.file_path")).select(
        F.regexp_extract("__file", r"(sub-[0-9A-Za-z]+)", 1).alias("subject"),
        F.coalesce(F.col("onset").cast("double"), F.lit(0.0)).alias("onset"),
        F.coalesce(F.col("duration").cast("double"), F.lit(0.0)).alias(
            "duration"
        ),
        *[F.col(c) for c in df.columns if c not in ("onset", "duration")],
    )


def test_build_fires_at_most_one_job(spark, tmp_path):
    glob = _write_events(tmp_path, 40)
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    before = scheduler.nextJobId()
    read_events_tsv(spark, glob)
    assert scheduler.nextJobId() - before <= 1


def test_rows_and_schema_equal_plain_csv_read(spark, tmp_path):
    glob = _write_events(tmp_path, 40)
    raw = _plain_read(spark, glob)
    expected = _mapped(raw)
    got = read_events_tsv(spark, glob)
    assert raw.columns == ["onset", "duration", "trial_type",
                           "response_time", "HED"]
    assert got.schema == expected.schema
    rows = sorted(map(tuple, got.collect()))
    assert rows == sorted(map(tuple, expected.collect()))
    assert len(rows) == sum(1 + (i * 7) % 11 for i in range(40))


def test_empty_glob_raises_as_the_csv_reader_does(spark, tmp_path):
    glob = str(tmp_path / "*.tsv")
    with pytest.raises(AnalysisException) as plain:
        _plain_read(spark, glob)
    with pytest.raises(AnalysisException) as ours:
        read_events_tsv(spark, glob)
    assert ours.value.getCondition() == plain.value.getCondition()


@pytest.mark.parametrize(
    "files",
    [
        # blank and space-only lines before the header are skipped
        {"a.tsv": "\n   \nonset\tduration\tx\n1\t2\t3\n"},
        # a tab-only line is not blank to the inference: it is the header
        {"a.tsv": "\t\t\nonset\tduration\n1\t2\n"},
        # a UTF-8 BOM is dropped; trailing blanks in a name are kept
        {"a.tsv": "\ufeffonset\tduration \r\n1\t2\r\n"},
        # empty, quoted-empty and 'n/a' names; case-insensitive duplicates
        {"a.tsv": '"on\tset"\tduration\t""\tn/a\tA\ta\n1\t2\t3\t4\t5\t6\n'},
        # the first file in path order holds only blank lines
        {"a.tsv": "\n\n", "b.tsv": "onset\tb\n1\t2\n"},
        # compressed files
        {"a.tsv.gz": "onset\tgz\n1\t2\n"},
    ],
)
def test_header_schema_equals_csv_inference(spark, tmp_path, files):
    import gzip

    from loris_mri_spark.sources.bids import _first_header_line, _header_schema

    for name, text in files.items():
        data = text.encode("utf-8")
        if name.endswith(".gz"):
            data = gzip.compress(data)
        (tmp_path / name).write_bytes(data)
    for glob in (str(tmp_path / "*.tsv*"), str(tmp_path)):
        assert _header_schema(spark, _first_header_line(spark, glob)) == (
            _plain_read(spark, glob).schema
        ), glob
