"""BIDS TSV/JSON sources — SURVEY §2.1 S8.

Reference: events.tsv / participants.tsv / *.json sidecar ingestion
(`/root/reference/python/loris_bids_importer/src/loris_bids_importer/events.py:81-155`,
`loris_bids_utils/src/loris_bids_utils/files/{events,scans,participants}.py`).

BIDS semantics preserved:
- 'n/a' is the BIDS null literal -> nullValue option.
- onset/duration default to 0 when missing (events.py:128-129).
- "additional fields" = columns beyond the BIDS-known set (events.py:
  114-121) — the U3 set-difference surfaced per file.
- the source file identifies the subject/task -> extracted from
  _metadata.file_path (the reference threads filenames through the
  pipeline the same way).
"""

from __future__ import annotations

import csv

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

KNOWN_EVENT_FIELDS = ("onset", "duration", "trial_type", "response_time", "sample")
BIDS_NULL = "n/a"


def _first_header_line(spark: SparkSession, path_glob: str) -> str | None:
    """The first non-empty line of the files ``path_glob`` matches, read
    on the driver through the Hadoop ``FileSystem`` API, files in path
    order (a matched directory contributes its non-hidden files, also in
    path order). "Empty" is what Spark's CSV header inference skips: a
    line of nothing but spaces. A UTF-8 BOM at a file's start is dropped,
    as Spark's line reader drops it. None when no file has such a line."""
    jvm = spark._jvm
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    codecs = jvm.org.apache.hadoop.io.compress.CompressionCodecFactory(conf)
    pattern = jvm.org.apache.hadoop.fs.Path(path_glob)
    fs = pattern.getFileSystem(conf)

    def first_line(statuses, top: bool) -> str | None:
        for st in sorted(statuses or [], key=lambda s: s.getPath().toString()):
            p = st.getPath()
            if not top and p.getName().startswith(("_", ".")):
                continue
            if st.isDirectory():
                line = first_line(fs.listStatus(p), False)
            else:
                stream = fs.open(p)
                codec = codecs.getCodec(p)
                if codec is not None:
                    stream = codec.createInputStream(stream)
                reader = jvm.java.io.BufferedReader(
                    jvm.java.io.InputStreamReader(stream, "UTF-8")
                )
                try:
                    line = reader.readLine()
                    if line is not None:
                        line = line.removeprefix("\ufeff")
                    while line is not None and not line.strip(" "):
                        line = reader.readLine()
                finally:
                    reader.close()
            if line is not None:
                return line
        return None

    return first_line(fs.globStatus(pattern), True)


def _header_schema(spark: SparkSession, line: str | None) -> StructType:
    """The all-string schema a ``header=true, inferSchema=false`` CSV read
    infers from header ``line``: Spark's safe-header naming (an empty or
    null-literal name becomes ``_c<i>``; a duplicate name, case-insensitively
    unless ``spark.sql.caseSensitive``, gets its index appended)."""
    if line is None:
        return StructType([])
    names = next(csv.reader([line], delimiter="\t"))
    case_sensitive = spark.conf.get("spark.sql.caseSensitive") == "true"

    def key(name: str) -> str:
        return name if case_sensitive else name.lower()

    seen: dict[str, int] = {}
    for name in names:
        seen[key(name)] = seen.get(key(name), 0) + 1
    return StructType([
        StructField(
            f"_c{i}" if name in ("", BIDS_NULL)
            else f"{name}{i}" if seen[key(name)] > 1
            else name,
            StringType(),
        )
        for i, name in enumerate(names)
    ])


def read_events_tsv(spark: SparkSession, path_glob: str) -> DataFrame:
    """events.tsv source: tab-separated, 'n/a' nulls, onset/duration
    coalesced to 0, subject extracted from the filename.

    Columns map by position onto the header of the first file in path
    order, read on the driver (no schema-inference jobs; every column a
    string, as ``inferSchema=false`` gives). Spark's own inference took
    the header from its first partition, which holds the largest file;
    the two agree whenever the files' headers agree, which BIDS requires
    within a task."""
    df = (
        spark.read.option("sep", "\t")
        .option("header", "true")
        .option("nullValue", BIDS_NULL)
        .schema(_header_schema(spark, _first_header_line(spark, path_glob)))
        .csv(path_glob)
        .withColumn("__file", F.col("_metadata.file_path"))
    )
    return df.select(
        F.regexp_extract("__file", r"(sub-[0-9A-Za-z]+)", 1).alias("subject"),
        F.coalesce(F.col("onset").cast("double"), F.lit(0.0)).alias("onset"),
        F.coalesce(F.col("duration").cast("double"), F.lit(0.0)).alias("duration"),
        *[
            F.col(c)
            for c in df.columns
            if c not in ("onset", "duration", "__file")
        ],
    )


def read_participants_tsv(spark: SparkSession, path: str) -> DataFrame:
    return (
        spark.read.option("sep", "\t")
        .option("header", "true")
        .option("nullValue", BIDS_NULL)
        .csv(path)
    )


def read_sidecar_json(spark: SparkSession, path_glob: str) -> DataFrame:
    """JSON sidecars as one row per file with the parameter map — the EAV
    feed (`imaging.py:531-553` flattens sidecars into parameter_file)."""
    raw = (
        spark.read.format("text")
        .option("wholetext", "true")
        .load(path_glob)
        .withColumn("__file", F.col("_metadata.file_path"))
    )
    return raw.select(
        F.regexp_extract("__file", r"(sub-[0-9A-Za-z]+)", 1).alias("subject"),
        F.from_json(
            "value", "map<string,string>"
        ).alias("params"),
    )
