"""Tar/gzip archive source — SURVEY §2.1 S3.

Reference: nested `.tar` -> `.tar.gz` DICOM archive extraction
(`/root/reference/python/lib/imaging.py:1150-1174`,
`uploadNeuroDB/NeuroDB/FileDecompress.pm`). The reference extracts to a
temp dir on one host; the engine instead explodes archive MEMBERS into
rows inside the scan tasks (binaryFile + `files.map_rows` + stdlib
tarfile), so a directory of thousands of archives fans out across
executors and the member bytes flow straight into downstream parsers
(e.g. the DICOM header source) without touching a shared filesystem.
"""

from __future__ import annotations

import io
import tarfile
from typing import Any, Iterator

from pyspark.sql import DataFrame, SparkSession

from loris_mri_spark.sources.files import binary_files, map_rows

MEMBER_SCHEMA = (
    "archive string, member string, size long, content binary"
)

# Members larger than this are inventoried (name + size) with NULL
# content rather than materialized as a single row cell.
_MAX_MEMBER_BYTES = 512 * 1024 * 1024


def _member_rows(path: str, content: bytes) -> Iterator[dict[str, Any]]:
    try:
        with tarfile.open(fileobj=io.BytesIO(content), mode="r:*") as tar:
            for m in tar.getmembers():
                if not m.isfile():
                    continue
                row = {"archive": path, "member": m.name, "size": m.size}
                if m.size > _MAX_MEMBER_BYTES:
                    # tarfile reads exactly the header-declared size, so
                    # checking BEFORE read() bounds a compressed bomb;
                    # emit the inventory row (name+size) with NULL content
                    # instead of materializing a multi-GiB cell (Arrow and
                    # Spark binary cells top out near 2 GiB)
                    yield row
                    continue
                f = tar.extractfile(m)
                yield {**row, "content": f.read() if f is not None else b""}
    except tarfile.TarError:
        return  # non-archive input: classified out, not fatal


def read_tar_members(spark: SparkSession, path_glob: str) -> DataFrame:
    """Explode every member of every tar/tar.gz under ``path_glob`` into
    (archive, member, size, content) rows — a row-generating (UDTF-like)
    source; compose with the DICOM/NIfTI parsers for nested ingest."""
    files = binary_files(spark, path_glob).select("path", "content")
    return map_rows(files, _member_rows, MEMBER_SCHEMA)
