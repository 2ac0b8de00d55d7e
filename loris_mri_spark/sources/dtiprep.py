"""DTIPrep protocol / QC-result XML source — the reference's last input
format without an engine reader.

Reference: `DTIPrep/DTI/DTI.pm:282-291` (readDTIPrepXMLprot, XML::Simple
with KeyAttr entry=>parameter, ForceArray=>[parameter]) parses both the
DTIPrep protocol XML and the `*_XMLQCResult.xml` QC report;
`DTIPrep/DTI/DTI.pm:1134-1214` (getRejectedDirections) walks the QC
report's "DWI Check" entries counting gradients whose <processing> status
matches EXCLUDE_SLICECHECK / EXCLUDE_GRADIENTCHECK / EXCLUDE_INTERLACECHECK;
`DTIPrep/DTIPrepRegister.pl:213,270-304` registers protocol + report.

Engine shape: the XML tree of nested <entry parameter="..."> elements is
flattened into EAV rows — one row per <value> child (value_index preserves
the multi-value order XML::Simple's ForceArray keeps, e.g. IMAGE_size's
three dims) plus the gradient <processing> status — the same EAV feed the
parameter_file pivot (J2) consumes. Parse runs in `files.map_rows` over
binaryFile; malformed XML CLASSIFIES (parse_ok=false row) instead of
raising, like every other parser in sources/ (a raise inside a task kills
the whole scan).
"""

from __future__ import annotations

import xml.etree.ElementTree as ET
from collections.abc import Iterator
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from loris_mri_spark.sources.files import binary_files, map_rows

DTIPREP_SCHEMA = (
    "path string, root_tag string, entry_path string, parameter string, "
    "depth int, value_index int, value string, processing string, "
    "parse_ok boolean"
)


def parse_dtiprep_xml_bytes(content: bytes) -> list[dict[str, Any]]:
    """Flatten a DTIPrep XML document into EAV rows.

    Each <entry parameter="P"> yields one row per <value> child (index
    order preserved); entries with no <value> yield a single null-value
    row so presence is still observable (the protocol has empty entries,
    e.g. QC_QCOutputDirectory). A direct <processing> child (the QC
    report's per-gradient status, DTI.pm:1176) rides on the entry's rows.
    Malformed XML returns one parse_ok=false row — classify, don't fail.
    """
    try:
        root = ET.fromstring(content)
    # LookupError: a corrupted encoding= declaration names an unknown
    # codec (fuzz-found: 'UTF-8' byte-flipped to 'U-F-8'); Value/Unicode
    # errors cover other malformed-prolog paths — all classify
    except (ET.ParseError, LookupError, ValueError, UnicodeDecodeError):
        return [
            {
                "root_tag": None,
                "entry_path": None,
                "parameter": None,
                "depth": None,
                "value_index": None,
                "value": None,
                "processing": None,
                "parse_ok": False,
            }
        ]

    rows: list[dict[str, Any]] = []

    # Explicit-stack preorder walk, NOT recursion: a crafted depth bomb
    # (thousands of nested <entry>) would raise RecursionError past every
    # narrow except and kill the scan task (fuzz-found r7). Document
    # order is preserved by pushing siblings reversed; children of
    # parameter-less entries are skipped, as the recursive form did.
    stack: list[tuple[ET.Element, str, int]] = [
        (e, "", 0) for e in reversed(root.findall("entry"))
    ]
    while stack:
        entry, prefix, depth = stack.pop()
        param = entry.get("parameter")
        if param is None:
            continue
        path = f"{prefix}/{param}" if prefix else param
        values = [
            (v.text if v.text is not None else "")
            for v in entry.findall("value")
        ]
        proc = entry.findtext("processing")
        if values:
            for i, v in enumerate(values):
                rows.append(
                    {
                        "root_tag": root.tag,
                        "entry_path": path,
                        "parameter": param,
                        "depth": depth,
                        "value_index": i,
                        "value": v,
                        "processing": proc,
                        "parse_ok": True,
                    }
                )
        else:
            rows.append(
                {
                    "root_tag": root.tag,
                    "entry_path": path,
                    "parameter": param,
                    "depth": depth,
                    "value_index": None,
                    "value": None,
                    "processing": proc,
                    "parse_ok": True,
                }
            )
        for child in reversed(entry.findall("entry")):
            stack.append((child, path, depth + 1))
    if not rows:
        # well-formed XML with no <entry> children: observable but empty
        rows.append(
            {
                "root_tag": root.tag,
                "entry_path": None,
                "parameter": None,
                "depth": None,
                "value_index": None,
                "value": None,
                "processing": None,
                "parse_ok": True,
            }
        )
    return rows


def _xml_rows(path: str, content: bytes) -> Iterator[dict[str, Any]]:
    for r in parse_dtiprep_xml_bytes(content):
        yield {"path": path, **r}


def read_dtiprep_xml(spark: SparkSession, path_glob: str) -> DataFrame:
    """Distributed DTIPrep XML scan: binaryFile listing parallelizes over
    files; parsing is Arrow-batched per partition. At 100 TB the unit of
    work is one (small) XML file — partitioning by file is exactly right."""
    files = binary_files(spark, path_glob, "*.xml").select("path", "content")
    return map_rows(files, _xml_rows, DTIPREP_SCHEMA)
