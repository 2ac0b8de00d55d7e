"""File-format sources (SURVEY §2.1) — every reader is a DataFrame source:
a binaryFile scan (`files.binary_files`; csv/json for sidecars) feeding
Arrow-batched `mapInPandas` parsers. The parse code is pure stdlib
(struct/tarfile/gzip): NIfTI-1 headers and explicit-VR DICOM are fixed
public binary layouts, so no imaging library is required for the header
surface the reference reads.

Task packing: each binaryFile scan runs in ``max(defaultParallelism,
ceil(listed_bytes / spark.sql.files.maxPartitionBytes))`` tasks, i.e.
one per slot for a small listing and one per 128 MB of file bytes at
scale. Spark alone would charge every file a 4 MB open cost and so split
192 small DICOMs into 6 tasks. A Python task has a fixed floor before
the parser runs: about 0.07 s per task for an identity `mapInPandas` on
a `get_spark` session on `local[2]` (4-vCPU host, Python 3.11, PySpark
4.1). On a vanilla session it is 0.27 s, mostly
`importlib.invalidate_caches()` in the worker's per-task set-up
re-reading the zip archives on the worker path, which the engine's
worker daemon (`loris_mri_spark._daemon`) skips. Parsing is cheap next
to either (192 small DICOMs parse in ~4 ms in one process), so the task
count, not the bytes, sets a small scan's cost: at the 0.07 s floor,
unpacked scans still made the perfbench ingest run 11% slower.
"""

from loris_mri_spark.sources.archive import read_tar_members
from loris_mri_spark.sources.bids import (
    read_events_tsv,
    read_participants_tsv,
    read_sidecar_json,
)
from loris_mri_spark.sources.dicom import parse_dicom_bytes, scan_dicom_dir
from loris_mri_spark.sources.eeg import parse_edf_bytes, read_edf_channels
from loris_mri_spark.sources.minc_ecat import (
    parse_ecat7_main_header,
    parse_minc1_bytes,
    read_ecat_headers,
    read_ecat_matrices,
    read_minc_headers,
)
from loris_mri_spark.sources.nifti import parse_nifti_bytes, read_nifti_headers

__all__ = [
    "read_tar_members",
    "read_events_tsv",
    "read_participants_tsv",
    "read_sidecar_json",
    "parse_dicom_bytes",
    "scan_dicom_dir",
    "parse_edf_bytes",
    "read_edf_channels",
    "parse_ecat7_main_header",
    "parse_minc1_bytes",
    "read_ecat_headers",
    "read_ecat_matrices",
    "read_minc_headers",
    "parse_nifti_bytes",
    "read_nifti_headers",
]
