"""NIfTI-1 header reader — SURVEY §2.1 S4.

Reference: `/root/reference/python/lib/imaging_lib/nifti.py:7-30` loads
shape/zooms via nibabel and projects xstep..zstep / xspace..zspace / time
(`imaging.py:1221-1258`). The NIfTI-1 header is a PUBLIC fixed 348-byte
struct, so the engine parses it with stdlib `struct` — no nibabel needed
for the header surface; gzipped files are handled transparently (gzip
magic sniff).

Spark-first shape: binaryFile scan + `files.map_rows`, same as the DICOM
source; output is the narrow spatial-parameter table the insertion
pipeline joins on.
"""

from __future__ import annotations

import gzip
import io
import math
import struct
from typing import Any, Iterator

from pyspark.sql import DataFrame, SparkSession

from loris_mri_spark.sources.files import binary_files, map_rows

NIFTI_SCHEMA = (
    "path string, is_nifti boolean, ndim int, xspace int, yspace int, "
    "zspace int, time int, xstep double, ystep double, zstep double, "
    "datatype int"
)


def parse_nifti_bytes(content: bytes) -> dict[str, Any]:
    """Parse a NIfTI-1 header (optionally gzipped). Returns the fields the
    reference projects into the files table (imaging.py:1221-1258)."""
    if content[:2] == b"\x1f\x8b":
        try:
            content = gzip.GzipFile(fileobj=io.BytesIO(content)).read(352)
        except Exception:
            return {"is_nifti": False}
    if len(content) < 348:
        return {"is_nifti": False}
    magic = content[344:348]
    if magic not in (b"n+1\x00", b"ni1\x00"):
        return {"is_nifti": False}
    dim = struct.unpack_from("<8h", content, 40)
    (datatype,) = struct.unpack_from("<h", content, 70)
    pixdim = struct.unpack_from("<8f", content, 76)
    ndim = dim[0]
    return {
        "is_nifti": True,
        "ndim": ndim,
        "xspace": dim[1] if ndim >= 1 else None,
        "yspace": dim[2] if ndim >= 2 else None,
        "zspace": dim[3] if ndim >= 3 else None,
        "time": dim[4] if ndim >= 4 else None,
        "xstep": round(float(pixdim[1]), 6) if ndim >= 1 else None,
        "ystep": round(float(pixdim[2]), 6) if ndim >= 2 else None,
        "zstep": round(float(pixdim[3]), 6) if ndim >= 3 else None,
        "datatype": datatype,
    }


def _header_rows(path: str, content: bytes) -> Iterator[dict[str, Any]]:
    yield {"path": path, **parse_nifti_bytes(content)}


def read_nifti_headers(spark: SparkSession, path_glob: str) -> DataFrame:
    files = binary_files(spark, path_glob, "*.nii*").select("path", "content")
    return map_rows(files, _header_rows, NIFTI_SCHEMA)


VOXEL_STATS_SCHEMA = (
    "path string, is_nifti boolean, n_vox long, n_read long, "
    "complete boolean, vmin long, vmax long, vsum long, vsumsq long, "
    "mean double, stddev double, snr double"
)

_INT_DTYPES = {
    2: ("u1", 1),       # DT_UINT8
    4: ("<i2", 2),      # DT_INT16
    8: ("<i4", 4),      # DT_INT32
    256: ("i1", 1),     # DT_INT8
    512: ("<u2", 2),    # DT_UINT16 — the most common MRI voxel type
    768: ("<u4", 4),    # DT_UINT32
}


def _exact_moments(vals) -> "tuple[int, int]":
    """Exact (sum, sum_of_squares) as Python ints. int64 vector math is
    used only while ``n * max(|v|)^2 < 2^63`` guarantees no wraparound
    (np.dot does MODULAR int64 arithmetic — silent garbage past that);
    beyond the bound, accumulate int64 partials over chunks sized so each
    chunk's dot stays below 2^62."""
    import numpy as np

    n = len(vals)
    if n == 0:
        return 0, 0
    m = int(np.abs(vals).max())
    if m == 0:
        return 0, 0
    if n * m * m < 2**63:
        return int(vals.sum()), int(np.dot(vals, vals))
    chunk = max(1, (2**62) // (m * m))
    s = q = 0
    for i in range(0, n, chunk):
        c = vals[i : i + chunk]
        s += int(c.sum())
        q += int(np.dot(c, c))
    return s, q


def _voxel_offset(content: bytes) -> "int | None":
    """vox_offset as a usable int byte offset, or None when the header
    float is inf or absurdly large (int(inf) raises — the fuzz-reachable
    classify-don't-fail violation). NaN falls back to the default 352
    like any value below 348."""
    (vox_offset,) = struct.unpack_from("<f", content, 108)
    if vox_offset >= 348:
        if not math.isfinite(vox_offset) or vox_offset > 2**31:
            return None
        return int(vox_offset)
    return 352


def nifti_voxel_stats(content: bytes) -> "dict[str, Any] | None":
    """Voxel-level stats for an integer-typed NIfTI volume — the engine
    half of the SNR back-population flow
    (`tools/BackPopulateSNRAndAcquisitionOrder.pl:7-31` computes SNR with
    MINC built-in tools per file and lands it in parameter_file). The
    moments are EXACT integers (int64 sum / sum-of-squares via numpy
    int64 vector math), so downstream oracles can hash them; mean/std/snr
    derive from the exact sums at the edge. `snr` here is the
    global-moments estimate mean/std — the reference's full
    `noise_estimate` algorithm is an external MINC binary and stays
    behind the S16 seam (operators/external.py).

    Classify, don't fail: non-NIfTI returns None; a structurally valid
    NIfTI whose voxels cannot be exactly summed — float-typed (datatype
    16/64), unusable vox_offset (inf/huge), a corrupt dim product past
    2^62, or an exact vsum/vsumsq outside the int64 sink columns (three
    int32 voxels of 2^31-1 are enough) — returns ``{"is_nifti": True}``
    with no stats (it IS a NIfTI; consumers must not count it as
    'other'); a TRUNCATED payload yields stats over the complete leading
    voxels with complete=false (the EDF partial-record contract). int64
    wraparound on large-magnitude int32/uint32 volumes is prevented by
    :func:`_exact_moments`."""
    import numpy as np

    if content[:2] == b"\x1f\x8b":
        try:
            content = gzip.GzipFile(fileobj=io.BytesIO(content)).read()
        except Exception:
            return None
    hdr = parse_nifti_bytes(content)
    if not hdr.get("is_nifti"):
        return None
    (datatype,) = struct.unpack_from("<h", content, 70)
    if datatype not in _INT_DTYPES:
        return {"is_nifti": True}
    dt, width = _INT_DTYPES[datatype]
    off = _voxel_offset(content)
    if off is None:
        return {"is_nifti": True}
    dim = struct.unpack_from("<8h", content, 40)
    ndim = dim[0]
    if not 1 <= ndim <= 7:
        return None
    n_vox = 1
    for d in dim[1 : 1 + ndim]:
        if d <= 0:
            return None
        n_vox *= d
    if n_vox > 2**62:  # corrupt dims; also guards the Int64 sink column
        return {"is_nifti": True}
    avail = max(0, len(content) - off)
    n_read = min(n_vox, avail // width)
    if n_read > 0:
        vals = np.frombuffer(
            content, dtype=dt, count=n_read, offset=off
        ).astype(np.int64)
    else:
        # offset past the (truncated) buffer: frombuffer raises even at
        # count=0 — classify as an empty read instead
        vals = np.empty(0, dtype=np.int64)
    vsum, vsumsq = _exact_moments(vals)
    if vsumsq >= 2**63:  # |vsum| <= vsumsq for integer voxels
        return {"is_nifti": True}
    mean = vsum / n_read if n_read else 0.0
    var = vsumsq / n_read - mean * mean if n_read else 0.0
    std = var**0.5 if var > 0 else 0.0
    return {
        "is_nifti": True,
        "n_vox": n_vox,
        "n_read": n_read,
        "complete": n_read == n_vox,
        "vmin": int(vals.min()) if n_read else None,
        "vmax": int(vals.max()) if n_read else None,
        "vsum": vsum,
        "vsumsq": vsumsq,
        "mean": mean,
        "stddev": std,
        "snr": (mean / std) if std > 0 else None,
    }


def _voxel_stats_rows(path: str, content: bytes) -> Iterator[dict[str, Any]]:
    yield {"path": path, **(nifti_voxel_stats(content) or {"is_nifti": False})}


def read_nifti_voxel_stats(spark: SparkSession, path_glob: str) -> DataFrame:
    """binaryFile scan -> per-volume exact voxel moments + SNR estimate.
    Partitioning by file is the right unit: each volume's stats are one
    independent Arrow-batched task, so a million-volume corpus fans out
    across executors with no shuffle at all."""
    files = binary_files(spark, path_glob, "*.nii*").select("path", "content")
    return map_rows(files, _voxel_stats_rows, VOXEL_STATS_SCHEMA)


COG_SCHEMA = (
    "path string, is_nifti boolean, nx int, ny int, nz int, "
    "frame_sum long, cog_num_x long, cog_num_y long, cog_num_z long, "
    "cog_x double, cog_y double, cog_z double"
)


def nifti_volume_cog(content: bytes) -> "dict[str, Any] | None":
    """Voxel-index center of gravity of the FIRST 3-D frame — the native
    replacement for the external ``volume_cog`` binary the reference
    shells to (`MNI/MincUtilities.pm:584-601`; `Spawn`-based, like every
    MNI utility).  Per spatial axis i: ``cog_i = sum(idx_i * v) /
    sum(v)`` with EXACT int64 numerators/denominator (per-axis marginal
    sums dotted with the index vector), so oracles can hash the integers;
    the double ratios derive at the edge.  Output is in voxel-index
    coordinates; world-space COG is these ratios pushed through the
    affine, which is header metadata already parsed by
    ``parse_nifti_bytes``.

    Classify, don't fail: a non-NIfTI returns None; a structurally valid
    NIfTI with no computable COG — float-typed, <3-D, unusable
    vox_offset, zero mass, frame-truncated, or large enough that exact
    int64 marginals could wrap (n_frame * max|v| >= 2^62) — returns
    ``{"is_nifti": True}`` with no stats (the reference's behaviour on
    such volumes is the external binary's error path)."""
    import numpy as np

    if content[:2] == b"\x1f\x8b":
        try:
            content = gzip.GzipFile(fileobj=io.BytesIO(content)).read()
        except Exception:
            return None
    hdr = parse_nifti_bytes(content)
    if not hdr or not hdr.get("is_nifti"):
        return None
    (datatype,) = struct.unpack_from("<h", content, 70)
    if datatype not in _INT_DTYPES:
        return {"is_nifti": True}
    dt, width = _INT_DTYPES[datatype]
    off = _voxel_offset(content)
    if off is None:
        return {"is_nifti": True}
    dim = struct.unpack_from("<8h", content, 40)
    if not 3 <= dim[0] <= 7:
        return {"is_nifti": True}
    nx, ny, nz = dim[1], dim[2], dim[3]
    if nx <= 0 or ny <= 0 or nz <= 0:
        return None
    n_frame = nx * ny * nz
    avail = max(0, len(content) - off)
    if avail // width < n_frame:
        return {"is_nifti": True}  # first frame truncated: no COG
    vals = np.frombuffer(content, dtype=dt, count=n_frame, offset=off)
    # NIfTI voxel order: x fastest -> C-order shape (z, y, x)
    vol = vals.astype(np.int64).reshape(nz, ny, nx)
    vmax = int(np.abs(vol).max()) if n_frame else 0
    if n_frame * vmax >= 2**62:
        return {"is_nifti": True}  # int64 marginal-sum overflow guard
    total = int(vol.sum())
    if total == 0:
        return {"is_nifti": True}
    num = []
    for axis, n in ((2, nx), (1, ny), (0, nz)):
        axes = tuple(a for a in (0, 1, 2) if a != axis)
        marg = vol.sum(axis=axes)  # exact int64 marginal (guarded above)
        # index-weighted dot in PYTHON ints: the weighted sum can reach
        # total * n and wrap int64 even when the marginals are exact
        num.append(sum(int(marg[i]) * i for i in range(n)))
    return {
        "is_nifti": True,
        "nx": nx,
        "ny": ny,
        "nz": nz,
        "frame_sum": total,
        "cog_num_x": num[0],
        "cog_num_y": num[1],
        "cog_num_z": num[2],
        "cog_x": num[0] / total,
        "cog_y": num[1] / total,
        "cog_z": num[2] / total,
    }


def _cog_rows(path: str, content: bytes) -> Iterator[dict[str, Any]]:
    yield {"path": path, **(nifti_volume_cog(content) or {"is_nifti": False})}


def read_nifti_cog(spark: SparkSession, path_glob: str) -> DataFrame:
    """binaryFile scan -> per-volume exact center of gravity (one
    independent Arrow-batched task per file; no shuffle — same fan-out
    contract as read_nifti_voxel_stats)."""
    files = (
        binary_files(spark, path_glob, recursive=False)
        .select("path", "content")
    )
    return map_rows(files, _cog_rows, COG_SCHEMA)
