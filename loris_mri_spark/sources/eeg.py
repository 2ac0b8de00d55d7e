"""EEG raw reader (EDF) — SURVEY §2.1 S7.

Reference: MNE-based loaders produce per-channel float arrays + times
(`/root/reference/python/loris_ephys_chunker/src/loris_ephys_chunker/chunking.py:160-213`;
dispatch `python/lib/physio/chunking.py:29-41`). EDF (the most common raw
EEG interchange format) is a PUBLIC fixed-width-ASCII-header + int16-LE
format, so the engine parses it with stdlib only; CTF/EEGLAB readers plug
into the same source via an injected loader callback (they need MNE,
which this runtime does not ship).

Spark-first shape: binaryFile + `files.map_rows`, one output row per
channel carrying the channel's sample array — ready for the ephys chunk
pyramid (workload/signals.py) and A7 range aggregation.

Memory note (the r13 streaming-hash pattern, workload/pipeline.py
`_iter_file_chunks`): these parsers ride the binaryFile `content` column
— fine for EDF/BDF/EEGLAB/BrainVision recordings (MBs). Where only the
HEADER is needed (e.g. a future multi-GB CTF `.meg4` inventory pass),
prune the scan to `path` and read the fixed-size header region via
chunked/ranged reads instead of materializing the file in one task.
"""

from __future__ import annotations

import math
import struct
from typing import Any, Iterator

from pyspark.sql import DataFrame, SparkSession

from loris_mri_spark.sources.files import binary_files, map_rows

EDF_CHANNEL_SCHEMA = (
    "path string, channel_idx int, label string, phys_dim string, "
    "n_records int, samples_per_record int, n_samples long, "
    "dig_min long, dig_max long, samples array<double>"
)


def parse_edf_bytes(content: bytes) -> list[dict[str, Any]]:
    """Parse an EDF or BDF byte stream into per-channel rows (header
    fields per the public EDF spec; BioSemi BDF is the same 256-byte
    header layout behind the 0xFF+'BIOSEMI' ident, with 3-byte LE signed
    samples instead of int16 — the reference's importer accepts both,
    loris_bids_importer eeg/main.py:249)."""
    is_bdf = content[:8] == b"\xffBIOSEMI"
    bps = 3 if is_bdf else 2  # bytes per sample

    def ascii_at(off: int, n: int) -> str:
        return content[off : off + n].decode("ascii", "replace").strip()

    try:
        n_records = int(ascii_at(236, 8))
        ns = int(ascii_at(252, 4))
        if ns < 0 or n_records < 0:
            return []
        base = 256
        labels = [ascii_at(base + 16 * c, 16) for c in range(ns)]
        off = base + ns * (16 + 80)
        phys_dims = [ascii_at(off + 8 * c, 8) for c in range(ns)]
        off = base + ns * (16 + 80 + 8 + 8 + 8 + 8 + 8 + 80)
        sprs = [int(ascii_at(off + 8 * c, 8)) for c in range(ns)]
        header_bytes = int(ascii_at(184, 8))
    except ValueError:  # truncated/corrupt fixed-width header fields
        return []
    if header_bytes < 0 or any(s < 0 for s in sprs):
        return []

    record_len = sum(sprs)
    if record_len <= 0:
        # no sample payload (or corrupt sizes): emit channel rows with
        # empty sample arrays rather than spinning n_records times.
        n_records = 0
    rows: list[dict[str, Any]] = []
    per_channel: list[list[int]] = [[] for _ in range(ns)]
    pos = header_bytes
    for _ in range(n_records):
        # A truncated final record (partial write, interrupted transfer) is
        # dropped rather than raising struct.error mid-scan.
        if pos + bps * record_len > len(content):
            break
        for c in range(ns):
            cnt = sprs[c]
            if is_bdf:
                vals = [
                    int.from_bytes(
                        content[pos + 3 * k : pos + 3 * k + 3],
                        "little",
                        signed=True,
                    )
                    for k in range(cnt)
                ]
            else:
                vals = struct.unpack_from(f"<{cnt}h", content, pos)
            per_channel[c].extend(vals)
            pos += bps * cnt
    for c in range(ns):
        s = per_channel[c]
        rows.append(
            {
                "channel_idx": c,
                "label": labels[c],
                "phys_dim": phys_dims[c],
                "n_records": n_records,
                "samples_per_record": sprs[c],
                "n_samples": len(s),
                "dig_min": min(s) if s else None,
                "dig_max": max(s) if s else None,
                "samples": [float(v) for v in s],
            }
        )
    return rows


def _edf_rows(path: str, content: bytes) -> Iterator[dict[str, Any]]:
    for r in parse_edf_bytes(content):
        yield {"path": path, **r}


def read_edf_channels(spark: SparkSession, path_glob: str) -> DataFrame:
    files = binary_files(spark, path_glob, "*.edf").select("path", "content")
    return map_rows(files, _edf_rows, EDF_CHANNEL_SCHEMA)


# --------------------------------------------------------------------------
# EEGLAB .set (MAT v5) — the second dispatch arm of the reference's loader
# (python/lib/physio/chunking.py:29-41 routes .set to read_raw_eeglab).
# MATLAB Level-5 MAT is a PUBLIC container (128-byte text header, then
# tagged data elements; miMATRIX wraps flags/dims/name/payload), so the
# header surface MNE reads (EEG.nbchan/srate/pnts/trials + chanlocs
# labels) parses with stdlib struct — no scipy/MNE needed.
# --------------------------------------------------------------------------

EEGLAB_CHANNEL_SCHEMA = (
    "path string, channel_idx int, label string, nbchan int, srate double, "
    "pnts long, trials int, n_samples long"
)

_miMATRIX = 14
_mxSTRUCT, _mxCHAR, _mxDOUBLE = 2, 4, 6


def _mat_elements(buf: bytes, pos: int, end: int):
    """Yield (mtype, payload) for each data element in buf[pos:end],
    handling both normal and small-data-element formats."""
    while pos + 8 <= end:
        (word,) = struct.unpack_from("<I", buf, pos)
        if word >> 16:  # small data element: size in upper 16 bits
            mtype, size = word & 0xFFFF, word >> 16
            yield mtype, buf[pos + 4 : pos + 4 + size]
            pos += 8
        else:
            mtype = word
            (size,) = struct.unpack_from("<I", buf, pos + 4)
            yield mtype, buf[pos + 8 : pos + 8 + size]
            pos += 8 + size + ((8 - size % 8) % 8)


def _mat_matrix_parts(payload: bytes):
    """Split a miMATRIX payload into (class, dims, name, rest_elements)."""
    els = _mat_elements(payload, 0, len(payload))
    _, flags = next(els)
    cls = struct.unpack_from("<I", flags, 0)[0] & 0xFF
    _, dimraw = next(els)
    dims = struct.unpack(f"<{len(dimraw) // 4}i", dimraw)
    _, nameraw = next(els)
    name = nameraw.split(b"\x00", 1)[0].decode("ascii", "replace")
    return cls, dims, name, list(els)


def _mat_char_value(rest: list) -> str:
    mtype, raw = rest[0]
    if mtype == 4:  # miUINT16 code units
        return "".join(
            chr(c) for c in struct.unpack(f"<{len(raw) // 2}H", raw)
        ).strip()
    return raw.decode("ascii", "replace").strip()


def parse_eeglab_set_bytes(content: bytes) -> list[dict[str, Any]]:
    """Per-channel rows from an uncompressed MAT v5 EEGLAB .set file:
    (channel_idx, label, nbchan, srate, pnts, trials, n_samples).
    Returns [] for non-MAT bytes or a compressed/v7.3 file (those need an
    injected scipy/MNE loader)."""
    if len(content) < 136 or content[126:128] not in (b"IM", b"MI"):
        return []
    fields: dict[str, float] = {}
    labels: list[str] = []
    data_dims: tuple[int, ...] = ()

    def top_elements():
        """Top-level elements, transparently inflating miCOMPRESSED (15)
        wrappers — MATLAB >= v7 (scipy's default) zlib-compresses each
        element; the decompressed payload is one complete element."""
        import zlib

        for mtype, payload in _mat_elements(content, 128, len(content)):
            if mtype == 15:
                try:
                    inner = zlib.decompress(payload)
                except zlib.error:
                    continue
                yield from _mat_elements(inner, 0, len(inner))
            else:
                yield mtype, payload

    try:
        for mtype, payload in top_elements():
            if mtype != _miMATRIX:
                continue
            cls, dims, name, rest = _mat_matrix_parts(payload)
            if cls == _mxDOUBLE and name in ("nbchan", "srate", "pnts", "trials"):
                _, raw = rest[0]
                fields[name] = struct.unpack_from("<d", raw, 0)[0]
            elif cls == _mxSTRUCT and name == "chanlocs":
                # rest = [field_name_len, field_names, then one matrix per
                # (element, field)]; we want the char 'labels' values.
                for sub_mtype, sub_payload in rest[2:]:
                    if sub_mtype != _miMATRIX:
                        continue
                    scls, _sd, _sn, srest = _mat_matrix_parts(sub_payload)
                    if scls == _mxCHAR and srest:
                        labels.append(_mat_char_value(srest))
            elif cls == _mxDOUBLE and name == "data":
                data_dims = tuple(dims)
    except (struct.error, IndexError, StopIteration):
        return []
    if "nbchan" not in fields:
        return []

    def field_int(key: str, default: int, hi: int) -> "int | None":
        """MAT-v5 scalar doubles to int: inf raises OverflowError and NaN
        ValueError under plain int(), and a huge finite value would drive
        range()/list allocations — classify all three instead (the NIfTI
        vox_offset lesson applied to this parser)."""
        v = fields.get(key, float(default))
        if not math.isfinite(v) or not 0 <= v <= hi:
            return None
        return int(v)

    nb = field_int("nbchan", 0, 65536)
    pnts = field_int("pnts", 0, 2**31)
    trials = field_int("trials", 1, 2**31)
    if not nb or pnts is None or trials is None:
        return []
    n_samples = (
        data_dims[1] if len(data_dims) == 2 and data_dims[0] == nb else pnts
    )
    return [
        {
            "channel_idx": c,
            "label": labels[c] if c < len(labels) else None,
            "nbchan": nb,
            "srate": fields.get("srate"),
            "pnts": pnts,
            "trials": trials,
            "n_samples": n_samples,
        }
        for c in range(nb)
    ]


# --------------------------------------------------------------------------
# CTF MEG .ds/.res4 (the third dispatch arm of physio/chunking.py:29-41,
# routed to read_raw_ctf in the reference). The .res4 resource layout is
# PUBLIC (CTF MEG File Format docs; independently implemented by MNE's
# mne/io/ctf/res4.py): 8-byte magic 'MEG41RS\0', appName/dataOrigin/
# dataDescription (256 B each), int16 no_trials_avgd, data_time/data_date
# (255 B each), then gSetUp at offset 1288: >i4 no_samples, >i2
# no_channels, 2 pad, >f8 sample_rate, >f8 duration, >i2 no_trials.
# Channel names sit behind variable-length filter tables — full sensor
# metadata stays on the injected-loader seam; this header surface is what
# the ephys chunker sizes its chunk pyramid from.
# --------------------------------------------------------------------------

CTF_SCHEMA = (
    "path string, is_readable boolean, app_name string, data_date string, "
    "data_time string, n_samples int, n_channels int, sample_rate double, "
    "duration double, n_trials int"
)


def parse_ctf_res4_bytes(content: bytes) -> dict[str, Any] | None:
    if len(content) < 1314 or content[:8] != b"MEG41RS\x00":
        return None

    def cstr(off: int, n: int) -> str:
        return content[off : off + n].split(b"\x00", 1)[0].decode(
            "ascii", "replace"
        ).strip()

    return {
        "app_name": cstr(8, 256),
        "data_time": cstr(778, 255),
        "data_date": cstr(1033, 255),
        "n_samples": struct.unpack_from(">i", content, 1288)[0],
        "n_channels": struct.unpack_from(">h", content, 1292)[0],
        "sample_rate": struct.unpack_from(">d", content, 1296)[0],
        "duration": struct.unpack_from(">d", content, 1304)[0],
        "n_trials": struct.unpack_from(">h", content, 1312)[0],
    }


def _ctf_header_rows(path: str, content: bytes) -> Iterator[dict[str, Any]]:
    hdr = parse_ctf_res4_bytes(content)
    yield {"path": path, "is_readable": hdr is not None, **(hdr or {})}


def read_ctf_headers(spark: SparkSession, path_glob: str) -> DataFrame:
    files = binary_files(spark, path_glob, "*.res4").select("path", "content")
    return map_rows(files, _ctf_header_rows, CTF_SCHEMA)


# The companion .meg4 DATA file (same public CTF docs; MNE's
# mne/io/ctf/read.py implements the identical layout): 8-byte magic
# 'MEG41CP\0', then raw int32 BIG-endian samples ordered
# (trial, channel, sample). The reference chunks exactly this stream
# (`python/lib/physio/chunking.py:48-57` shells out to ctf-to-chunks);
# here the decode is native and the chunk pyramid (workload/signals.py)
# consumes the rows directly. Values are DIGITAL counts — physical-unit
# conversion needs the per-channel gains in res4's variable-length
# sensor table, which stays on the injected-loader seam.

CTF_CHANNEL_SCHEMA = (
    "path string, trial int, channel_idx int, n_samples int, "
    "samples array<long>"
)


def parse_meg4_samples(
    content: bytes, n_channels: int, n_samples: int
) -> list[dict[str, Any]]:
    """Decode a .meg4 byte stream into per-(trial, channel) rows. Dims come
    from the sibling .res4 header. Trailing partial trials (interrupted
    acquisition/transfer) are dropped, mirroring the EDF reader's truncated-
    record handling; bad magic returns [] (classify, don't fail)."""
    if len(content) < 8 or content[:8] != b"MEG41CP\x00":
        return []
    if n_channels <= 0 or n_samples <= 0:
        return []
    trial_bytes = 4 * n_channels * n_samples
    n_trials_present = (len(content) - 8) // trial_bytes if trial_bytes else 0
    rows: list[dict[str, Any]] = []
    for t in range(n_trials_present):
        base = 8 + t * trial_bytes
        for c in range(n_channels):
            off = base + 4 * c * n_samples
            vals = struct.unpack_from(f">{n_samples}i", content, off)
            rows.append(
                {
                    "trial": t,
                    "channel_idx": c,
                    "n_samples": n_samples,
                    "samples": list(vals),
                }
            )
    return rows


def _meg4_rows(
    path: str, content: bytes, nch: "int | None", ns: "int | None"
) -> Iterator[dict[str, Any]]:
    # null header dims (res4 row without usable gSetUp) must classify,
    # not raise in-task
    if nch is None or ns is None:
        return
    for r in parse_meg4_samples(content, nch, ns):
        yield {"path": path, **r}


def read_ctf_channels(spark: SparkSession, path_glob: str) -> DataFrame:
    """Per-(trial, channel) sample rows from CTF .ds datasets: the .meg4
    data stream decoded with dims from the sibling .res4 header.

    Spark-first shape: the header table (one tiny row per .ds) is
    broadcast-joined onto the .meg4 binaries on the .ds directory — no
    shuffle of sample payloads; the decode is an Arrow-batched map over
    the joined rows. At 100 TB the .meg4 scan partitions by file and
    each task decodes only its own blobs."""
    from pyspark.sql import functions as F

    headers = (
        read_ctf_headers(spark, path_glob)
        .filter("is_readable")
        .select(
            F.regexp_replace("path", "/[^/]+$", "").alias("ds_dir"),
            "n_channels",
            F.col("n_samples").alias("hdr_n_samples"),
        )
    )
    meg4 = (
        binary_files(spark, path_glob, "*.meg4")
        .select(
            "path",
            F.regexp_replace("path", "/[^/]+$", "").alias("ds_dir"),
            "content",
        )
    )
    joined = meg4.join(F.broadcast(headers), "ds_dir").select(
        "path", "content", "n_channels", "hdr_n_samples"
    )

    return map_rows(joined, _meg4_rows, CTF_CHANNEL_SCHEMA)


def _eeglab_rows(path: str, content: bytes) -> Iterator[dict[str, Any]]:
    for r in parse_eeglab_set_bytes(content):
        yield {"path": path, **r}


def read_eeglab_channels(spark: SparkSession, path_glob: str) -> DataFrame:
    files = binary_files(spark, path_glob, "*.set").select("path", "content")
    return map_rows(files, _eeglab_rows, EEGLAB_CHANNEL_SCHEMA)


# ---------------------------------------------------------------------------
# BrainVision Core Data Format 1.0 (.vhdr INI header + .vmrk markers +
# multiplexed binary .eeg) — the remaining raw-EEG format the reference's
# importer accepts (loris_bids_importer eeg/main.py:249: set/edf/vhdr/
# vmrk/eeg/bdf). Pure stdlib text/struct parsing, classify-don't-fail.
# ---------------------------------------------------------------------------

BRAINVISION_CHANNEL_SCHEMA = (
    "path string, data_file string, n_channels int, srate_hz double, "
    "binary_format string, channel_idx int, label string, "
    "resolution double, unit string, n_samples bigint, "
    "dig_min bigint, dig_max bigint"
)

BRAINVISION_MARKER_SCHEMA = (
    "path string, marker_idx int, mk_type string, description string, "
    "position bigint, size bigint, channel int"
)


def _vhdr_sections(text: str) -> dict[str, list[tuple[str, str]]]:
    """INI sections -> ordered key=value pairs (comments/blank skipped)."""
    out: dict[str, list[tuple[str, str]]] = {}
    section = ""
    for raw in text.splitlines():
        line = raw.strip()
        if not line or line.startswith(";"):
            continue
        if line.startswith("[") and line.endswith("]"):
            section = line[1:-1].strip().lower()
            out.setdefault(section, [])
        elif "=" in line and section:
            k, _, v = line.partition("=")
            out[section].append((k.strip(), v.strip()))
    return out


def parse_vhdr_bytes(content: bytes) -> "dict[str, Any] | None":
    """Parse a .vhdr: common infos + per-channel Ch<N>=name,ref,res,unit.
    Returns None for non-BrainVision content."""
    try:
        text = content.decode("utf-8", "replace")
    except Exception:
        return None
    if "Brain Vision Data Exchange Header File" not in text.split("\n", 1)[0]:
        return None
    sec = _vhdr_sections(text)
    common = dict(sec.get("common infos", []))
    binary = dict(sec.get("binary infos", []))
    try:
        n_channels = int(common.get("NumberOfChannels", "0"))
        interval_us = float(common.get("SamplingInterval", "0"))
    except ValueError:
        return None
    channels = []
    for k, v in sec.get("channel infos", []):
        if not k.lower().startswith("ch"):
            continue
        try:
            idx = int(k[2:]) - 1
        except ValueError:
            continue
        parts = v.split(",")
        try:  # a corrupt line's resolution field classifies as None
            res = float(parts[2]) if len(parts) > 2 and parts[2] else None
        except ValueError:
            res = None
        channels.append(
            {
                "channel_idx": idx,
                "label": parts[0] if parts else None,
                "resolution": res,
                "unit": parts[3] if len(parts) > 3 and parts[3] else None,
            }
        )
    return {
        "data_file": common.get("DataFile"),
        "marker_file": common.get("MarkerFile"),
        "n_channels": n_channels,
        "srate_hz": (1e6 / interval_us) if interval_us > 0 else None,
        "binary_format": binary.get("BinaryFormat"),
        "channels": channels,
    }


def parse_vmrk_bytes(content: bytes) -> list[dict[str, Any]]:
    """Parse a .vmrk: Mk<N>=type,description,position,size,channel."""
    text = content.decode("utf-8", "replace")
    if "Brain Vision Data Exchange Marker File" not in text.split("\n", 1)[0]:
        return []
    rows = []
    for k, v in _vhdr_sections(text).get("marker infos", []):
        if not k.lower().startswith("mk"):
            continue
        try:
            idx = int(k[2:])
        except ValueError:
            continue
        parts = v.split(",")

        def _i(s: str) -> "int | None":
            try:
                return int(s)
            except (ValueError, TypeError):
                return None

        rows.append(
            {
                "marker_idx": idx,
                "mk_type": parts[0] if parts else None,
                "description": parts[1] if len(parts) > 1 else None,
                "position": _i(parts[2]) if len(parts) > 2 else None,
                "size": _i(parts[3]) if len(parts) > 3 else None,
                "channel": _i(parts[4]) if len(parts) > 4 else None,
            }
        )
    return rows


def _bv_channel_stats(
    data: bytes, n_channels: int, binary_format: str
) -> "list[tuple[int, int, int]] | None":
    """(n_samples, dig_min, dig_max) per channel from the multiplexed
    binary stream (INT_16 only; other formats report sizes as None)."""
    if binary_format != "INT_16" or n_channels <= 0:
        return None
    n_samples = len(data) // (2 * n_channels)
    mins = [None] * n_channels
    maxs = [None] * n_channels
    vals = struct.unpack_from(f"<{n_samples * n_channels}h", data, 0)
    for c in range(n_channels):
        col = vals[c :: n_channels]
        mins[c], maxs[c] = min(col), max(col)
    return [(n_samples, mins[c], maxs[c]) for c in range(n_channels)]


def _brainvision_rows(
    path: str,
    content: bytes,
    _dir: str,
    _eeg_path: "str | None",
    econtent: "bytes | None",
    _edir: "str | None",
    ename: "str | None",
) -> Iterator[dict[str, Any]]:
    # all seven columns of the vhdr x sibling-.eeg join below: selecting
    # the four used ones adds a Project over the join, which measured
    # ~5% slower on the perfbench BrainVision tree
    hdr = parse_vhdr_bytes(content)
    if hdr is None:
        return
    if ename is not None and ename != hdr["data_file"]:
        return  # sibling .eeg not the one this header names
    stats = (
        _bv_channel_stats(econtent, hdr["n_channels"], hdr["binary_format"])
        if econtent is not None
        else None
    )
    for ch in hdr["channels"]:
        st = (
            stats[ch["channel_idx"]]
            if stats and ch["channel_idx"] < len(stats)
            else (None, None, None)
        )
        yield {
            "path": path,
            "data_file": hdr["data_file"],
            "n_channels": hdr["n_channels"],
            "srate_hz": hdr["srate_hz"],
            "binary_format": hdr["binary_format"],
            **{k: ch[k] for k in ("channel_idx", "label", "resolution", "unit")},
            "n_samples": st[0],
            "dig_min": st[1],
            "dig_max": st[2],
        }


def read_brainvision_channels(spark: SparkSession, path_glob: str) -> DataFrame:
    """S7 (BrainVision): scan .vhdr headers, then resolve each header's
    DataFile NEXT TO IT (the .ds-style sibling contract) for per-channel
    sample stats — one binaryFile scan per extension, joined on dirname +
    DataFile, parse in Arrow-batched tasks."""
    vhdr = binary_files(spark, path_glob, "*.vhdr").select("path", "content")
    eeg = (
        binary_files(spark, path_glob, "*.eeg")
        .selectExpr("path AS eeg_path", "content AS eeg_content")
    )
    import pyspark.sql.functions as F

    dirname = F.expr(r"regexp_replace(path, '/[^/]+$', '')")
    eeg_dir = F.expr(r"regexp_replace(eeg_path, '/[^/]+$', '')")
    eeg_name = F.expr(r"regexp_extract(eeg_path, '([^/]+)$', 1)")
    joined = vhdr.withColumn("__dir", dirname).join(
        eeg.withColumn("__edir", eeg_dir).withColumn("__ename", eeg_name),
        on=F.expr("__dir = __edir"),
        how="left",
    )
    return map_rows(joined, _brainvision_rows, BRAINVISION_CHANNEL_SCHEMA)


def _vmrk_rows(path: str, content: bytes) -> Iterator[dict[str, Any]]:
    for r in parse_vmrk_bytes(content):
        yield {"path": path, **r}


def read_brainvision_markers(spark: SparkSession, path_glob: str) -> DataFrame:
    files = binary_files(spark, path_glob, "*.vmrk").select("path", "content")
    return map_rows(files, _vmrk_rows, BRAINVISION_MARKER_SCHEMA)


# ---------------------------------------------------------------------------
# EDF+ annotations (TALs) — the event stream MNE surfaces as
# raw.annotations and the reference's BIDS importer writes into
# *_events.tsv (loris_bids_importer eeg/main.py; BIDS events via S8).
# A TAL is "+onset[\x15duration]\x14text\x14...\x00"; the record-keeping
# TAL that leads each record has empty text and is skipped.
# ---------------------------------------------------------------------------

EDF_ANNOTATION_SCHEMA = (
    "path string, onset_s double, duration_s double, text string"
)


def parse_edf_annotations(content: bytes) -> list[dict[str, Any]]:
    """TAL rows from the 'EDF Annotations' channel(s) of an EDF+ stream.
    Classify-don't-fail: plain EDF (no annotation channel), truncated
    records and malformed TALs yield fewer rows, never an exception."""

    def ascii_at(off: int, n: int) -> str:
        return content[off : off + n].decode("ascii", "replace").strip()

    try:
        n_records = int(ascii_at(236, 8))
        ns = int(ascii_at(252, 4))
        if ns < 0 or n_records < 0:
            return []
        base = 256
        labels = [ascii_at(base + 16 * c, 16) for c in range(ns)]
        off = base + ns * (16 + 80 + 8 + 8 + 8 + 8 + 8 + 80)
        sprs = [int(ascii_at(off + 8 * c, 8)) for c in range(ns)]
        header_bytes = int(ascii_at(184, 8))
    except ValueError:
        return []
    if header_bytes < 0 or any(s < 0 for s in sprs):
        return []
    ann_idx = {c for c, lb in enumerate(labels) if lb == "EDF Annotations"}
    if not ann_idx:
        return []

    def parse_tals(buf: bytes) -> list[dict[str, Any]]:
        rows = []
        for tal in buf.split(b"\x00"):
            if not tal.startswith((b"+", b"-")):
                continue
            head, _, texts = tal.partition(b"\x14")
            onset_b, _, dur_b = head.partition(b"\x15")
            try:
                onset = float(onset_b)
                dur = float(dur_b) if dur_b else 0.0
            except ValueError:
                continue
            for t in texts.split(b"\x14"):
                txt = t.decode("utf-8", "replace").strip()
                if txt:  # record-keeping TALs have empty text
                    rows.append(
                        {"onset_s": onset, "duration_s": dur, "text": txt}
                    )
        return rows

    record_len = sum(sprs)
    rows: list[dict[str, Any]] = []
    pos = header_bytes
    for _ in range(n_records if record_len > 0 else 0):
        if pos + 2 * record_len > len(content):
            break
        for c in range(ns):
            if c in ann_idx:
                rows.extend(
                    parse_tals(content[pos : pos + 2 * sprs[c]])
                )
            pos += 2 * sprs[c]
    return rows


def _annotation_rows(path: str, content: bytes) -> Iterator[dict[str, Any]]:
    for r in parse_edf_annotations(content):
        yield {"path": path, **r}


def read_edf_annotations(spark: SparkSession, path_glob: str) -> DataFrame:
    files = binary_files(spark, path_glob, "*.edf").select("path", "content")
    return map_rows(files, _annotation_rows, EDF_ANNOTATION_SCHEMA)
