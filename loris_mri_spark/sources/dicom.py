"""DICOM directory scan — SURVEY §2.1 S1/S2.

Reference: walk a directory, parse every DICOM header, classify DICOM vs
other (`/root/reference/python/loris_dicom_importer/src/loris_dicom_importer/summary_get.py:21-63`;
Perl `dicom-archive/DICOM/DCMSUM.pm:722-736`), with a nested-tag fallback
lookup for enhanced DICOM (`summary_get.py:160-173`).

Spark-first shape: a binaryFile scan (`files.binary_files`) lists and
reads the files distributively, packed into one task per slot for a
small listing and one per 128 MB (`spark.sql.files.maxPartitionBytes`)
of file bytes at scale, and `files.map_rows` runs the header parse over
Arrow batches — the per-file Perl/pydicom loop becomes one scan stage.
At 100 TB of DICOMs the output is a narrow header table; the pixel
payload never leaves the scan (we slice headers only).

The parser reads explicit-VR little-endian DICOM (preamble + 'DICM' +
(group,element,VR,len,value) stream), implicit-VR little-endian
(transfer syntax 1.2.840.10008.1.2, the DICOM default: VR-less
(group,element,len32,value) elements resolved through a tag->VR table for
the extracted tags), explicit-VR BIG-endian (1.2.840.10008.1.2.2,
retired but present in archives — same walker, '>' byte order) and
DEFLATED explicit-VR little-endian (1.2.840.10008.1.2.1.99 — bounded
raw-inflate then the explicit walker), all with pure stdlib `struct`. The file-meta group (0002,
always explicit VR per PS3.10) is walked first for the TransferSyntaxUID
that picks the dataset walker.
"""

from __future__ import annotations

import struct
from typing import Any, Iterator

from pyspark.sql import DataFrame, SparkSession

from loris_mri_spark.sources.files import binary_files, map_rows

# Tags the reference's summary extracts (summary_get.py:21-63).
_TAGS = {
    (0x0008, 0x0060): "modality",
    (0x0008, 0x103E): "series_description",
    (0x0010, 0x0010): "patient_name",
    (0x0018, 0x0080): "repetition_time",
    (0x0018, 0x0081): "echo_time",
    (0x0020, 0x000D): "study_uid",
    (0x0020, 0x000E): "series_uid",
    (0x0020, 0x0011): "series_number",
    (0x0020, 0x0013): "instance_number",
}

# Default VRs for the extracted tags (PS3.6 data dictionary) — implicit-VR
# streams carry no VR bytes, so the walker resolves them here.
_IMPLICIT_VRS = {
    (0x0008, 0x0060): b"CS",
    (0x0008, 0x103E): b"LO",
    (0x0010, 0x0010): b"PN",
    (0x0018, 0x0080): b"DS",
    (0x0018, 0x0081): b"DS",
    (0x0020, 0x000D): b"UI",
    (0x0020, 0x000E): b"UI",
    (0x0020, 0x0011): b"IS",
    (0x0020, 0x0013): b"IS",
}

_IMPLICIT_TS = "1.2.840.10008.1.2"
_BIGENDIAN_TS = "1.2.840.10008.1.2.2"  # explicit VR big endian (retired)
_DEFLATED_TS = "1.2.840.10008.1.2.1.99"  # deflated explicit VR LE
# Inflate bound for deflated datasets (decompression-bomb guard): header
# surfaces never legitimately exceed this.
_MAX_INFLATE = 64 * 1024 * 1024

_LONG_VRS = {b"OB", b"OW", b"OF", b"SQ", b"UN", b"UT"}
_STR_VRS = {b"AE", b"AS", b"CS", b"DA", b"DS", b"DT", b"IS", b"LO", b"LT",
            b"PN", b"SH", b"ST", b"TM", b"UI", b"UT"}

DICOM_SCHEMA = (
    "path string, is_dicom boolean, modality string, patient_name string, "
    "study_uid string, series_uid string, series_number int, "
    "instance_number int, series_description string, "
    "echo_time double, repetition_time double"
)


def _decode_value(vr: bytes, raw: bytes) -> Any:
    """Classify-don't-fail numeric decode (DCMSUM.pm skip semantics): a
    multi-valued DS/IS ("1.5\\\\2.5", legal at VM>1) or garbage numeric text
    yields its first parseable component or None — never an exception that
    would kill the whole scan job."""
    val: Any = raw.decode("ascii", "replace").strip("\x00 ")
    if vr in (b"IS", b"DS"):
        if not val:
            return None
        first = val.split("\\", 1)[0].strip()
        try:
            return int(first) if vr == b"IS" else float(first)
        except ValueError:
            return None
    return val


def _walk_dataset(
    content: bytes,
    pos: int,
    end: int,
    depth: int,
    found: dict[str, tuple[int, Any]],
    bo: str = "<",
) -> int:
    """Walk one explicit-VR dataset in content[pos:end], recording the
    SHALLOWEST occurrence of each interesting tag (S2 fallback semantics:
    a top-level tag wins; nested sequence items are searched when the tag
    is absent at top level — summary_get.py:160-173 iterall). Recurses
    into SQ sequences (defined and undefined length). Returns the end
    position reached."""
    while pos + 8 <= end:
        group, elem = struct.unpack_from(f"{bo}HH", content, pos)
        if (group, elem) == (0xFFFE, 0xE00D) or (group, elem) == (0xFFFE, 0xE0DD):
            return pos + 8  # item/sequence delimiter
        if group == 0xFFFE and elem == 0xE000:  # item header inside SQ
            (ilen,) = struct.unpack_from(f"{bo}I", content, pos + 4)
            ipos = pos + 8
            iend = end if ilen == 0xFFFFFFFF else min(ipos + ilen, end)
            pos = _walk_dataset(content, ipos, iend, depth, found, bo)
            continue
        vr = content[pos + 4 : pos + 6]
        if vr in _LONG_VRS:
            if pos + 12 > end:
                break
            (length,) = struct.unpack_from(f"{bo}I", content, pos + 8)
            vpos = pos + 12
        else:
            (length,) = struct.unpack_from(f"{bo}H", content, pos + 6)
            vpos = pos + 8
        if vr == b"SQ":
            sq_end = end if length == 0xFFFFFFFF else min(vpos + length, end)
            pos = _walk_dataset(content, vpos, sq_end, depth + 1, found, bo)
            if length != 0xFFFFFFFF:
                pos = sq_end
            continue
        if length == 0xFFFFFFFF or vpos + length > end:
            break
        key = _TAGS.get((group, elem))
        if key is not None and vr in _STR_VRS:
            prev = found.get(key)
            if prev is None or depth < prev[0]:
                found[key] = (depth, _decode_value(vr, content[vpos : vpos + length]))
        pos = vpos + length
    return pos


def _walk_implicit(
    content: bytes, pos: int, end: int, depth: int, found: dict[str, tuple[int, Any]]
) -> int:
    """Walk one implicit-VR little-endian dataset: (group, element, len32)
    elements, VRs resolved from the tag table. Sequences are detected by
    undefined length (0xFFFFFFFF) or — for defined-length SQ, which
    carries no marker in implicit VR — by the value starting with an item
    tag (FFFE,E000), the standard sniffing heuristic. Same shallowest-
    occurrence recording and classify-don't-fail bounds as the explicit
    walker."""
    while pos + 8 <= end:
        group, elem = struct.unpack_from("<HH", content, pos)
        if (group, elem) in ((0xFFFE, 0xE00D), (0xFFFE, 0xE0DD)):
            return pos + 8  # item/sequence delimiter
        if (group, elem) == (0xFFFE, 0xE000):  # item header inside SQ
            (ilen,) = struct.unpack_from("<I", content, pos + 4)
            ipos = pos + 8
            iend = end if ilen == 0xFFFFFFFF else min(ipos + ilen, end)
            pos = _walk_implicit(content, ipos, iend, depth, found)
            continue
        (length,) = struct.unpack_from("<I", content, pos + 4)
        vpos = pos + 8
        if length == 0xFFFFFFFF:  # undefined length => SQ (or encapsulated)
            pos = _walk_implicit(content, vpos, end, depth + 1, found)
            continue
        if vpos + length > end:
            break
        if length >= 8 and content[vpos : vpos + 4] == b"\xfe\xff\x00\xe0":
            _walk_implicit(content, vpos, vpos + length, depth + 1, found)
            pos = vpos + length
            continue
        key = _TAGS.get((group, elem))
        if key is not None:
            vr = _IMPLICIT_VRS[(group, elem)]
            prev = found.get(key)
            if prev is None or depth < prev[0]:
                found[key] = (depth, _decode_value(vr, content[vpos : vpos + length]))
        pos = vpos + length
    return pos


def _walk_file_meta(content: bytes, pos: int) -> tuple[int, "str | None"]:
    """Walk the file-meta group (0002) — always explicit VR per PS3.10 —
    and return (dataset start offset, TransferSyntaxUID or None)."""
    ts = None
    end = len(content)
    while pos + 8 <= end:
        group, elem = struct.unpack_from("<HH", content, pos)
        if group != 0x0002:
            break
        vr = content[pos + 4 : pos + 6]
        if vr in _LONG_VRS:
            if pos + 12 > end:
                return end, ts
            (length,) = struct.unpack_from("<I", content, pos + 8)
            vpos = pos + 12
        else:
            (length,) = struct.unpack_from("<H", content, pos + 6)
            vpos = pos + 8
        if length == 0xFFFFFFFF or vpos + length > end:
            return end, ts
        if (group, elem) == (0x0002, 0x0010):
            ts = content[vpos : vpos + length].decode("ascii", "replace").strip(
                "\x00 "
            )
        pos = vpos + length
    return pos, ts


def parse_dicom_bytes(content: bytes) -> dict[str, Any]:
    """Parse one DICOM byte stream (explicit- or implicit-VR little
    endian, dispatched on the file-meta TransferSyntaxUID) into the
    header dict the reference's summary uses, including the S2
    enhanced-DICOM fallback: tags absent at top level are taken from the
    shallowest nested sequence item that carries them
    (`summary_get.py:160-173`; the reference parses every syntax via
    pydicom, `summary_get.py:21-63`). Non-DICOM content returns
    ``{"is_dicom": False}`` (DICOM-vs-other classification,
    DCMSUM.pm:722-736)."""
    out: dict[str, Any] = {"is_dicom": False}
    if len(content) < 132 or content[128:132] != b"DICM":
        return out
    out["is_dicom"] = True
    found: dict[str, tuple[int, Any]] = {}
    pos, ts = _walk_file_meta(content, 132)
    try:
        if ts == _IMPLICIT_TS:
            _walk_implicit(content, pos, len(content), 0, found)
        elif ts == _BIGENDIAN_TS:
            _walk_dataset(content, pos, len(content), 0, found, ">")
        elif ts == _DEFLATED_TS:
            import zlib

            try:  # raw deflate stream, bounded inflate (bomb guard)
                data = zlib.decompressobj(-15).decompress(
                    content[pos:], _MAX_INFLATE
                )
            except zlib.error:
                data = b""
            _walk_dataset(data, 0, len(data), 0, found)
        else:
            _walk_dataset(content, pos, len(content), 0, found)
    except RecursionError:
        pass  # crafted unbounded nesting: keep what was found, don't fail
    for key, (_depth, val) in found.items():
        out[key] = val
    return out


def _header_rows(path: str, content: "bytes | None") -> Iterator[dict[str, Any]]:
    if content is None:
        # oversized-archive-member inventory rows (sources/archive.py caps
        # extraction) carry NULL content: classify as non-DICOM, don't
        # kill the scan task
        yield {"path": path, "is_dicom": False}
    else:
        yield {"path": path, **parse_dicom_bytes(content)}


def scan_dicom_dir(spark: SparkSession, path: str) -> DataFrame:
    """S1: distributed DICOM directory scan -> header table. One binaryFile
    scan, one Arrow map parse; pixel data stays inside the scan tasks."""
    files = binary_files(spark, path).select("path", "content")
    return map_rows(files, _header_rows, DICOM_SCHEMA)


# ---------------------------------------------------------------------------
# Encapsulated pixel data (the compressed transfer syntaxes: JPEG family,
# JPEG 2000, RLE — PS3.5 §A.4): the (7FE0,0010) element is OB with
# UNDEFINED length and its value is an item sequence — first item the
# Basic Offset Table, then one item per fragment, closed by a sequence
# delimiter. The engine surfaces the CONTAINER (offset table + fragment
# boundaries + fragment bytes => frame access, the mm_frame_sample shape);
# decoding the codestream is the documented codec seam
# (operators/media.py:153) — same stance as JPEG in the media module.
# ---------------------------------------------------------------------------

_PIXEL_DATA = (0x7FE0, 0x0010)

# Image-geometry US tags captured on the way to the pixel data (needed to
# validate/shape decoded RLE frames).
_IMG_TAGS = {
    (0x0028, 0x0010): "rows",
    (0x0028, 0x0011): "cols",
    (0x0028, 0x0100): "bits_allocated",
}


def parse_encapsulated_frames(content: bytes) -> "dict[str, Any] | None":
    """Fragment inventory of an encapsulated-pixel-data DICOM: returns
    {"transfer_syntax", "bot_offsets": [...], "fragments": [(offset_in_
    pixel_data, size, bytes)]} or None when the file has no encapsulated
    pixel data. Classify-don't-fail: truncated items end the walk."""
    if len(content) < 132 or content[128:132] != b"DICM":
        return None
    pos, ts = _walk_file_meta(content, 132)
    end = len(content)
    meta: dict[str, int] = {}
    # explicit-VR LE walk to the pixel-data element (compressed syntaxes
    # are explicit LE apart from the retired big-endian one)
    while pos + 12 <= end:
        group, elem = struct.unpack_from("<HH", content, pos)
        vr = content[pos + 4 : pos + 6]
        if vr in _LONG_VRS:
            (length,) = struct.unpack_from("<I", content, pos + 8)
            vpos = pos + 12
        else:
            (length,) = struct.unpack_from("<H", content, pos + 6)
            vpos = pos + 8
        if (group, elem) == _PIXEL_DATA and length == 0xFFFFFFFF:
            break
        if length == 0xFFFFFFFF or vpos + length > end:
            return None
        if (group, elem) in _IMG_TAGS and vr == b"US" and length == 2:
            meta[_IMG_TAGS[(group, elem)]] = struct.unpack_from(
                "<H", content, vpos
            )[0]
        pos = vpos + length
    else:
        return None

    items: list[tuple[int, int]] = []  # (offset within value, size)
    ipos = vpos
    while ipos + 8 <= end:
        g, e = struct.unpack_from("<HH", content, ipos)
        (ilen,) = struct.unpack_from("<I", content, ipos + 4)
        if (g, e) == (0xFFFE, 0xE0DD):
            break
        if (g, e) != (0xFFFE, 0xE000) or ilen == 0xFFFFFFFF:
            break
        if ipos + 8 + ilen > end:
            break
        items.append((ipos + 8 - vpos, ilen))
        ipos += 8 + ilen
    if not items:
        return None
    bot_off, bot_len = items[0]
    bot = list(
        struct.unpack_from(
            f"<{bot_len // 4}I", content, vpos + bot_off
        )
    )
    frags = [
        (off, ln, content[vpos + off : vpos + off + ln])
        for off, ln in items[1:]
    ]
    return {
        "transfer_syntax": ts,
        "bot_offsets": bot,
        "fragments": frags,
        **meta,
    }


# ---------------------------------------------------------------------------
# RLE transfer syntax (1.2.840.10008.1.2.5, PS3.5 Annex G): each fragment
# is one FRAME — a 64-byte header (16 uint32 LE: segment count + 15 segment
# offsets) followed by PackBits-encoded byte planes (MSB plane first for
# multi-byte samples). PackBits is public and trivially stdlib, so unlike
# the JPEG family this compressed syntax DECODES natively.
# ---------------------------------------------------------------------------

RLE_TS = "1.2.840.10008.1.2.5"


def packbits_decode(data: bytes, max_out: int = 1 << 28) -> bytes:
    """PS3.5 G.3.1 (PackBits): classify-don't-fail — truncated input
    yields the bytes decoded so far. Output is capped at ``max_out``
    (256 MiB default — far above any real single-plane frame): replicate
    runs expand up to 65x, so an adversarial fragment could otherwise
    balloon a scan task's memory by gigabytes."""
    out = bytearray()
    pos, end = 0, len(data)
    while pos < end and len(out) < max_out:
        n = data[pos] - 256 if data[pos] > 127 else data[pos]
        pos += 1
        if 0 <= n <= 127:
            out += data[pos : pos + n + 1]
            pos += n + 1
        elif n != -128:
            if pos >= end:
                break
            out += bytes([data[pos]]) * (-n + 1)
            pos += 1
    return bytes(out)


def decode_rle_frame(frag: bytes) -> "list[int] | None":
    """One RLE frame -> pixel values (composited across byte planes).
    Returns None for a malformed header."""
    if len(frag) < 64:
        return None
    header = struct.unpack_from("<16I", frag, 0)
    n_seg = header[0]
    if not 1 <= n_seg <= 15:
        return None
    offs = [o for o in header[1 : n_seg + 1]]
    if any(o < 64 or o > len(frag) for o in offs):
        return None
    bounds = offs + [len(frag)]
    planes = [
        packbits_decode(frag[bounds[i] : bounds[i + 1]])
        for i in range(n_seg)
    ]
    n = min(len(pl) for pl in planes)
    if n_seg == 1:
        return list(planes[0][:n])
    # MSB plane first (PS3.5 G.2): composite big-endian across planes
    vals = []
    for i in range(n):
        v = 0
        for pl in planes:
            v = (v << 8) | pl[i]
        vals.append(v)
    return vals
