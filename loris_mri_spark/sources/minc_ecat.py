"""MINC (S5) and ECAT7 PET (S6) readers — native stdlib parsers.

MINC1 is NetCDF classic (CDF-1/CDF-2) — a PUBLIC, fully documented binary
layout (magic 'CDF\\x01'/'CDF\\x02', big-endian dim/attribute/variable
lists). The reference fetches header fields like
``acquisition:repetition_time`` by shelling out to ``mincheader`` per file
(`uploadNeuroDB/NeuroDB/MincUtilities.pm:93-129`); parsing the header
in-process removes that per-file subprocess entirely — the same
stdlib-struct treatment this repo already applies to NIfTI/EDF/DICOM.

ECAT7 ``.v`` is likewise public: a 512-byte big-endian main header (magic
'MATRIX72v') followed by 512-byte directory blocks of 4-int entries and
per-matrix subheaders. The reference parses the same surface out of
``lmhdr`` text (`uploadNeuroDB/NeuroDB/HRRT.pm:125-343`: scan_start_time,
system_type, patient_name, facility_name, ...), proving the field set;
here the bytes are decoded directly.

Spark-first shape: binaryFile scan (`files.binary_files`: one task per
slot for a small listing, one per 128 MB of file bytes at scale) ->
`files.map_rows` over Arrow batches, no temp files, no subprocess —
embarrassingly parallel at 100 TB. Files that fail to parse become
classification rows (``is_readable = false``), never job failures (the
QC violation-row discipline).
"""

from __future__ import annotations

import struct
from typing import Any, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from loris_mri_spark.sources.files import binary_files, map_rows

# --------------------------------------------------------------------------
# MINC1 / NetCDF-classic header parser
# --------------------------------------------------------------------------

_NC_TYPE_FMT = {1: "b", 2: "s", 3: "h", 4: "i", 5: "f", 6: "d"}
_NC_TYPE_SIZE = {1: 1, 2: 1, 3: 2, 4: 4, 5: 4, 6: 8}

MINC_SCHEMA = (
    "path string, is_readable boolean, variable string, attribute string, "
    "value_str string, value_num double"
)


class _Cur:
    __slots__ = ("b", "p")

    def __init__(self, b: bytes) -> None:
        self.b = b
        self.p = 0

    def i4(self) -> int:
        (v,) = struct.unpack_from(">i", self.b, self.p)
        self.p += 4
        return v

    def name(self) -> str:
        n = self.i4()
        raw = self.b[self.p : self.p + n]
        self.p += n + ((4 - n % 4) % 4)
        return raw.decode("ascii", "replace")

    def values(self, nc_type: int, nelems: int) -> tuple[str | None, float | None]:
        if nc_type not in _NC_TYPE_SIZE or nelems < 0:
            raise ValueError(f"corrupt attribute: type={nc_type}")
        size = _NC_TYPE_SIZE[nc_type]
        raw = self.b[self.p : self.p + size * nelems]
        self.p += size * nelems + ((4 - (size * nelems) % 4) % 4)
        if nc_type == 2:  # NC_CHAR -> string
            return raw.decode("ascii", "replace").rstrip("\x00 _"), None
        fmt = ">" + str(nelems) + _NC_TYPE_FMT[nc_type]
        vals = struct.unpack(fmt, raw)
        if nelems == 1:
            return None, float(vals[0])
        # Multi-valued numeric attribute (e.g. valid_range): keep the str
        # form; value_num carries the first element.
        return ",".join(repr(float(v)) for v in vals), float(vals[0])


def parse_minc1_bytes(content: bytes) -> list[dict[str, Any]]:
    """Flatten a NetCDF-classic header into (variable, attribute, value)
    rows — global attributes under variable '', dimensions under
    variable '<dims>' with their length as value_num. Returns [] if the
    magic doesn't match (not MINC1 / NetCDF classic)."""
    if len(content) < 8 or content[:3] != b"CDF" or content[3] not in (1, 2):
        return []
    cur = _Cur(content)
    cur.p = 4
    cur.i4()  # numrecs
    rows: list[dict[str, Any]] = []

    def att_list(varname: str) -> None:
        tag, n = cur.i4(), cur.i4()
        if tag == 0 and n == 0:
            return
        for _ in range(n):
            aname = cur.name()
            nc_type = cur.i4()
            nelems = cur.i4()
            s, d = cur.values(nc_type, nelems)
            rows.append(
                {"variable": varname, "attribute": aname,
                 "value_str": s, "value_num": d}
            )

    try:
        tag, ndims = cur.i4(), cur.i4()
        if tag not in (0, 0x0A):
            return []
        for _ in range(ndims):
            dname = cur.name()
            dlen = cur.i4()
            rows.append(
                {"variable": "<dims>", "attribute": dname,
                 "value_str": None, "value_num": float(dlen)}
            )
        att_list("")  # global attributes
        tag, nvars = cur.i4(), cur.i4()
        if tag not in (0, 0x0B):
            return []
        for _ in range(nvars):
            vname = cur.name()
            vnd = cur.i4()
            for _ in range(vnd):
                cur.i4()  # dimids
            att_list(vname)
            cur.i4()  # nc_type
            cur.i4()  # vsize
            cur.i4()  # begin (CDF-1: 4 bytes; header-only parse stops here)
    except (struct.error, ValueError, IndexError):
        return []
    return rows


# --------------------------------------------------------------------------
# MINC2 / HDF5 header parser (PUBLIC format: HDF5 File Format Spec).
# Reads the subset HDF5 1.8-era `mincreate` writes: version-0 superblock,
# old-style groups (local heap + v1 B-tree + SNOD symbol tables), v1
# object headers, inline attribute messages (+ continuation blocks).
# The reference handles MINC2 through `mincheader`
# (uploadNeuroDB/NeuroDB/MincUtilities.pm:54-129); this surfaces the same
# (variable, attribute, value) rows as the MINC1 parser above.
# --------------------------------------------------------------------------

_H5_SIG = b"\x89HDF\r\n\x1a\n"
_H5_UNDEF = 0xFFFFFFFFFFFFFFFF


def _h5_messages(content: bytes, addr: int) -> list[tuple[int, bytes]]:
    """Parse a v1 object header into (type, body) messages, following
    continuation (0x0010) blocks."""
    if not 0 <= addr <= len(content) - 12:
        # a corrupt symbol-table entry can carry any u64 here; a huge
        # addr makes unpack_from raise OverflowError (not struct.error),
        # which would escape the classify net below
        raise ValueError("object header address out of bounds")
    version, nmsgs = struct.unpack_from("<BxH", content, addr)
    if version != 1:
        raise ValueError("unsupported object header version")
    msgs: list[tuple[int, bytes]] = []
    # (pos, end) blocks; v1 prefix is 12 bytes + 4 pad.
    (hdr_size,) = struct.unpack_from("<I", content, addr + 8)
    blocks = [(addr + 16, min(addr + 16 + hdr_size, len(content)))]
    while blocks and len(msgs) < nmsgs:
        pos, end = blocks.pop(0)
        while pos + 8 <= end and len(msgs) < nmsgs:
            mtype, msize = struct.unpack_from("<HH", content, pos)
            body = content[pos + 8 : pos + 8 + msize]
            if len(body) < msize:
                break
            if mtype == 0x0010 and msize >= 16:  # continuation
                off, length = struct.unpack_from("<QQ", body, 0)
                if off != _H5_UNDEF and off + length <= len(content):
                    blocks.append((off, off + length))
            else:
                msgs.append((mtype, body))
            pos += 8 + msize
    return msgs


def _h5_attr(body: bytes) -> tuple[str, Any] | None:
    """Decode a v1 attribute message into (name, value) for scalar
    fixed-point / float / string datatypes; None for anything else."""
    if len(body) < 8:
        return None
    version, _, name_size, dt_size, ds_size = struct.unpack_from(
        "<BBHHH", body, 0
    )
    if version != 1:
        return None

    def pad8(n: int) -> int:
        return n + ((8 - n % 8) % 8)

    p = 8
    name = body[p : p + name_size].split(b"\x00", 1)[0].decode("ascii", "replace")
    p += pad8(name_size)
    dt = body[p : p + dt_size]
    p += pad8(dt_size)
    ds = body[p : p + ds_size]
    p += pad8(ds_size)
    if len(dt) < 8 or len(ds) < 2:
        return None
    cls = dt[0] & 0x0F
    (size,) = struct.unpack_from("<I", dt, 4)
    rank = ds[1]
    if rank != 0:  # only scalar attributes surfaced (the mincheader set)
        return None
    data = body[p : p + size]
    if len(data) < size:
        return None
    if cls == 0 and size in (1, 2, 4, 8):  # fixed-point
        signed = bool(dt[1] & 0x08)
        return name, float(
            int.from_bytes(data, "little" if not dt[1] & 0x01 else "big",
                           signed=signed)
        )
    if cls == 1 and size == 8:
        return name, struct.unpack("<d", data)[0]
    if cls == 1 and size == 4:
        return name, float(struct.unpack("<f", data)[0])
    if cls == 3:
        return name, data.split(b"\x00", 1)[0].decode("ascii", "replace")
    return None


def _h5_group_children(
    content: bytes, msgs: list[tuple[int, bytes]]
) -> list[tuple[str, int]]:
    """Resolve an old-style group's (name, object header address) children
    via its symbol-table message -> B-tree -> SNOD nodes -> local heap."""
    st = next((b for t, b in msgs if t == 0x0011), None)
    if st is None or len(st) < 16:
        return []
    btree_addr, heap_addr = struct.unpack_from("<QQ", st, 0)
    if heap_addr + 32 > len(content) or content[heap_addr : heap_addr + 4] != b"HEAP":
        return []
    (heap_data_addr,) = struct.unpack_from("<Q", content, heap_addr + 24)
    out: list[tuple[str, int]] = []

    def walk_btree(addr: int, depth: int) -> None:
        if depth > 32 or addr + 24 > len(content):
            return
        if content[addr : addr + 4] != b"TREE":
            return
        node_type, level, n_used = struct.unpack_from("<BBH", content, addr + 4)
        if node_type != 0:
            return
        p = addr + 24  # past sig + type/level/used + siblings
        for k in range(n_used):
            child_off = p + 8 + k * 16
            if child_off + 8 > len(content):
                return
            (child,) = struct.unpack_from("<Q", content, child_off)
            if level > 0:
                walk_btree(child, depth + 1)
            else:
                if child + 8 > len(content) or content[child : child + 4] != b"SNOD":
                    continue
                (nsyms,) = struct.unpack_from("<H", content, child + 6)
                for s in range(nsyms):
                    ste = child + 8 + s * 40
                    if ste + 40 > len(content):
                        break
                    name_off, hdr_addr = struct.unpack_from("<QQ", content, ste)
                    npos = heap_data_addr + name_off
                    nend = content.find(b"\x00", npos)
                    if npos >= len(content) or nend < 0:
                        continue
                    name = content[npos:nend].decode("ascii", "replace")
                    out.append((name, hdr_addr))

    walk_btree(btree_addr, 0)
    return out


def parse_minc2_bytes(content: bytes) -> list[dict[str, Any]]:
    """Flatten a MINC2/HDF5 header into the same (variable, attribute,
    value) rows as the MINC1 parser: dimension datasets under
    /minc-2.0/dimensions also emit a '<dims>' length row; info datasets
    (acquisition/patient/study) emit one row per attribute. Returns []
    when the content is not parseable HDF5 with a 'minc-2.0' root child
    (classify, don't fail)."""
    if len(content) < 96 or content[: len(_H5_SIG)] != _H5_SIG:
        return []
    rows: list[dict[str, Any]] = []
    try:
        if content[8] != 0:  # superblock version 0 only (the mincreate set)
            return []
        (root_hdr,) = struct.unpack_from("<Q", content, 64)
        root_children = dict(
            _h5_group_children(content, _h5_messages(content, root_hdr))
        )
        minc_addr = root_children.get("minc-2.0")
        if minc_addr is None:
            return []
        minc_children = dict(
            _h5_group_children(content, _h5_messages(content, minc_addr))
        )
        for group_name in ("dimensions", "info"):
            gaddr = minc_children.get(group_name)
            if gaddr is None:
                continue
            for var, vaddr in _h5_group_children(
                content, _h5_messages(content, gaddr)
            ):
                vmsgs = _h5_messages(content, vaddr)
                for t, b in vmsgs:
                    if t != 0x000C:
                        continue
                    att = _h5_attr(b)
                    if att is None:
                        continue
                    aname, val = att
                    if isinstance(val, str):
                        row = {"variable": var, "attribute": aname,
                               "value_str": val.rstrip("\x00 _"),
                               "value_num": None}
                    else:
                        row = {"variable": var, "attribute": aname,
                               "value_str": None, "value_num": float(val)}
                    rows.append(row)
                    if group_name == "dimensions" and aname == "length":
                        rows.append(
                            {"variable": "<dims>", "attribute": var,
                             "value_str": None, "value_num": float(val)}
                        )
    except (
        struct.error,
        ValueError,
        IndexError,
        RecursionError,
        OverflowError,  # u64 offsets beyond ssize_t in any unpack site
    ):
        return []
    return rows


def _minc_rows(path: str, content: bytes) -> Iterator[dict[str, Any]]:
    parsed = parse_minc1_bytes(content) or parse_minc2_bytes(content)
    if not parsed:
        yield {"path": path, "is_readable": False}
    for r in parsed:
        yield {"path": path, "is_readable": True, **r}


def read_minc_headers(spark: SparkSession, path_glob: str) -> DataFrame:
    """S5: per-file MINC header explosion -> one row per
    (variable, attribute). MINC1 (NetCDF classic) and MINC2 (HDF5) both
    parse natively; anything else classifies as ``is_readable=false``
    instead of failing the scan."""
    files = binary_files(spark, path_glob, "*.mnc").select("path", "content")
    return map_rows(files, _minc_rows, MINC_SCHEMA)


def minc_field(df: DataFrame, variable: str, attribute: str, out: str) -> DataFrame:
    """fetch_header_info semantics (MincUtilities.pm:93-129): one field per
    file, null when absent."""
    return (
        df.filter((F.col("variable") == variable) & (F.col("attribute") == attribute))
        .select("path", F.coalesce("value_str", F.col("value_num").cast("string")).alias(out))
    )


# --------------------------------------------------------------------------
# ECAT7 parser
# --------------------------------------------------------------------------

ECAT_SCHEMA = (
    "path string, is_readable boolean, original_filename string, "
    "sw_version int, system_type int, file_type int, scan_start_time bigint, "
    "isotope_name string, isotope_halflife double, patient_id string, "
    "patient_name string, patient_age double, patient_weight double, "
    "study_description string, facility_name string, num_planes int, "
    "num_frames int, num_gates int, num_bed_pos int, plane_separation double, "
    "n_matrices int"
)

ECAT_MATRIX_SCHEMA = (
    "path string, matnum int, start_block int, end_block int, status int, "
    "data_type int, num_dimensions int, x_dim int, y_dim int, z_dim int, "
    "scale_factor double"
)


def _cstr(raw: bytes) -> str:
    return raw.split(b"\x00", 1)[0].decode("ascii", "replace").strip()


def parse_ecat7_main_header(content: bytes) -> dict[str, Any] | None:
    """Decode the 512-byte big-endian ECAT7 main header (public layout;
    the field surface HRRT.pm:125-343 reads from `lmhdr`)."""
    if len(content) < 512 or not content.startswith(b"MATRIX72v"):
        return None
    return {
        "original_filename": _cstr(content[14:46]),
        "sw_version": struct.unpack_from(">H", content, 46)[0],
        "system_type": struct.unpack_from(">H", content, 48)[0],
        "file_type": struct.unpack_from(">H", content, 50)[0],
        "scan_start_time": int(struct.unpack_from(">I", content, 62)[0]),
        "isotope_name": _cstr(content[66:74]),
        "isotope_halflife": round(struct.unpack_from(">f", content, 74)[0], 4),
        "patient_id": _cstr(content[166:182]),
        "patient_name": _cstr(content[182:214]),
        "patient_age": round(struct.unpack_from(">f", content, 216)[0], 4),
        "patient_weight": round(struct.unpack_from(">f", content, 224)[0], 4),
        "study_description": _cstr(content[296:328]),
        "facility_name": _cstr(content[332:352]),
        "num_planes": struct.unpack_from(">H", content, 352)[0],
        "num_frames": struct.unpack_from(">H", content, 354)[0],
        "num_gates": struct.unpack_from(">H", content, 356)[0],
        "num_bed_pos": struct.unpack_from(">H", content, 358)[0],
        "plane_separation": round(struct.unpack_from(">f", content, 424)[0], 6),
    }


def parse_ecat7_directory(content: bytes) -> list[dict[str, Any]]:
    """Walk the ECAT7 directory chain (512-byte blocks of 4-int entries;
    entry 0 = [nfree, next_block, prev_block, nused]) and decode each
    matrix's image subheader (data_type/dims/scale at its start block)."""
    out: list[dict[str, Any]] = []
    block = 2  # 1-based: block 1 = main header, directory starts at 2
    seen = set()
    while block not in seen:
        seen.add(block)
        off = (block - 1) * 512
        if off < 512 or off + 512 > len(content):
            # a corrupted next-block pointer (negative or past EOF) ends
            # the chain: classify, don't fail (fuzz: double byte flip)
            break
        nxt = struct.unpack_from(">i", content, off + 4)[0]
        nused = struct.unpack_from(">i", content, off + 12)[0]
        for e in range(1, min(nused, 31) + 1):
            matnum, start, end, status = struct.unpack_from(
                ">iiii", content, off + 16 * e
            )
            row: dict[str, Any] = {
                "matnum": matnum, "start_block": start,
                "end_block": end, "status": status,
                "data_type": None, "num_dimensions": None, "x_dim": None,
                "y_dim": None, "z_dim": None, "scale_factor": None,
            }
            sh_off = (start - 1) * 512
            if 0 <= sh_off and sh_off + 512 <= len(content):
                dt, nd, x, y, z = struct.unpack_from(">5H", content, sh_off)
                row.update(
                    data_type=dt, num_dimensions=nd, x_dim=x, y_dim=y,
                    z_dim=z,
                    scale_factor=round(
                        struct.unpack_from(">f", content, sh_off + 26)[0], 6
                    ),
                )
            out.append(row)
        if nxt in (0, 2) or nxt in seen:
            break
        block = nxt
    return out


def _ecat_header_rows(path: str, content: bytes) -> Iterator[dict[str, Any]]:
    hdr = parse_ecat7_main_header(content)
    if hdr is None:
        yield {"path": path, "is_readable": False}
    else:
        yield {"path": path, "is_readable": True,
               "n_matrices": len(parse_ecat7_directory(content)), **hdr}


def read_ecat_headers(spark: SparkSession, path_glob: str) -> DataFrame:
    """S6: ECAT7 main headers, one row per .v file."""
    files = binary_files(spark, path_glob, "*.v").select("path", "content")
    return map_rows(files, _ecat_header_rows, ECAT_SCHEMA)


def _ecat_matrix_rows(path: str, content: bytes) -> Iterator[dict[str, Any]]:
    if parse_ecat7_main_header(content) is None:
        return
    for r in parse_ecat7_directory(content):
        yield {"path": path, **r}


def read_ecat_matrices(spark: SparkSession, path_glob: str) -> DataFrame:
    """S6: directory + subheader explosion, one row per stored matrix
    (frame/gate/bed) — the per-frame surface ecat2minc conversion walks."""
    files = binary_files(spark, path_glob, "*.v").select("path", "content")
    return map_rows(files, _ecat_matrix_rows, ECAT_MATRIX_SCHEMA)


# --------------------------------------------------------------------------
# Matlab sidecar parser (S6 completion)
# --------------------------------------------------------------------------

MATLAB_SIDECAR_SCHEMA = (
    "path string, key string, value_str string, value_num double"
)


def parse_matlab_sidecar(content: bytes) -> list[dict[str, Any]]:
    """Parse the Matlab ``.m`` study-parameter sidecar shipped with BIC
    HRRT datasets (`uploadNeuroDB/NeuroDB/HRRT.pm:read_matlab_file`,
    HRRT.pm:125-343): ``key = value;`` lines split on the first ' = ',
    trailing ';' and carriage return stripped, everything else ignored.
    value_num carries the float interpretation when the value parses as
    one (classify, don't fail — garbage lines are simply skipped, the
    Perl loop's `next unless / = /` semantics)."""
    rows: list[dict[str, Any]] = []
    try:
        text = content.decode("utf-8", "replace")
    except Exception:
        return rows
    for line in text.splitlines():
        if " = " not in line:
            continue
        key, val = line.split(" = ", 1)
        val = val.rstrip("\r").rstrip(";").rstrip("\r")
        key = key.strip()
        if not key:
            continue
        try:
            num: "float | None" = float(val)
        except ValueError:
            num = None
        rows.append({"key": key, "value_str": val, "value_num": num})
    return rows


def _sidecar_rows(path: str, content: bytes) -> Iterator[dict[str, Any]]:
    for r in parse_matlab_sidecar(content):
        yield {"path": path, **r}


def read_ecat_sidecars(spark: SparkSession, path_glob: str) -> DataFrame:
    """S6: Matlab sidecar scan alongside the .v files — one row per
    (file, key) study parameter."""
    files = binary_files(spark, path_glob, "*.m").select("path", "content")
    return map_rows(files, _sidecar_rows, MATLAB_SIDECAR_SCHEMA)
