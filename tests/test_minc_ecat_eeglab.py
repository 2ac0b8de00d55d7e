"""Native MINC1 / ECAT7 / EEGLAB parser unit checks: field fidelity on the
committed fixtures and classify-don't-fail on garbage/truncated bytes."""

from __future__ import annotations

from pathlib import Path

from loris_mri_spark.sources.eeg import parse_eeglab_set_bytes
from loris_mri_spark.sources.minc_ecat import (
    parse_ecat7_directory,
    parse_ecat7_main_header,
    parse_minc1_bytes,
)

FIXTURES = Path(__file__).resolve().parent / "fixtures"


def _minc_map(rows):
    return {(r["variable"], r["attribute"]): r for r in rows}


def test_minc1_header_fields():
    rows = parse_minc1_bytes((FIXTURES / "minc" / "sub-01_t1w.mnc").read_bytes())
    m = _minc_map(rows)
    assert m[("acquisition", "repetition_time")]["value_num"] == 2.3
    assert m[("acquisition", "scanning_sequence")]["value_str"] == "MPRAGE"
    assert m[("patient", "full_name")]["value_str"] == "SUB001"
    assert m[("<dims>", "zspace")]["value_num"] == 4.0
    assert m[("zspace", "step")]["value_num"] == 1.0
    # global attribute lands under variable ''
    assert ("", "history") in m


def test_minc1_rejects_non_minc():
    assert parse_minc1_bytes(b"") == []
    assert parse_minc1_bytes(b"\x89HDF\r\n\x1a\n" + b"\x00" * 64) == []  # MINC2
    good = (FIXTURES / "minc" / "sub-01_t1w.mnc").read_bytes()
    assert parse_minc1_bytes(good[:37]) == []  # truncated mid-header


def test_ecat7_main_and_directory():
    b = (FIXTURES / "ecat" / "sub-01_fdg.v").read_bytes()
    hdr = parse_ecat7_main_header(b)
    assert hdr["patient_name"] == "SUB001"
    assert hdr["system_type"] == 328
    assert hdr["scan_start_time"] == 1325430000
    assert hdr["facility_name"] == "BIC-MNI_MCGILL"
    mats = parse_ecat7_directory(b)
    assert [m["matnum"] for m in mats] == [1, 2]
    assert all(m["x_dim"] == 8 and m["z_dim"] == 4 for m in mats)
    assert mats[0]["scale_factor"] == 0.5


def test_ecat7_rejects_non_ecat():
    assert parse_ecat7_main_header(b"not a pet file") is None
    b = (FIXTURES / "ecat" / "sub-01_fdg.v").read_bytes()
    assert parse_ecat7_main_header(b[:100]) is None
    # truncated after the main header: directory walk stops cleanly
    assert parse_ecat7_directory(b[:512]) == []


def test_eeglab_set_channels():
    rows = parse_eeglab_set_bytes(
        (FIXTURES / "eeg" / "sub-02_task-rest_eeg.set").read_bytes()
    )
    assert [r["label"] for r in rows] == ["Fp1", "Fp2", "Cz", "ECG"]
    assert all(r["srate"] == 250.0 and r["n_samples"] == 128 for r in rows)


def test_eeglab_rejects_non_mat():
    assert parse_eeglab_set_bytes(b"\x00" * 200) == []
    good = (FIXTURES / "eeg" / "sub-02_task-rest_eeg.set").read_bytes()
    assert parse_eeglab_set_bytes(good[:130]) == []


def test_dicom_decode_value_classify_dont_fail():
    """Multi-valued DS/IS (VM>1, backslash-separated — legal DICOM) and
    garbage numeric text must decode to first-component/None, never raise
    (DCMSUM.pm skip semantics; a raise would kill the whole scan task)."""
    from loris_mri_spark.sources.dicom import _decode_value

    assert _decode_value(b"DS", b"1.5\\2.5") == 1.5
    assert _decode_value(b"IS", b"3\\4\\5") == 3
    assert _decode_value(b"DS", b"not-a-number") is None
    assert _decode_value(b"IS", b"") is None
    assert _decode_value(b"DS", b" 2.98 ") == 2.98


def test_edf_truncated_final_record():
    """A truncated final EDF record drops cleanly instead of raising
    struct.error mid-scan."""
    from pathlib import Path

    from loris_mri_spark.sources.eeg import parse_edf_bytes

    good = (Path(__file__).parent / "fixtures" / "eeg"
            / "sub-01_task-rest_eeg.edf").read_bytes()
    rows_full = parse_edf_bytes(good)
    rows_trunc = parse_edf_bytes(good[:-10])  # cut into the last record
    assert rows_full and rows_trunc
    assert rows_trunc[0]["n_samples"] < rows_full[0]["n_samples"]


def test_ctf_res4_header():
    from loris_mri_spark.sources.eeg import parse_ctf_res4_bytes

    b = (FIXTURES / "eeg" / "sub-03_task-rest_meg.ds"
         / "sub-03_task-rest_meg.res4").read_bytes()
    hdr = parse_ctf_res4_bytes(b)
    assert hdr["app_name"] == "Acq v6.0"
    assert (hdr["n_samples"], hdr["n_channels"]) == (1200, 275)
    assert hdr["sample_rate"] == 600.0 and hdr["n_trials"] == 1
    assert parse_ctf_res4_bytes(b[:100]) is None
    assert parse_ctf_res4_bytes(b"XXXXXXXX" + b[8:]) is None


def test_eeglab_compressed_elements():
    """MATLAB >= v7 (scipy default) zlib-compresses each element
    (miCOMPRESSED=15); the parser must inflate transparently."""
    import struct
    import zlib

    from loris_mri_spark.sources.eeg import parse_eeglab_set_bytes

    raw = (FIXTURES / "eeg" / "sub-02_task-rest_eeg.set").read_bytes()
    out = bytearray(raw[:128])
    body, pos = raw[128:], 0
    while pos + 8 <= len(body):
        _mtype, size = struct.unpack_from("<ii", body, pos)
        el = body[pos : pos + 8 + size + ((8 - size % 8) % 8)]
        pos += len(el)
        comp = zlib.compress(bytes(el))
        out += struct.pack("<ii", 15, len(comp)) + comp
        out += b"\x00" * ((8 - len(comp) % 8) % 8)
    rows = parse_eeglab_set_bytes(bytes(out))
    assert [r["label"] for r in rows] == ["Fp1", "Fp2", "Cz", "ECG"]


def test_eeglab_nonfinite_header_dims_classify():
    """MAT-v5 scalar doubles feed int()/range(): inf raised OverflowError,
    NaN ValueError, and a huge finite nbchan would allocate a 1e15-row
    list — all must classify (return []) instead (the NIfTI vox_offset
    lesson applied here)."""
    import struct
    from pathlib import Path

    from loris_mri_spark.sources.eeg import parse_eeglab_set_bytes

    raw = (
        Path(__file__).resolve().parent
        / "fixtures" / "eeg" / "sub-02_task-rest_eeg.set"
    ).read_bytes()
    i = raw.find(b"nbchan")
    for v in (float("inf"), float("nan"), 1e15, -3.0):
        for off in range(i, min(i + 64, len(raw) - 8), 8):
            b = bytearray(raw)
            struct.pack_into("<d", b, off, v)
            parse_eeglab_set_bytes(bytes(b))  # must not raise
    assert len(parse_eeglab_set_bytes(raw)) == 4  # fixture unaffected


def test_tar_member_size_cap_inventories_without_content():
    """A header-declared multi-GiB tar member is inventoried (name+size,
    NULL content) instead of materialized as one giant binary cell."""
    import io
    import tarfile

    from loris_mri_spark.sources.archive import _member_rows

    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w") as t:
        info = tarfile.TarInfo("ok.txt")
        info.size = 2
        t.addfile(info, io.BytesIO(b"ok"))
        bomb = tarfile.TarInfo("bomb.bin")
        bomb.size = 600 * 1024 * 1024

        class _Zeros:
            left = bomb.size

            def read(self, n=-1):
                n = min(n if n > 0 else self.left, self.left)
                self.left -= n
                return b"\0" * n

        t.addfile(bomb, _Zeros())
    by = {r["member"]: r for r in _member_rows("a.tar", buf.getvalue())}
    assert by["ok.txt"]["content"] == b"ok"
    assert by["bomb.bin"]["size"] == 600 * 1024 * 1024
    assert by["bomb.bin"].get("content") is None
