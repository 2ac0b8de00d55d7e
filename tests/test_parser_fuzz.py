"""Property-based robustness: every binary header parser must CLASSIFY
(return None/[]/partial rows), never raise, on arbitrary garbage and on
arbitrary truncations/mutations of valid fixtures — a raise inside
a parse task kills the whole scan (the QC violation-row contract)."""

from __future__ import annotations

from pathlib import Path

from hypothesis import given, settings
from hypothesis import strategies as st

from loris_mri_spark.operators.media import (
    decode_jpeg_baseline,
    decode_png_bytes,
    parse_avi_mjpeg,
    parse_wav_bytes,
    wav_signal_features,
)
from loris_mri_spark.sources.dicom import (
    decode_rle_frame,
    packbits_decode,
    parse_dicom_bytes,
    parse_encapsulated_frames,
)
from loris_mri_spark.sources.eeg import (
    parse_ctf_res4_bytes,
    parse_edf_annotations,
    parse_edf_bytes,
    parse_eeglab_set_bytes,
    parse_meg4_samples,
    parse_vhdr_bytes,
    parse_vmrk_bytes,
)
from loris_mri_spark.sources.minc_ecat import (
    parse_ecat7_directory,
    parse_ecat7_main_header,
    parse_matlab_sidecar,
    parse_minc1_bytes,
    parse_minc2_bytes,
)
from loris_mri_spark.sources.dtiprep import parse_dtiprep_xml_bytes
from loris_mri_spark.sources.nifti import (
    nifti_volume_cog,
    nifti_voxel_stats,
    parse_nifti_bytes,
)

FIXTURES = Path(__file__).resolve().parent / "fixtures"


def _encap_jpeg_compose(b: bytes):
    """The s1_dicom_jpeg_frames composition path: PS3.5 A.4 container
    walk, then the baseline-T.81 decoder over EVERY fragment — the
    decoder must classify fragments of any syntax (J2K filler, RLE
    segments, garbage), not just baseline-JPEG ones."""
    r = parse_encapsulated_frames(b)
    if r is None:
        return None
    return [decode_jpeg_baseline(d) for (_o, _n, d) in r["fragments"]]


PARSERS = [
    decode_png_bytes,
    decode_jpeg_baseline,
    parse_avi_mjpeg,
    parse_wav_bytes,
    wav_signal_features,
    parse_dicom_bytes,
    parse_encapsulated_frames,
    decode_rle_frame,
    packbits_decode,
    parse_ctf_res4_bytes,
    parse_edf_bytes,
    parse_edf_annotations,
    parse_eeglab_set_bytes,
    parse_vhdr_bytes,
    parse_vmrk_bytes,
    lambda b: parse_meg4_samples(b, 4, 16),
    parse_ecat7_main_header,
    parse_ecat7_directory,
    parse_matlab_sidecar,
    parse_minc1_bytes,
    parse_minc2_bytes,
    parse_nifti_bytes,
    nifti_voxel_stats,
    nifti_volume_cog,
    parse_dtiprep_xml_bytes,
    _encap_jpeg_compose,
]

VALID = [
    (FIXTURES / "audio" / "sub-01_audio.wav").read_bytes(),
    (FIXTURES / "dicom" / "MR.1.1.dcm").read_bytes(),
    (FIXTURES / "dicom_implicit" / "MR.imp.1.dcm").read_bytes(),
    (FIXTURES / "dicom_be" / "MR.x.1.dcm").read_bytes(),
    (FIXTURES / "dicom_deflate" / "MR.x.1.dcm").read_bytes(),
    (FIXTURES / "dicom_encap" / "MR.j2k.1.dcm").read_bytes(),
    (FIXTURES / "dicom_rle" / "MR.rle.1.dcm").read_bytes(),
    (FIXTURES / "dicom_jpeg" / "MR.jpg.1.dcm").read_bytes(),
    (FIXTURES / "jpeg" / "img-1.jpg").read_bytes(),
    (FIXTURES / "jpeg" / "color-1.jpg").read_bytes(),
    (FIXTURES / "jpeg" / "sub420-1.jpg").read_bytes(),
    (FIXTURES / "video" / "clip-1.avi").read_bytes(),
    (FIXTURES / "eeg" / "sub-03_task-rest_meg.ds"
     / "sub-03_task-rest_meg.res4").read_bytes(),
    (FIXTURES / "eeg" / "sub-01_task-rest_eeg.edf").read_bytes(),
    (FIXTURES / "eeg" / "sub-02_task-rest_eeg.set").read_bytes(),
    (FIXTURES / "eeg" / "sub-05_task-rest_eeg.bdf").read_bytes(),
    (FIXTURES / "eeg_plus" / "sub-07_task-rest_eeg.edf").read_bytes(),
    (FIXTURES / "eeg" / "sub-06_task-rest_eeg.vhdr").read_bytes(),
    (FIXTURES / "eeg" / "sub-06_task-rest_eeg.vmrk").read_bytes(),
    (FIXTURES / "eeg" / "sub-04_task-rest_meg.ds"
     / "sub-04_task-rest_meg.meg4").read_bytes(),
    (FIXTURES / "ecat" / "sub-01_fdg.v").read_bytes(),
    (FIXTURES / "minc" / "sub-01_t1w.mnc").read_bytes(),
    (FIXTURES / "minc2" / "sub-03_t2w.mnc").read_bytes(),
    (FIXTURES / "nifti" / "sub-01_T1w.nii").read_bytes(),
    (FIXTURES / "dtiprep" / "DTIPrepProtocol.xml").read_bytes(),
    (FIXTURES / "dtiprep" / "sub-01_dti_XMLQCResult.xml").read_bytes(),
]


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=2048))
def test_parsers_never_raise_on_garbage(blob):
    for parse in PARSERS:
        parse(blob)


@settings(max_examples=200, deadline=None)
@given(
    st.integers(min_value=0, max_value=len(VALID) - 1),
    st.integers(min_value=0, max_value=5000),
)
def test_parsers_never_raise_on_truncation(idx, cut):
    blob = VALID[idx][:cut]
    for parse in PARSERS:
        parse(blob)


@settings(max_examples=200, deadline=None)
@given(
    st.integers(min_value=0, max_value=len(VALID) - 1),
    st.integers(min_value=0, max_value=4095),
    st.integers(min_value=0, max_value=255),
)
def test_parsers_never_raise_on_byte_flip(idx, pos, val):
    raw = bytearray(VALID[idx])
    raw[pos % len(raw)] = val
    blob = bytes(raw)
    for parse in PARSERS:
        parse(blob)


@settings(max_examples=200, deadline=None)
@given(
    st.integers(min_value=0, max_value=len(VALID) - 1),
    st.integers(min_value=0, max_value=4095),
    st.integers(min_value=0, max_value=255),
    st.integers(min_value=0, max_value=4095),
    st.integers(min_value=0, max_value=255),
)
def test_parsers_never_raise_on_double_byte_flip(idx, p1, v1, p2, v2):
    """Two independent flips reach states a single flip can't (r5 found
    the ECAT directory-chain crash only under a double flip)."""
    raw = bytearray(VALID[idx])
    raw[p1 % len(raw)] = v1
    raw[p2 % len(raw)] = v2
    blob = bytes(raw)
    for parse in PARSERS:
        parse(blob)


def test_ecat_corrupt_next_block_pointer_classifies():
    """r5 counterexample: flipping the ECAT directory's next-block pointer
    to a huge/negative value must end the chain walk, not raise
    struct.error on a far-out-of-range offset."""
    raw = bytearray((FIXTURES / "ecat" / "sub-01_fdg.v").read_bytes())
    raw[3588 % len(raw)] = 128
    parse_ecat7_directory(bytes(raw))


def test_wav_inconsistent_channels_classifies_none():
    """Hypothesis counterexample from round 4 (idx=0, pos=22, val=2): a
    byte flip at offset 22 bumps channels 1->2 while block_align stays 2,
    so n_frames*channels would overrun the data chunk. Must classify as
    not-WAV, not raise struct.error."""
    raw = bytearray(VALID[0])
    raw[22] = 2
    assert parse_wav_bytes(bytes(raw)) is None


def test_wav_multi_data_chunk_features_match_parse():
    """Two 'data' chunks (fuzz-reachable via a flipped chunk tag):
    parse_wav_bytes keeps the LAST, so wav_signal_features must locate
    the same chunk — stopping at the first would size
    np.frombuffer(count=n_samples) past the buffer and raise."""
    import struct as _struct

    fmt = _struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    small = _struct.pack("<4h", 5, -5, 5, -5)
    big = _struct.pack("<8h", 100, -100, 100, -100, 100, -100, 100, -100)
    body = (
        b"fmt " + _struct.pack("<I", len(fmt)) + fmt
        + b"data" + _struct.pack("<I", len(small)) + small
        + b"data" + _struct.pack("<I", len(big)) + big
    )
    raw = b"RIFF" + _struct.pack("<I", 4 + len(body)) + b"WAVE" + body
    meta = parse_wav_bytes(raw)
    assert meta is not None and meta["n_frames"] == 8
    feats = wav_signal_features(raw)
    assert feats is not None
    assert feats["peak"] == 100 and feats["zero_crossings"] == 7


def test_meg4_truncation_drops_partial_trial():
    """A .meg4 cut mid-trial must yield only the complete leading trials
    (the EDF truncated-record contract applied to CTF data blocks)."""
    raw = (FIXTURES / "eeg" / "sub-04_task-rest_meg.ds"
           / "sub-04_task-rest_meg.meg4").read_bytes()
    full = parse_meg4_samples(raw, 4, 16)
    assert len(full) == 8  # 2 trials x 4 channels
    assert full[0]["samples"][0] == -50
    assert full[-1]["samples"][-1] == 1 * 1000 + 3 * 100 + 15 - 50
    cut = parse_meg4_samples(raw[: 8 + 4 * 4 * 16 + 12], 4, 16)
    assert [r["trial"] for r in cut] == [0, 0, 0, 0]


def test_rle_two_segment_16bit_composites_msb_first():
    """PS3.5 G.2: multi-byte samples ship one PackBits plane per byte,
    MSB plane first — the composite must rebuild the 16-bit values."""
    import struct as _struct

    vals = [0x0102, 0x0304, 0xABCD, 0x0000, 0x7FFF]
    msb = bytes(v >> 8 for v in vals)
    lsb = bytes(v & 0xFF for v in vals)

    def lit(data: bytes) -> bytes:  # literal-only PackBits
        return bytes([len(data) - 1]) + data

    seg0, seg1 = lit(msb), lit(lsb)
    header = _struct.pack("<16I", 2, 64, 64 + len(seg0), *([0] * 13))
    out = decode_rle_frame(header + seg0 + seg1)
    assert out == vals


def test_dtiprep_xml_semantics():
    """Value index order, nested entry paths, per-gradient processing
    status, and the classify-don't-fail row for malformed XML
    (DTI.pm:282-291 XML::Simple shape)."""
    from loris_mri_spark.sources.dtiprep import parse_dtiprep_xml_bytes

    rows = parse_dtiprep_xml_bytes(
        b'<P><entry parameter="A"><value>1</value><value>2</value>'
        b'<entry parameter="B"><processing>EXCLUDE_SLICECHECK</processing>'
        b"</entry></entry></P>"
    )
    a = [(r["entry_path"], r["value_index"], r["value"]) for r in rows
         if r["parameter"] == "A"]
    assert a == [("A", 0, "1"), ("A", 1, "2")]
    b = [r for r in rows if r["parameter"] == "B"][0]
    assert b["entry_path"] == "A/B" and b["depth"] == 1
    assert b["processing"] == "EXCLUDE_SLICECHECK"
    assert b["value_index"] is None and b["value"] is None

    bad = parse_dtiprep_xml_bytes(b"<P><entry parameter='oops'>")
    assert len(bad) == 1 and bad[0]["parse_ok"] is False


def test_dtiprep_xml_depth_bomb_classifies():
    """A crafted XML with thousands of nested <entry> elements must parse
    (explicit-stack walk), never raise RecursionError into the scan task
    (fuzz-found r7: the recursive walk blew the interpreter stack past
    every narrow except)."""
    from loris_mri_spark.sources.dtiprep import parse_dtiprep_xml_bytes

    n = 3000
    xml = (
        b"<P>"
        + b"".join(b'<entry parameter="e%d">' % i for i in range(n))
        + b"</entry>" * n
        + b"</P>"
    )
    rows = parse_dtiprep_xml_bytes(xml)
    assert len(rows) == n
    assert max(r["depth"] for r in rows) == n - 1
    assert all(r["parse_ok"] for r in rows)


def test_nifti_voxel_stats_truncated_at_vox_offset_classifies():
    """Deep-fuzz counterexample (r6): truncating the file to just under
    vox_offset made np.frombuffer(offset=352) raise ValueError even at
    count=0 — must classify as an empty read (n_read=0) instead."""
    raw = (FIXTURES / "nifti" / "sub-01_T1w.nii").read_bytes()
    st = nifti_voxel_stats(raw[:350])
    assert st is not None and st["n_read"] == 0 and st["complete"] is False


@settings(max_examples=200, deadline=None)
@given(
    st.integers(min_value=0, max_value=len(VALID) - 1),
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=8191),
            st.integers(min_value=0, max_value=255),
        ),
        min_size=3,
        max_size=6,
    ),
)
def test_parsers_never_raise_on_multi_byte_flip(idx, flips):
    """3-6 simultaneous flips: the r6 deep sweep found the MINC2 huge-u64
    object-header address (OverflowError escaping the classify net) only
    at this depth — single/double flips never built the full corrupt
    symbol-table entry."""
    raw = bytearray(VALID[idx])
    for pos, val in flips:
        raw[pos % len(raw)] = val
    blob = bytes(raw)
    for parse in PARSERS:
        parse(blob)


@settings(max_examples=200, deadline=None)
@given(
    st.integers(min_value=0, max_value=len(VALID) - 1),
    st.integers(min_value=1, max_value=5000),
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=8191),
            st.integers(min_value=0, max_value=255),
        ),
        min_size=1,
        max_size=4,
    ),
)
def test_parsers_never_raise_on_truncation_plus_flips(idx, cut, flips):
    """Truncation AND corruption together: a flipped length/count field
    that now points past the (shortened) end reaches read paths a clean
    truncation never does — the class that found the r6 MINC2 escape's
    sibling shapes."""
    raw = bytearray(VALID[idx][:cut])
    if not raw:
        raw = bytearray(b"\x00")
    for pos, val in flips:
        raw[pos % len(raw)] = val
    blob = bytes(raw)
    for parse in PARSERS:
        parse(blob)


@settings(max_examples=200, deadline=None)
@given(
    st.integers(min_value=0, max_value=len(VALID) - 1),
    st.integers(min_value=0, max_value=4095),
    st.one_of(
        st.integers(min_value=1, max_value=64),  # delete n bytes at pos
        st.binary(min_size=1, max_size=64),  # insert blob at pos
    ),
)
def test_parsers_never_raise_on_insert_delete_shift(idx, pos, op):
    """Insert/delete SHIFTS: unlike in-place flips, removing or adding
    bytes desynchronizes every downstream offset/length field at once —
    header sizes now lie about where sections start. Parsers must
    classify, never raise."""
    raw = bytearray(VALID[idx])
    p = pos % len(raw)
    if isinstance(op, int):
        del raw[p : p + op]
    else:
        raw[p:p] = op
    if not raw:
        raw = bytearray(b"\x00")
    blob = bytes(raw)
    for parse in PARSERS:
        parse(blob)


@settings(max_examples=200, deadline=None)
@given(
    st.integers(min_value=0, max_value=len(VALID) - 1),
    st.integers(min_value=0, max_value=len(VALID) - 1),
    st.integers(min_value=0, max_value=4095),
    st.integers(min_value=4, max_value=256),
    st.integers(min_value=0, max_value=4095),
)
def test_parsers_never_raise_on_cross_format_splice(dst, src, dpos, w, spos):
    """Cross-format confusion: a window of one VALID format spliced into
    another (e.g. JPEG entropy bytes inside a MINC symbol table) builds
    locally-plausible structures pure randomness never does. Soak-tested
    at 40k mixed mutants x 25 parsers (r7); kept here as the regression
    class."""
    base = bytearray(VALID[dst])
    other = VALID[src]
    s = spos % max(1, len(other) - w) if len(other) > w else 0
    p = dpos % len(base)
    base[p : p + w] = other[s : s + w]
    blob = bytes(base)
    for parse in PARSERS:
        parse(blob)


@settings(max_examples=200, deadline=None)
@given(
    st.integers(min_value=0, max_value=len(VALID) - 1),
    st.integers(min_value=0, max_value=4095),
    st.integers(min_value=4, max_value=512),
    st.integers(min_value=0, max_value=4095),
)
def test_parsers_never_raise_on_region_duplication(idx, spos, w, dpos):
    """Region DUPLICATION: a window of the file re-inserted elsewhere in
    the SAME file builds self-consistent repeated structures (a DICOM
    fragment item twice, a RIFF chunk twice, a repeated symbol-table
    entry) that both random flips and cross-format splices almost never
    produce — the class that stresses count/offset bookkeeping against
    plausible-looking duplicates, with every downstream offset shifted
    by the insertion."""
    base = VALID[idx]
    s_ = spos % len(base)
    chunk = base[s_ : s_ + w]
    p = dpos % (len(base) + 1)
    blob = base[:p] + chunk + base[p:]
    for parse in PARSERS:
        parse(blob)
