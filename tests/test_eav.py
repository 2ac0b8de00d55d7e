"""operators/eav.py dwi_bval_bvec: the create_nifti_bval_bvec.pl +
MRI.pm:1499-1562 cleanup semantics on hand-built EAV rows."""

from __future__ import annotations


def test_dwi_bval_bvec_cleanup_and_gating(spark):
    from loris_mri_spark.operators.eav import dwi_bval_bvec

    rows = [
        # file 1: full DWI parameter set, with the artifacts the Perl
        # cleanup targets ('.,' pairs, trailing '.', wrapping quotes)
        (1, "acquisition:bvalues", "0., 1000., 1000."),
        (1, "acquisition:direction_x", '"0.99,-0.01,0.5"'),
        (1, "acquisition:direction_y", "0.1 0.2 0.3"),
        (1, "acquisition:direction_z", "0.0 0.0 1.0"),
        # file 2: bvalues only -> bval written, bvec NULL
        (2, "acquisition:bvalues", "0 5 10"),
        (2, "acquisition:direction_x", "1 0 0"),
        (2, "acquisition:direction_y", "0 1 0"),
        # file 3: no bvalues -> excluded entirely
        (3, "acquisition:direction_x", "1 0 0"),
        # file 4: Perl-FALSY bvalues ('0') -> excluded like undef
        # (`return undef unless $bvals`, MRI.pm)
        (4, "acquisition:bvalues", "0"),
        # file 5: empty-string bvalues -> excluded
        (5, "acquisition:bvalues", ""),
        # file 6: bvals ok but one direction Perl-falsy -> bvec NULL
        (6, "acquisition:bvalues", "0 5"),
        (6, "acquisition:direction_x", "1 0"),
        (6, "acquisition:direction_y", "0"),
        (6, "acquisition:direction_z", "0 1"),
        # unrelated parameter rides through the filter
        (1, "acquisition:echo_time", "0.03"),
    ]
    eav = spark.createDataFrame(
        rows, "file_id int, name string, value string"
    )
    got = {r["file_id"]: r for r in dwi_bval_bvec(eav).collect()}
    assert set(got) == {1, 2, 6}
    assert got[6]["bvec_content"] is None
    # '.,' pairs removed, trailing '.' stripped
    assert got[1]["bval_content"] == "0 1000 1000"
    # quotes and commas removed; x/y/z newline-joined
    assert got[1]["bvec_content"] == "0.99-0.010.5\n0.1 0.2 0.3\n0.0 0.0 1.0\n"
    assert got[2]["bval_content"] == "0 5 10"
    assert got[2]["bvec_content"] is None


def test_nifti_voxel_stats_exact_moments(spark, sf_dir):
    """sources/nifti.nifti_voxel_stats: exact integer moments over the
    fixture volume ((i*7)%1024 int16 payload), gzip transparency,
    truncation -> complete=false over the leading voxels, and the
    distributed reader (BackPopulateSNRAndAcquisitionOrder.pl flow)."""
    from pathlib import Path

    from loris_mri_spark.sources.nifti import (
        nifti_voxel_stats,
        read_nifti_voxel_stats,
    )

    fx = Path(__file__).resolve().parent / "fixtures" / "nifti"
    raw = (fx / "sub-01_T1w.nii").read_bytes()
    st = nifti_voxel_stats(raw)
    vals = [(i * 7) % 1024 for i in range(8 * 8 * 4)]
    assert st["complete"] and st["n_vox"] == 256
    assert st["vsum"] == sum(vals)
    assert st["vsumsq"] == sum(v * v for v in vals)
    assert st["vmin"] == min(vals) and st["vmax"] == max(vals)
    assert abs(st["snr"] - st["mean"] / st["stddev"]) < 1e-12

    cut = nifti_voxel_stats(raw[:-100])
    assert cut["complete"] is False and cut["n_read"] == 256 - 50

    gz = nifti_voxel_stats((fx / "sub-02_T1w.nii.gz").read_bytes())
    assert gz["complete"] and gz["vsum"] == st["vsum"]

    assert nifti_voxel_stats(b"not a nifti") is None

    df = read_nifti_voxel_stats(spark, str(fx)).orderBy("path")
    rows = {r["path"].rsplit("/", 1)[-1]: r for r in df.collect()}
    assert rows["sub-01_T1w.nii"]["vsum"] == sum(vals)
    assert rows["sub-02_T1w.nii.gz"]["vsumsq"] == st["vsumsq"]


def _mk_nifti(dims, voxels, datatype=2):
    """Minimal uncompressed NIfTI-1: header + uint8/int voxels."""
    import struct

    hdr = bytearray(352)
    struct.pack_into("<i", hdr, 0, 348)
    struct.pack_into("<8h", hdr, 40, len(dims), *dims, *([1] * (7 - len(dims))))
    struct.pack_into("<h", hdr, 70, datatype)
    struct.pack_into("<f", hdr, 108, 352.0)
    hdr[344:348] = b"n+1\x00"
    return bytes(hdr) + bytes(voxels)


def test_nifti_volume_cog_analytic():
    """COG of a single hot voxel is exactly its index; a uniform volume's
    COG is the exact center (MincUtilities.pm:584-601 volume_cog)."""
    from loris_mri_spark.sources.nifti import nifti_volume_cog

    # 2x2x2, single voxel value 7 at (x=1, y=0, z=1): linear index
    # x + 2*y + 4*z = 5 (x fastest)
    vox = [0] * 8
    vox[1 + 2 * 0 + 4 * 1] = 7
    st = nifti_volume_cog(_mk_nifti((2, 2, 2), vox))
    assert (st["cog_x"], st["cog_y"], st["cog_z"]) == (1.0, 0.0, 1.0)
    assert st["frame_sum"] == 7
    assert (st["cog_num_x"], st["cog_num_y"], st["cog_num_z"]) == (7, 0, 7)

    # uniform 3x2x2 volume: COG = ((3-1)/2, (2-1)/2, (2-1)/2)
    st = nifti_volume_cog(_mk_nifti((3, 2, 2), [5] * 12))
    assert (st["cog_x"], st["cog_y"], st["cog_z"]) == (1.0, 0.5, 0.5)

    # classify paths: zero mass, truncated frame, 2-D, float dtype are
    # all structurally valid NIfTI -> is_nifti=True with no stats (never
    # misfiled as 'other'); garbage bytes -> None
    for blob in (
        _mk_nifti((2, 2, 2), [0] * 8),
        _mk_nifti((2, 2, 2), [1] * 7),
        _mk_nifti((4, 4), [1] * 16),
        _mk_nifti((2, 2, 2), [0] * 8, datatype=16),
    ):
        assert nifti_volume_cog(blob) == {"is_nifti": True}
    assert nifti_volume_cog(b"garbage") is None


def test_nifti_voxel_stats_hardening():
    """Review findings: inf vox_offset must classify (int(inf) raised and
    killed the scan task); uint16 volumes are integer-summable and must
    not be misfiled as non-NIfTI; int32 sum-of-squares must be exact past
    int64 wraparound; absurd dim products classify."""
    import struct

    from loris_mri_spark.sources.nifti import (
        _exact_moments,
        nifti_voxel_stats,
    )

    # inf vox_offset -> classified, not OverflowError
    blob = bytearray(_mk_nifti((2, 2, 2), [1] * 8))
    struct.pack_into("<f", blob, 108, float("inf"))
    assert nifti_voxel_stats(bytes(blob)) == {"is_nifti": True}

    # uint16 (DT 512) is exactly summable
    vox = struct.pack("<8H", *[1000] * 8)
    st = nifti_voxel_stats(_mk_nifti((2, 2, 2), vox, datatype=512))
    assert st["vsum"] == 8000 and st["vsumsq"] == 8 * 1000**2

    # float dtype: valid NIfTI, no stats
    assert nifti_voxel_stats(
        _mk_nifti((2, 2, 2), [0] * 8, datatype=16)
    ) == {"is_nifti": True}

    # absurd dim product (7 x 32767): classified, no Int64 sink overflow
    big = bytearray(_mk_nifti((2, 2, 2), [1] * 8))
    struct.pack_into("<8h", big, 40, 7, *([32767] * 7))
    assert nifti_voxel_stats(bytes(big)) == {"is_nifti": True}

    # exact moments past int64 wraparound (int32 volume, values 2^31-1)
    import numpy as np

    v = np.full(3, 2**31 - 1, dtype=np.int64)
    s, q = _exact_moments(v)
    assert s == 3 * (2**31 - 1)
    assert q == 3 * (2**31 - 1) ** 2  # > 2^63: wraps under np.dot


def test_voxel_stats_exact_past_2_53_beside_a_classified_file(spark, tmp_path):
    """A batch that mixes a classified (non-NIfTI) row with an int32
    volume whose vsumsq is past 2**53 still yields the exact moments: the
    classified row lacks the stats keys, and a float64 column built
    across the two would drop vsumsq's low bits. A third volume whose
    exact vsumsq is past int64 comes back as a NIfTI with no stats
    instead of failing the batch. coalesce(1) puts all three files in one
    batch (read_nifti_voxel_stats gives each tiny file its own task)."""
    import os
    import struct

    from loris_mri_spark.sources.files import map_rows
    from loris_mri_spark.sources.nifti import (
        VOXEL_STATS_SCHEMA,
        _voxel_stats_rows,
    )

    v = 2**31 - 1
    (tmp_path / "a.nii").write_bytes(b"not a nifti")
    (tmp_path / "b.nii").write_bytes(
        _mk_nifti((1,), struct.pack("<i", v), datatype=8)
    )
    (tmp_path / "c.nii").write_bytes(
        _mk_nifti((3,), struct.pack("<3i", v, v, v), datatype=8)
    )
    files = (
        spark.read.format("binaryFile").load(str(tmp_path))
        .select("path", "content").coalesce(1)
    )
    rows = {
        os.path.basename(r["path"]): r
        for r in map_rows(files, _voxel_stats_rows, VOXEL_STATS_SCHEMA).collect()
    }
    assert rows["a.nii"]["is_nifti"] is False
    assert rows["a.nii"]["vsumsq"] is None
    assert v * v > 2**53
    assert rows["b.nii"]["vsumsq"] == v * v == 4611686014132420609
    assert rows["b.nii"]["vsum"] == rows["b.nii"]["vmax"] == v
    assert 3 * v * v >= 2**63
    assert rows["c.nii"]["is_nifti"] is True
    assert rows["c.nii"]["vsumsq"] is None
    assert len(rows) == 3
