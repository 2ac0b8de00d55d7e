"""pipeline_mri_bids_import classification surface: every reference
error exit of the MRI arm (mri/main.py) must land as a row
classification over the committed fixture tree — and the duplicate
gate must keep the path-order FIRST copy."""

from __future__ import annotations


def test_mri_acquisition_classifications(spark, sf_dir):
    from loris_mri_spark.workload.pipeline import pipeline_mri_bids_import

    rows = pipeline_mri_bids_import(spark, sf_dir).collect()
    status = {
        r.entity: r.value for r in rows if r.kind == "acquisition"
    }
    assert status == {
        "sub-01_T1w.nii.gz": "inserted",
        "sub-01_dwi.nii.gz": "inserted",
        "sub-02_task-rest_bold.nii.gz": "inserted",
        # byte-identical to sub-01's T1w; sub-01 sorts first
        "sub-03_T1w.nii.gz": "duplicate_hash",
        "sub-03_XYZw.nii.gz": "unknown_suffix",
        "sub-03.nii.gz": "no_suffix",
        "sub-04_T1w.nii.gz": "candidate_not_found",
        "sub-05_T1w.nii.gz": "unknown_sex",
    }

    # J10 scan types minted once per distinct inserted suffix
    sts = {r.entity for r in rows if r.kind == "scan_type"}
    assert sts == {"T1w", "dwi", "bold"}

    # X1 session hook resolved the LORIS-convention PatientIDs
    si = {
        (r.entity, r.name): r.value for r in rows
        if r.kind == "session_info"
    }
    assert si[("sub-01_T1w.nii.gz", "project")] == "PRJ001"
    assert si[("sub-02_task-rest_bold.nii.gz", "candidate")] == "100002"
    assert si[("sub-01_T1w.nii.gz", "is_phantom")] == "false"
    # the dwi sidecar has no PatientID -> no session_info rows
    assert not any(e == "sub-01_dwi.nii.gz" for e, _ in si)

    # 4D volumes carry a time parameter; the 3D T1w must not
    params = {
        (r.entity, r.name): r.value for r in rows if r.kind == "parameter"
    }
    assert params[("sub-01_dwi.nii.gz", "time")] == "6"
    assert ("sub-01_T1w.nii.gz", "time") not in params
    # aux association: bval/bvec by base, events/physio by entity prefix
    assert params[("sub-01_dwi.nii.gz", "bids_bval")] == "sub-01_dwi.bval"
    assert (
        params[("sub-02_task-rest_bold.nii.gz", "bids_events")]
        == "sub-02_task-rest_events.tsv"
    )
    assert ("sub-01_T1w.nii.gz", "bids_bval") not in params


def test_bids_dataset_dispatch_rows_pinned():
    """The unified dispatcher's pure-Python dispatch walk must mirror
    the committed fixture trees exactly: every (subject, data-type dir)
    pair routed per the reference's match rule (MRI dirs
    anat/dwi/fmap/func, EEG dirs eeg/ieeg) — an accidental fixture
    add/removal surfaces here before it surfaces as a driver red."""
    from loris_mri_spark.workload.pipeline import _bids_dispatch_rows

    rows = _bids_dispatch_rows()
    assert all(k == "dispatch" and n == "arm" for k, _, n, _, _ in rows)
    by_ent = {e: v for _, e, _, v, m in rows}
    eeg = sorted(e for e, v in by_ent.items() if v == "eeg")
    mri = sorted(e for e, v in by_ent.items() if v == "mri")
    assert eeg == [f"sub-0{i}/eeg" for i in range(1, 7)]
    assert mri == [
        "sub-01/anat",
        "sub-01/dwi",
        "sub-02/func",
        "sub-03/anat",
        "sub-04/anat",
        "sub-05/anat",
    ]
    assert all(m == v for _, _, _, v, m in rows)


def test_blake2b_hash_of_a_vanished_file_is_null(spark, tmp_path):
    """A file deleted after it was listed (the listing materialized, as
    a scanned Arrow batch is before it is hashed) keeps its row with a
    NULL hash; the task does not fail."""
    import hashlib

    from loris_mri_spark.workload.pipeline import _blake2b_stream_partition

    for name in ("a.nii", "b.nii", "c.nii"):
        (tmp_path / name).write_bytes(name.encode() * 1000)
    listed = (
        spark.read.format("binaryFile")
        .load(str(tmp_path))
        .select("path", "path")
        .toDF("name", "path")
        .localCheckpoint()
    )
    (tmp_path / "b.nii").unlink()
    got = {
        r["name"].rsplit("/", 1)[-1]: r["b2b"]
        for r in listed.mapInPandas(
            _blake2b_stream_partition, schema="name string, b2b string"
        ).collect()
    }
    assert got == {
        "a.nii": hashlib.blake2b(b"a.nii" * 1000, digest_size=32).hexdigest(),
        "b.nii": None,
        "c.nii": hashlib.blake2b(b"c.nii" * 1000, digest_size=32).hexdigest(),
    }
