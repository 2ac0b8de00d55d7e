"""Ingest-layer workload (SURVEY §2.1 S1/S2/S3/S4/S8) over the committed
deterministic fixtures in tests/fixtures/ (generated by
tests/fixtures/generate.py; byte-stable, so oracles can be golden).

These queries take (spark, sf_dir) like every workload entry but read the
fixture tree — the ingest surface is file formats, not the parquet star
schema. Oracles: DuckDB read_csv/read_text for the text formats; golden
VALUES tables for the binary parsers (DuckDB cannot parse DICOM/NIfTI —
the expected rows are fixed by the committed fixtures).
"""

from __future__ import annotations

import hashlib
import os
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from loris_mri_spark.sources.archive import read_tar_members
from loris_mri_spark.sources.bids import read_events_tsv, read_participants_tsv
from loris_mri_spark.sources.dicom import DICOM_SCHEMA, _header_rows, scan_dicom_dir
from loris_mri_spark.sources.files import map_rows
from loris_mri_spark.workload import query

FIXTURES = str(Path(__file__).resolve().parents[2] / "tests" / "fixtures")

_EVENTS_GLOB = f"{FIXTURES}/bids/sub-*_task-rest_events.tsv"
_BOLD_JSON_GLOB = f"{FIXTURES}/bids/sub-*_task-rest_bold.json"


@query(
    "s8_bids_events",
    oracle=f"""
    SELECT regexp_extract(filename, '(sub-[0-9A-Za-z]+)', 1) AS subject,
           COALESCE(CAST(onset AS DOUBLE), 0.0)    AS onset,
           COALESCE(CAST(duration AS DOUBLE), 0.0) AS duration,
           trial_type, response_time, extra_col
    FROM read_csv('{_EVENTS_GLOB}', delim='\t', header=true,
                  nullstr='n/a', all_varchar=true, filename=true)
    """,
)
def s8_bids_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BIDS events.tsv source: 'n/a' nulls, onset/duration coalesced to 0,
    subject from the filename (events.py:81-155, 128-129)."""
    return read_events_tsv(spark, _EVENTS_GLOB).select(
        "subject", "onset", "duration", "trial_type", "response_time", "extra_col"
    )


@query(
    "s8_bids_participants",
    oracle=f"""
    SELECT participant_id, age, sex, site
    FROM read_csv('{FIXTURES}/bids/participants.tsv', delim='\t',
                  header=true, nullstr='n/a', all_varchar=true)
    """,
)
def s8_bids_participants(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_participants_tsv(spark, f"{FIXTURES}/bids/participants.tsv")


@query(
    "s8_sidecar_json",
    oracle=f"""
    SELECT regexp_extract(filename, '(sub-[0-9A-Za-z]+)', 1) AS subject,
           CAST(json_extract_string(content, '$.RepetitionTime') AS DOUBLE)
             AS repetition_time,
           CAST(json_extract_string(content, '$.EchoTime') AS DOUBLE)
             AS echo_time,
           json_extract_string(content, '$.TaskName') AS task_name
    FROM read_text('{_BOLD_JSON_GLOB}')
    """,
)
def s8_sidecar_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON sidecar parameter extraction (imaging.py:531-553)."""
    raw = (
        spark.read.format("text")
        .option("wholetext", "true")
        .load(_BOLD_JSON_GLOB)
        .withColumn("__file", F.col("_metadata.file_path"))
    )
    return raw.select(
        F.regexp_extract("__file", r"(sub-[0-9A-Za-z]+)", 1).alias("subject"),
        F.get_json_object("value", "$.RepetitionTime").cast("double").alias(
            "repetition_time"
        ),
        F.get_json_object("value", "$.EchoTime").cast("double").alias("echo_time"),
        F.get_json_object("value", "$.TaskName").alias("task_name"),
    )


_SERIES_SUMMARY_ORACLE = """
    SELECT * FROM (VALUES
      ('1.2.840.99999.1', '1.2.840.99999.1.1', 1, 't1w_mprage', 2.98, 2300.0,
       CAST(3 AS BIGINT), 1),
      ('1.2.840.99999.1', '1.2.840.99999.1.2', 2, 'rest_bold', 30.0, 800.0,
       CAST(3 AS BIGINT), 1))
      AS t(study_uid, series_uid, series_number, series_description,
           echo_time, repetition_time, n_files, first_instance)
"""


@query("s1_dicom_series_summary", oracle=_SERIES_SUMMARY_ORACLE)
def s1_dicom_series_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 + A5: distributed DICOM dir scan -> series collapse (the DCMSUM
    acquisition grouping, DCMSUM.pm:651-677) keyed on series identity,
    carrying acquisition params + file count. Golden oracle: the fixture
    study is byte-stable."""
    hdrs = scan_dicom_dir(spark, f"{FIXTURES}/dicom")
    return (
        hdrs.filter(F.col("is_dicom"))
        .groupBy(
            "study_uid",
            "series_uid",
            "series_number",
            "series_description",
            "echo_time",
            "repetition_time",
        )
        .agg(
            F.count("*").alias("n_files"),
            F.min("instance_number").alias("first_instance"),
        )
    )


@query(
    "s1_dicom_implicit_vr",
    oracle="""
    SELECT * FROM (VALUES
      ('MR.imp.1.dcm', 'MR', 'SUB003', 't2w_flair_implicit',
       '1.2.840.99999.3', '1.2.840.99999.3.1', 1, 1, 90.0, 9000.0),
      ('MR.imp.2.dcm', 'MR', 'SUB003', 't2w_flair_implicit',
       '1.2.840.99999.3', '1.2.840.99999.3.1', 1, 2, 90.0, 9000.0))
      AS t(file, modality, patient_name, series_description, study_uid,
           series_uid, series_number, instance_number, echo_time,
           repetition_time)
    """,
)
def s1_dicom_implicit_vr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Implicit-VR little-endian DICOM (transfer syntax 1.2.840.10008.1.2,
    the DICOM *default*): the stdlib parser walks the explicit-VR
    file-meta group for the TransferSyntaxUID, then a VR-less
    (group,element,len32) dataset with VRs resolved from the PS3.6 table
    — including a defined-length nested SQ that exercises the
    item-tag-sniffing heuristic. The reference reads this syntax via
    pydicom (summary_get.py:21-63). Golden oracle: the fixture is
    byte-stable."""
    hdrs = scan_dicom_dir(spark, f"{FIXTURES}/dicom_implicit")
    return hdrs.filter(F.col("is_dicom")).select(
        F.element_at(F.split("path", "/"), -1).alias("file"),
        "modality",
        "patient_name",
        "series_description",
        "study_uid",
        "series_uid",
        "series_number",
        "instance_number",
        "echo_time",
        "repetition_time",
    )


@query(
    "s1_dicom_classification",
    oracle="""
    SELECT * FROM (VALUES (TRUE, CAST(6 AS BIGINT)), (FALSE, CAST(1 AS BIGINT)))
      AS t(is_dicom, n_files)
    """,
)
def s1_dicom_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DICOM-vs-other classification counts (DCMSUM.pm:722-736 skips
    non-DICOM files while walking the upload dir)."""
    hdrs = scan_dicom_dir(spark, f"{FIXTURES}/dicom")
    return hdrs.groupBy("is_dicom").agg(F.count("*").alias("n_files"))


@query(
    "s4_nifti_headers",
    oracle="""
    SELECT * FROM (VALUES
      ('sub-01_T1w.nii', 3, 8, 8, 4, CAST(NULL AS INT), 1.0, 1.0, 1.2),
      ('sub-01_task-rest_bold.nii', 4, 4, 4, 2, 6, 3.0, 3.0, 3.0),
      ('sub-02_T1w.nii.gz', 3, 8, 8, 4, CAST(NULL AS INT), 1.0, 1.0, 1.2))
      AS t(file, ndim, xspace, yspace, zspace, time, xstep, ystep, zstep)
    """,
)
def s4_nifti_headers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NIfTI-1 header projection (imaging_lib/nifti.py:7-30): stdlib
    struct parse of the public 348-byte header, gzip-transparent."""
    from loris_mri_spark.sources.nifti import read_nifti_headers

    hdrs = read_nifti_headers(spark, f"{FIXTURES}/nifti")
    return hdrs.filter(F.col("is_nifti")).select(
        F.element_at(F.split("path", "/"), -1).alias("file"),
        "ndim",
        "xspace",
        "yspace",
        "zspace",
        "time",
        F.round("xstep", 4).alias("xstep"),
        F.round("ystep", 4).alias("ystep"),
        F.round("zstep", 4).alias("zstep"),
    )


def _member_values_sql() -> str:
    ddir = os.path.join(FIXTURES, "dicom")
    rows = []
    for name in sorted(os.listdir(ddir)):
        size = os.path.getsize(os.path.join(ddir, name))
        rows.append(f"('study/{name}', CAST({size} AS BIGINT))")
    return (
        "SELECT * FROM (VALUES " + ", ".join(rows) + ") AS t(member, size)"
    )


@query("s3_tar_members", oracle=_member_values_sql())
def s3_tar_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tar/gzip archive member explosion (imaging.py:1150-1174) — archive
    members become rows inside the scan tasks, no shared temp dir."""
    members = read_tar_members(spark, f"{FIXTURES}/archive/study.tar.gz")
    return members.select("member", "size")


@query("s3_s1_composed_archive_scan", oracle=_SERIES_SUMMARY_ORACLE)
def s3_s1_composed_archive_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source composition: tar member rows -> DICOM header parse -> series
    summary, all within one DataFrame DAG (the reference's extract-then-
    loop becomes scan -> flatMap -> parse -> groupBy; no temp files)."""
    members = read_tar_members(spark, f"{FIXTURES}/archive/study.tar.gz")
    hdrs = map_rows(
        members.select(F.col("member").alias("path"), F.col("content")),
        _header_rows,
        DICOM_SCHEMA,
    )
    return (
        hdrs.filter(F.col("is_dicom"))
        .groupBy(
            "study_uid",
            "series_uid",
            "series_number",
            "series_description",
            "echo_time",
            "repetition_time",
        )
        .agg(
            F.count("*").alias("n_files"),
            F.min("instance_number").alias("first_instance"),
        )
    )


@query(
    "s7_edf_channels",
    oracle="""
    SELECT * FROM (VALUES
      (0, 'EEG Fp1', 'uV', 4, 64, CAST(256 AS BIGINT),
       CAST(-2000 AS BIGINT), CAST(-215 AS BIGINT)),
      (1, 'EEG Fp2', 'uV', 4, 64, CAST(256 AS BIGINT),
       CAST(-2000 AS BIGINT), CAST(550 AS BIGINT)),
      (2, 'ECG', 'uV', 4, 64, CAST(256 AS BIGINT),
       CAST(-2000 AS BIGINT), CAST(1315 AS BIGINT)))
      AS t(channel_idx, label, phys_dim, n_records, samples_per_record,
           n_samples, dig_min, dig_max)
    """,
)
def s7_edf_channels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7: EEG raw reader — stdlib EDF parse (public fixed-width header +
    int16 records) to one row per channel with its sample array; the A7
    seriesRange (dig min/max) comes straight off the samples
    (`chunking.py:160-213` semantics). Golden oracle: the committed EDF
    fixture's independently computed channel stats."""
    from loris_mri_spark.sources.eeg import read_edf_channels

    ch = read_edf_channels(spark, f"{FIXTURES}/eeg")
    return ch.select(
        "channel_idx",
        "label",
        "phys_dim",
        "n_records",
        "samples_per_record",
        "n_samples",
        F.col("dig_min"),
        F.col("dig_max"),
    )


@query(
    "s5_minc_headers",
    oracle="""
    SELECT * FROM (VALUES
      ('sub-01_t1w.mnc', 'acquisition', 'echo_time', CAST(NULL AS VARCHAR), 0.00298),
      ('sub-01_t1w.mnc', 'acquisition', 'flip_angle', NULL, 9.0),
      ('sub-01_t1w.mnc', 'acquisition', 'repetition_time', NULL, 2.3),
      ('sub-01_t1w.mnc', 'acquisition', 'scanning_sequence', 'MPRAGE', CAST(NULL AS DOUBLE)),
      ('sub-01_t1w.mnc', 'patient', 'full_name', 'SUB001', NULL),
      ('sub-02_bold.mnc', 'acquisition', 'echo_time', NULL, 0.03),
      ('sub-02_bold.mnc', 'acquisition', 'flip_angle', NULL, 52.0),
      ('sub-02_bold.mnc', 'acquisition', 'repetition_time', NULL, 0.8),
      ('sub-02_bold.mnc', 'acquisition', 'scanning_sequence', 'EPI', NULL),
      ('sub-02_bold.mnc', 'patient', 'full_name', 'SUB002', NULL))
      AS t(file, variable, attribute, value_str, value_num)
    """,
)
def s5_minc_headers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5: MINC1 header fetch — NetCDF-classic binary parse with stdlib
    struct (no `mincheader` subprocess; MincUtilities.pm:93-129 greps the
    same variable:attribute surface out of tool stdout). One row per
    header field; here projected to the acquisition group + patient name
    the insertion pipeline consumes."""
    from loris_mri_spark.sources.minc_ecat import read_minc_headers

    hdrs = read_minc_headers(spark, f"{FIXTURES}/minc")
    return (
        hdrs.filter(F.col("is_readable"))
        .filter(
            (F.col("variable") == "acquisition")
            | ((F.col("variable") == "patient") & (F.col("attribute") == "full_name"))
        )
        .select(
            F.element_at(F.split("path", "/"), -1).alias("file"),
            "variable",
            "attribute",
            "value_str",
            "value_num",
        )
    )


@query(
    "s15b_ortho_preview",
    oracle="""
    SELECT * FROM (VALUES
      ('sub-01_T1w.nii', 'axial', 8, 8, 140, 98.9219, 31),
      ('sub-01_T1w.nii', 'coronal', 8, 4, 104, 101.875, 31),
      ('sub-01_T1w.nii', 'sagittal', 8, 4, 104, 112.0, 31),
      ('sub-01_task-rest_bold.nii', 'axial', 4, 4, 88, 193.375, 214),
      ('sub-01_task-rest_bold.nii', 'coronal', 4, 2, 78, 143.875, 214),
      ('sub-01_task-rest_bold.nii', 'sagittal', 4, 2, 78, 131.5, 214),
      ('sub-02_T1w.nii.gz', 'axial', 8, 8, 140, 98.9219, 31),
      ('sub-02_T1w.nii.gz', 'coronal', 8, 4, 104, 101.875, 31),
      ('sub-02_T1w.nii.gz', 'sagittal', 8, 4, 104, 112.0, 31))
      AS t(file, plane, width, height, n_png_bytes, mean_px_r, px_center)
    """,
)
def s15b_ortho_preview(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S15 completion: 3-plane ortho-slice preview (the reference's
    nilearn ortho pic, imaging.py:1176-1219) — central axial/coronal/
    sagittal slices of each NIfTI volume, globally min/max normalized
    with integer round-half-up, each encoded as a real stored-deflate
    PNG whose byte size is an exact function of the slice dims. Golden
    oracle derived INDEPENDENTLY from the fixture generator's payload
    formula ((i*7) mod 1024, x-fastest), not from the engine."""
    from loris_mri_spark.sinks import ortho_preview

    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.nii*")
        .option("recursiveFileLookup", "true")
        .load(f"{FIXTURES}/nifti")
        .select("path", "content")
    )
    out = ortho_preview(files)
    return out.select(
        F.element_at(F.split("path", "/"), -1).alias("file"),
        "plane",
        "width",
        "height",
        "n_png_bytes",
        "mean_px_r",
        "px_center",
    )


@query(
    "s6b_ecat_matlab_sidecar",
    oracle="""
    SELECT * FROM (VALUES
      ('sub-01_params.m', 'nb_frames', '4', 4.0),
      ('sub-01_params.m', 'frame_duration', '[300 300 300 300]',
       CAST(NULL AS DOUBLE)),
      ('sub-01_params.m', 'isotope_halflife', '1221.84', 1221.84),
      ('sub-01_params.m', 'recon_version', '''OSEM3D v1.2''', NULL),
      ('sub-01_params.m', 'scatter_correction', '1', 1.0))
      AS t(file, key, value_str, value_num)
    """,
)
def s6b_ecat_matlab_sidecar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 completion: the Matlab `.m` study-parameter sidecar shipped
    with BIC HRRT datasets, parsed with the reference's exact line rule
    (`HRRT.pm:read_matlab_file`, HRRT.pm:125-343: split on ' = ', strip
    trailing ';'/CR, skip everything else). One row per (file, key),
    scanned alongside the .v binaries. Golden oracle: byte-stable
    fixture."""
    from loris_mri_spark.sources.minc_ecat import read_ecat_sidecars

    sc = read_ecat_sidecars(spark, f"{FIXTURES}/ecat")
    return sc.select(
        F.element_at(F.split("path", "/"), -1).alias("file"),
        "key",
        "value_str",
        "value_num",
    )


@query(
    "s5b_minc2_headers",
    oracle="""
    SELECT * FROM (VALUES
      ('sub-03_t2w.mnc', 'acquisition', 'echo_time', CAST(NULL AS VARCHAR), 0.09),
      ('sub-03_t2w.mnc', 'acquisition', 'flip_angle', NULL, 120.0),
      ('sub-03_t2w.mnc', 'acquisition', 'repetition_time', NULL, 9.0),
      ('sub-03_t2w.mnc', 'acquisition', 'scanning_sequence', 'TSE', CAST(NULL AS DOUBLE)),
      ('sub-03_t2w.mnc', 'patient', 'full_name', 'SUB003', NULL),
      ('sub-03_t2w.mnc', '<dims>', 'xspace', NULL, 8.0),
      ('sub-03_t2w.mnc', '<dims>', 'yspace', NULL, 8.0),
      ('sub-03_t2w.mnc', '<dims>', 'zspace', NULL, 4.0),
      ('sub-03_t2w.mnc', 'xspace', 'step', NULL, 1.4),
      ('sub-03_t2w.mnc', 'yspace', 'step', NULL, 1.2),
      ('sub-03_t2w.mnc', 'zspace', 'step', NULL, 1.0))
      AS t(file, variable, attribute, value_str, value_num)
    """,
)
def s5b_minc2_headers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5b: MINC2 header fetch — MINC volumes since 2.0 are HDF5; the
    stdlib parser walks the v0 superblock, old-style symbol-table groups
    and inline attribute messages (the subset `mincreate` writes) to
    surface the same variable:attribute rows as the MINC1 path. The
    reference's `mincheader` handles both formats transparently
    (MincUtilities.pm:54-129); so does read_minc_headers now."""
    from loris_mri_spark.sources.minc_ecat import read_minc_headers

    hdrs = read_minc_headers(spark, f"{FIXTURES}/minc2")
    return (
        hdrs.filter(F.col("is_readable"))
        .filter(
            (F.col("variable") == "acquisition")
            | ((F.col("variable") == "patient") & (F.col("attribute") == "full_name"))
            | (F.col("variable") == "<dims>")
            | (F.col("attribute") == "step")
        )
        .select(
            F.element_at(F.split("path", "/"), -1).alias("file"),
            "variable",
            "attribute",
            "value_str",
            "value_num",
        )
    )


@query(
    "s6_ecat_headers",
    oracle="""
    SELECT * FROM (VALUES
      ('sub-01_fdg.v', 'SUB001', 'PET001', 328, CAST(1325430000 AS BIGINT),
       'C-11', 'BIC-MNI_MCGILL', 2, 2, 2.4375, 8, 8, 4),
      ('sub-02_fdg.v', 'SUB002', 'PET002', 328, CAST(1325516400 AS BIGINT),
       'C-11', 'BIC-MNI_MCGILL', 3, 3, 2.4375, 4, 4, 2))
      AS t(file, patient_name, patient_id, system_type, scan_start_time,
           isotope_name, facility_name, num_frames, n_matrices,
           plane_separation, x_dim, y_dim, z_dim)
    """,
)
def s6_ecat_headers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6: ECAT7 PET reader — 512-byte big-endian main header + directory
    chain + per-matrix subheaders, pure stdlib struct (HRRT.pm:125-343
    extracts the same fields from `lmhdr` text; determine_study_info uses
    scan_start_time/system_type/patient_name/facility_name). Joins the
    main-header row to its first matrix's subheader dims — one parse pass,
    no subprocess."""
    from loris_mri_spark.sources.minc_ecat import (
        read_ecat_headers,
        read_ecat_matrices,
    )

    heads = read_ecat_headers(spark, f"{FIXTURES}/ecat").filter(
        F.col("is_readable")
    )
    mats = (
        read_ecat_matrices(spark, f"{FIXTURES}/ecat")
        .filter(F.col("matnum") == 1)
        .select("path", "x_dim", "y_dim", "z_dim")
    )
    return heads.join(F.broadcast(mats), "path").select(
        F.element_at(F.split("path", "/"), -1).alias("file"),
        "patient_name",
        "patient_id",
        "system_type",
        "scan_start_time",
        "isotope_name",
        "facility_name",
        "num_frames",
        "n_matrices",
        "plane_separation",
        "x_dim",
        "y_dim",
        "z_dim",
    )


@query(
    "s7_eeglab_channels",
    oracle="""
    SELECT * FROM (VALUES
      (0, 'Fp1', 4, 250.0, CAST(128 AS BIGINT), 1, CAST(128 AS BIGINT)),
      (1, 'Fp2', 4, 250.0, CAST(128 AS BIGINT), 1, CAST(128 AS BIGINT)),
      (2, 'Cz',  4, 250.0, CAST(128 AS BIGINT), 1, CAST(128 AS BIGINT)),
      (3, 'ECG', 4, 250.0, CAST(128 AS BIGINT), 1, CAST(128 AS BIGINT)))
      AS t(channel_idx, label, nbchan, srate, pnts, trials, n_samples)
    """,
)
def s7_eeglab_channels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 second format: EEGLAB .set — MAT v5 container parsed with stdlib
    struct (the loader dispatch the reference routes to read_raw_eeglab,
    physio/chunking.py:29-41): EEG.nbchan/srate/pnts/trials + chanlocs
    labels, one row per channel."""
    from loris_mri_spark.sources.eeg import read_eeglab_channels

    ch = read_eeglab_channels(spark, f"{FIXTURES}/eeg")
    return ch.select(
        "channel_idx", "label", "nbchan", "srate", "pnts", "trials", "n_samples"
    )


@query(
    "s7_ctf_headers",
    oracle="""
    SELECT * FROM (VALUES
      ('sub-03_task-rest_meg.res4', 'Acq v6.0', '13/08/2012', 1200, 275,
       600.0, 2.0, 1),
      ('sub-04_task-rest_meg.res4', 'Acq v6.0', '14/08/2012', 16, 4,
       150.0, 16.0 / 150.0, 2))
      AS t(file, app_name, data_date, n_samples, n_channels, sample_rate,
           duration, n_trials)
    """,
)
def s7_ctf_headers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 third format: CTF MEG .ds/.res4 resource header — public layout
    parsed with stdlib struct (the dispatch the reference routes to
    read_raw_ctf, physio/chunking.py:29-41); n_channels/sample_rate/
    n_samples is the surface the ephys chunk pyramid is sized from."""
    from loris_mri_spark.sources.eeg import read_ctf_headers

    hdrs = read_ctf_headers(spark, f"{FIXTURES}/eeg")
    return hdrs.filter(F.col("is_readable")).select(
        F.element_at(F.split("path", "/"), -1).alias("file"),
        "app_name",
        "data_date",
        "n_samples",
        "n_channels",
        "sample_rate",
        "duration",
        "n_trials",
    )


@query(
    "s7_ctf_channels",
    oracle="""
    SELECT * FROM (VALUES
      (0, 0, 16, CAST(-50 AS BIGINT),  CAST(-35 AS BIGINT),  CAST(-680 AS BIGINT)),
      (0, 1, 16, CAST(50 AS BIGINT),   CAST(65 AS BIGINT),   CAST(920 AS BIGINT)),
      (0, 2, 16, CAST(150 AS BIGINT),  CAST(165 AS BIGINT),  CAST(2520 AS BIGINT)),
      (0, 3, 16, CAST(250 AS BIGINT),  CAST(265 AS BIGINT),  CAST(4120 AS BIGINT)),
      (1, 0, 16, CAST(950 AS BIGINT),  CAST(965 AS BIGINT),  CAST(15320 AS BIGINT)),
      (1, 1, 16, CAST(1050 AS BIGINT), CAST(1065 AS BIGINT), CAST(16920 AS BIGINT)),
      (1, 2, 16, CAST(1150 AS BIGINT), CAST(1165 AS BIGINT), CAST(18520 AS BIGINT)),
      (1, 3, 16, CAST(1250 AS BIGINT), CAST(1265 AS BIGINT), CAST(20120 AS BIGINT)))
      AS t(trial, channel_idx, n_samples, dig_min, dig_max, dig_sum)
    """,
)
def s7_ctf_channels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 third format, DATA completion: CTF .meg4 sample blocks decoded
    with dims from the sibling .res4 (the stream the reference feeds to
    ctf-to-chunks, `python/lib/physio/chunking.py:48-57`). Per-channel
    digital min/max/sum over the decoded arrays — the same surface the EDF
    reader exposes (dig_min/dig_max) and the A7 range merge consumes.
    Stats stay JVM-side (array_min/array_max/aggregate over the decoded
    array column); only the byte decode is Python."""
    from loris_mri_spark.sources.eeg import read_ctf_channels

    ch = read_ctf_channels(spark, f"{FIXTURES}/eeg")
    return ch.select(
        "trial",
        "channel_idx",
        "n_samples",
        F.array_min("samples").alias("dig_min"),
        F.array_max("samples").alias("dig_max"),
        F.aggregate(
            "samples", F.lit(0).cast("long"), lambda acc, x: acc + x
        ).alias("dig_sum"),
    )


@query(
    "o2_sort_by_series",
    oracle="""
    SELECT * FROM (VALUES
      (1, 1, 't1w_mprage'), (1, 2, 't1w_mprage'), (1, 3, 't1w_mprage'),
      (2, 1, 'rest_bold'), (2, 2, 'rest_bold'), (2, 3, 'rest_bold'))
      AS t(series_number, instance_number, series_description)
    """,
)
def o2_sort_by_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2: NIfTI-insertion ordering — scan listing sorted by
    (series_number, instance_number) (`dicom_archive_loader_pipeline.py:240`).
    The comparator hashes an ordered golden listing."""
    hdrs = scan_dicom_dir(spark, f"{FIXTURES}/dicom")
    return (
        hdrs.filter(F.col("is_dicom"))
        .orderBy("series_number", "instance_number")
        .select("series_number", "instance_number", "series_description")
    )


@query(
    "o3_sort_by_acq_time",
    oracle="""
    SELECT event_id, epoch_us(ts) AS ts_us
    FROM events ORDER BY ts, event_id LIMIT 50
    """,
)
def o3_sort_by_acq_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3: acquisition-time ordering of the scan/fmap lists
    (`imaging.py:992-1001,1057-1060`) — TakeOrderedAndProject, no global
    sort materialization."""
    from loris_mri_spark.catalog import load_table

    e = load_table(spark, sf_dir, "events")
    return (
        e.orderBy("ts_ns", "event_id")
        .limit(50)
        .select("event_id", F.expr("ts_ns div 1000").alias("ts_us"))
    )


@query(
    "s2_enhanced_tag_lookup",
    oracle="""
    SELECT * FROM (VALUES
      ('1.2.840.99999.2.1', 'enhanced_multiframe', 15.5, 1200.0))
      AS t(series_uid, series_description, echo_time, repetition_time)
    """,
)
def s2_enhanced_tag_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2: enhanced-DICOM nested tag lookup — the timing tags of the
    fixture file live ONLY inside a functional-groups SQ item; the stdlib
    parser recovers them via the shallowest-occurrence fallback
    (`summary_get.py:160-173` iterall semantics, no pydicom needed)."""
    hdrs = scan_dicom_dir(spark, f"{FIXTURES}/dicom_enhanced")
    return hdrs.filter(F.col("is_dicom")).select(
        "series_uid", "series_description", "echo_time", "repetition_time"
    )


@query("s1_headers_datasource", oracle=_SERIES_SUMMARY_ORACLE)
def s1_headers_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The S1 series collapse read through the REGISTERED Spark-4 Python
    Data Source (sources/pyds.py, format 'loris_headers') instead of the
    binaryFile + Arrow-map scan — proving the parsers are a first-class
    `spark.read.format(...)` source with path-filter pushdown (pruning
    happens at file-listing time, before any byte is read). Same golden
    oracle as s1_dicom_series_summary: the two paths agree row-for-row."""
    from loris_mri_spark.sources import pyds

    pyds.register(spark)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    hdrs = (
        spark.read.format("loris_headers")
        .option("kind", "dicom")
        .option("pushdown", "true")
        .load(f"{FIXTURES}/dicom")
        # pushed to the listing: prunes the non-DICOM member before read
        .filter(F.col("path").endswith(".dcm"))
    )
    return (
        hdrs.filter(F.col("is_dicom"))
        .groupBy(
            "study_uid",
            "series_uid",
            "series_number",
            "series_description",
            "echo_time",
            "repetition_time",
        )
        .agg(
            F.count("*").alias("n_files"),
            F.min("instance_number").alias("first_instance"),
        )
    )


@query(
    "s7_bdf_channels",
    oracle="""
    SELECT * FROM (VALUES
      (0, 'Fp1', 'uV', 2, 32, CAST(64 AS BIGINT),
       CAST(-1000000 AS BIGINT), CAST(-936937 AS BIGINT)),
      (1, 'Oz', 'uV', 2, 32, CAST(64 AS BIGINT),
       CAST(-1000000 AS BIGINT), CAST(-934606 AS BIGINT)))
      AS t(channel_idx, label, phys_dim, n_records, samples_per_record,
           n_samples, dig_min, dig_max)
    """,
)
def s7_bdf_channels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 (BDF): BioSemi 24-bit EDF variant — same scan shape as
    s7_edf_channels, samples decoded as 3-byte LE signed ints (the
    dig range deliberately exceeds int16 to prove the 24-bit path).
    Reference accepts .bdf alongside .edf (eeg/main.py:249). Golden
    oracle: byte-stable fixture."""
    from loris_mri_spark.sources.eeg import EDF_CHANNEL_SCHEMA, _edf_rows

    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bdf")
        .option("recursiveFileLookup", "true")
        .load(f"{FIXTURES}/eeg")
        .select("path", "content")
    )
    ch = map_rows(files, _edf_rows, EDF_CHANNEL_SCHEMA)
    return ch.select(
        "channel_idx", "label", "phys_dim", "n_records",
        "samples_per_record", "n_samples", "dig_min", "dig_max",
    )


@query(
    "s7_brainvision_channels",
    oracle="""
    SELECT * FROM (VALUES
      ('sub-06_task-rest_eeg.eeg', 3, 250.0, 'INT_16', 0, 'Fp1', 0.5, 'uV',
       CAST(200 AS BIGINT), CAST(-1500 AS BIGINT), CAST(689 AS BIGINT)),
      ('sub-06_task-rest_eeg.eeg', 3, 250.0, 'INT_16', 1, 'Cz', 0.5, 'uV',
       CAST(200 AS BIGINT), CAST(-1500 AS BIGINT), CAST(1492 AS BIGINT)),
      ('sub-06_task-rest_eeg.eeg', 3, 250.0, 'INT_16', 2, 'ECG', 0.5, 'uV',
       CAST(200 AS BIGINT), CAST(-1500 AS BIGINT), CAST(1482 AS BIGINT)))
      AS t(data_file, n_channels, srate_hz, binary_format, channel_idx,
           label, resolution, unit, n_samples, dig_min, dig_max)
    """,
)
def s7_brainvision_channels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 (BrainVision): .vhdr INI header + sibling multiplexed .eeg
    binary resolved next to it (the .ds-style composition), per-channel
    metadata + sample stats. Reference accepts the vhdr/vmrk/eeg triplet
    (eeg/main.py:249). Golden oracle: byte-stable fixture."""
    from loris_mri_spark.sources.eeg import read_brainvision_channels

    ch = read_brainvision_channels(spark, f"{FIXTURES}/eeg")
    return ch.select(
        "data_file", "n_channels", "srate_hz", "binary_format",
        "channel_idx", "label", "resolution", "unit", "n_samples",
        "dig_min", "dig_max",
    )


@query(
    "s7_brainvision_markers",
    oracle="""
    SELECT * FROM (VALUES
      (1, 'New Segment', '', CAST(1 AS BIGINT), CAST(1 AS BIGINT), 0),
      (2, 'Stimulus', 'S  1', CAST(50 AS BIGINT), CAST(1 AS BIGINT), 0),
      (3, 'Response', 'R  8', CAST(100 AS BIGINT), CAST(1 AS BIGINT), 2))
      AS t(marker_idx, mk_type, description, position, size, channel)
    """,
)
def s7_brainvision_markers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 (BrainVision markers): .vmrk Mk<N>=type,desc,position,size,
    channel rows — the event stream the BIDS events importer consumes."""
    from loris_mri_spark.sources.eeg import read_brainvision_markers

    mk = read_brainvision_markers(spark, f"{FIXTURES}/eeg")
    return mk.select(
        "marker_idx", "mk_type", "description", "position", "size", "channel"
    )


@query(
    "s7_edf_annotations",
    oracle="""
    SELECT * FROM (VALUES
      (0.5, 0.2, 'Stimulus A'),
      (1.25, 0.0, 'Response'),
      (2.5, 1.0, 'Artifact chew'))
      AS t(onset_s, duration_s, text)
    """,
)
def s7_edf_annotations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 (EDF+ TALs): the annotations channel parsed to (onset, duration,
    text) event rows — the stream the reference's BIDS importer writes to
    *_events.tsv; record-keeping TALs are skipped. Golden oracle:
    byte-stable EDF+C fixture."""
    from loris_mri_spark.sources.eeg import read_edf_annotations

    ann = read_edf_annotations(spark, f"{FIXTURES}/eeg_plus")
    return ann.select("onset_s", "duration_s", "text")


@query(
    "s1_dicom_transfer_syntaxes",
    oracle="""
    SELECT * FROM (VALUES
      ('MR.x.1.dcm', 'bigendian', 'MR', 'SUB008', 't1w_be',
       '1.2.840.99999.4', '1.2.840.99999.4.1', 1, 1, 12.5, 2500.0),
      ('MR.x.2.dcm', 'bigendian', 'MR', 'SUB008', 't1w_be',
       '1.2.840.99999.4', '1.2.840.99999.4.1', 1, 2, 12.5, 2500.0),
      ('MR.x.1.dcm', 'deflated', 'MR', 'SUB009', 't1w_deflated',
       '1.2.840.99999.5', '1.2.840.99999.5.1', 1, 1, 12.5, 2500.0),
      ('MR.x.2.dcm', 'deflated', 'MR', 'SUB009', 't1w_deflated',
       '1.2.840.99999.5', '1.2.840.99999.5.1', 1, 2, 12.5, 2500.0))
      AS t(file, syntax, modality, patient_name, series_description,
           study_uid, series_uid, series_number, instance_number,
           echo_time, repetition_time)
    """,
)
def s1_dicom_transfer_syntaxes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 transfer-syntax matrix beyond the LE defaults: explicit-VR
    BIG-endian (1.2.840.10008.1.2.2, retired but present in archives —
    same walker, '>' byte order) and DEFLATED explicit-VR LE
    (1.2.840.10008.1.2.1.99 — bounded raw-inflate, decompression-bomb
    guarded, then the explicit walker). The reference reads all syntaxes
    via pydicom (summary_get.py:21-63); the stdlib path now covers the
    four non-encapsulated ones. Golden oracle: byte-stable fixtures."""
    be = scan_dicom_dir(spark, f"{FIXTURES}/dicom_be").withColumn(
        "syntax", F.lit("bigendian")
    )
    df = scan_dicom_dir(spark, f"{FIXTURES}/dicom_deflate").withColumn(
        "syntax", F.lit("deflated")
    )
    out = be.unionByName(df)
    return out.filter(F.col("is_dicom")).select(
        F.regexp_extract("path", r"([^/]+)$", 1).alias("file"),
        "syntax", "modality", "patient_name", "series_description",
        "study_uid", "series_uid", "series_number", "instance_number",
        "echo_time", "repetition_time",
    )


def _encap_oracle() -> str:
    """Golden oracle recomputed at import time from the fixture SPEC
    (the deterministic fragment formula in tests/fixtures/generate.py),
    NOT from the parser — a parser regression breaks parity."""
    import hashlib

    rows = []
    for inst in (1, 2):
        frags = []
        for k in range(2):
            filler = bytes(
                (i * 31 + 7 * k + inst) % 251 for i in range(40 + 8 * k)
            )
            frags.append(b"\xff\x4f\xff\x51" + filler)
        bot = [0, 8 + len(frags[0])]
        for k, fr in enumerate(frags):
            rows.append(
                f"('MR.j2k.{inst}.dcm', '1.2.840.10008.1.2.4.90', 2, {k}, "
                f"CAST({bot[k]} AS BIGINT), CAST({len(fr)} AS BIGINT), "
                f"'{hashlib.md5(fr).hexdigest()}')"
            )
    return (
        "SELECT * FROM (VALUES " + ", ".join(rows)
        + ") AS t(file, transfer_syntax, n_fragments, frag_index, "
        + "bot_offset, frag_size, frag_md5)"
    )


@query("s1_dicom_encapsulated_frames", oracle=_encap_oracle())
def s1_dicom_encapsulated_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1/multimodal: encapsulated-pixel-data CONTAINER access (PS3.5
    A.4) — Basic Offset Table + per-fragment boundaries and hashes from
    the undefined-length (7FE0,0010) item stream, the frame-access shape
    of mm_frame_sample applied to compressed DICOM. Decoding the JPEG
    2000 codestream is the documented codec seam (operators/media.py);
    the container math is real and golden-checked."""
    from loris_mri_spark.sources.dicom import parse_encapsulated_frames

    files = (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", "true")
        .load(f"{FIXTURES}/dicom_encap")
        .select("path", "content")
    )

    schema = (
        "file string, transfer_syntax string, n_fragments int, "
        "frag_index int, bot_offset long, frag_size long, frag_md5 string"
    )

    def fragments(path, content):
        r = parse_encapsulated_frames(content)
        if r is None:
            return
        for k, (_off, ln, data) in enumerate(r["fragments"]):
            yield {
                "file": os.path.basename(path),
                "transfer_syntax": r["transfer_syntax"],
                "n_fragments": len(r["fragments"]),
                "frag_index": k,
                "bot_offset": r["bot_offsets"][k]
                if k < len(r["bot_offsets"])
                else None,
                "frag_size": ln,
                "frag_md5": hashlib.md5(data).hexdigest(),
            }

    return map_rows(files, fragments, schema)


def _rle_oracle() -> str:
    """Golden recomputed from the PIXEL SPEC (tests/fixtures/generate.py
    rle_frame_pixels formula) — independent of both the fixture's PackBits
    ENCODER and the engine's DECODER, so a bug in either breaks parity."""
    import hashlib

    rows_, cols_ = 8, 16
    out = []
    for inst in (1, 2):
        for f in range(2):
            px = bytearray()
            for r in range(rows_):
                for c in range(cols_):
                    if r % 2 == 0:
                        px.append((r * 17 + inst + 3 * f) % 251)
                    else:
                        px.append((r * 31 + c * 7 + inst + 3 * f) % 251)
            out.append(
                f"('MR.rle.{inst}.dcm', {f}, {rows_}, {cols_}, "
                f"CAST({len(px)} AS BIGINT), "
                f"CAST({sum(px)} AS BIGINT), "
                f"'{hashlib.md5(bytes(px)).hexdigest()}')"
            )
    return (
        "SELECT * FROM (VALUES " + ", ".join(out)
        + ") AS t(file, frame_index, rows, cols, n_px, px_sum, px_md5)"
    )


@query("s1_dicom_rle_decode", oracle=_rle_oracle())
def s1_dicom_rle_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1/multimodal: NATIVE decode of the RLE transfer syntax
    (1.2.840.10008.1.2.5): per-frame fragment -> 64-byte segment header ->
    PackBits planes -> pixel values, with rows/cols/bits read from the US
    tags. Unlike the JPEG family (codec seam), RLE is a public trivial
    algorithm, so compressed pixels decode with stdlib only. Oracle:
    golden recomputed from the raw pixel spec — independent of encoder
    AND decoder."""
    from loris_mri_spark.sources.dicom import (
        decode_rle_frame,
        parse_encapsulated_frames,
    )

    files = (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", "true")
        .load(f"{FIXTURES}/dicom_rle")
        .select("path", "content")
    )
    schema = (
        "file string, frame_index int, rows int, cols int, "
        "n_px long, px_sum long, px_md5 string"
    )

    def frames(path, content):
        r = parse_encapsulated_frames(content)
        if r is None or r["transfer_syntax"] != "1.2.840.10008.1.2.5":
            return
        n_expected = (r.get("rows") or 0) * (r.get("cols") or 0)
        for f, (_o, _n, data) in enumerate(r["fragments"]):
            px = decode_rle_frame(data)
            if px is None:
                continue
            px = px[:n_expected] if n_expected else px
            yield {
                "file": os.path.basename(path),
                "frame_index": f,
                "rows": r.get("rows"),
                "cols": r.get("cols"),
                "n_px": len(px),
                "px_sum": sum(px),
                "px_md5": hashlib.md5(bytes(v & 0xFF for v in px)).hexdigest(),
            }

    return map_rows(files, frames, schema)


def _jpeg_frames_oracle() -> str:
    """Golden recomputed from the BLOCK-VALUE SPEC (tests/fixtures/
    generate.py jpeg_block_values: frame f of instance inst is a 2x2 grid
    of flat 8x8 blocks seeded inst + 5 * f) — independent of the fixture's
    JPEG ENCODER, the container WRITER, and the engine's container walk +
    T.81 DECODER, so a bug anywhere in the pipeline breaks parity."""
    import hashlib

    bw, bh = 2, 2
    rows = []
    for inst in (1, 2):
        for f in range(2):
            seed = inst + 5 * f
            vals = [(17 * (by * bw + bx) + 29 * seed) % 256
                    for by in range(bh) for bx in range(bw)]
            img = bytearray()
            for py in range(bh * 8):
                for px_ in range(bw * 8):
                    img.append(vals[(py // 8) * bw + px_ // 8])
            rows.append(
                f"('MR.jpg.{inst}.dcm', {f}, {bh * 8}, {bw * 8}, "
                f"CAST({sum(img)} AS BIGINT), "
                f"'{hashlib.md5(bytes(img)).hexdigest()}')"
            )
    return (
        "SELECT * FROM (VALUES " + ", ".join(rows)
        + ") AS t(file, frame_index, rows, cols, px_sum, px_md5)"
    )


@query("s1_dicom_jpeg_frames", oracle=_jpeg_frames_oracle())
def s1_dicom_jpeg_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1/multimodal: NATIVE decode of encapsulated baseline-JPEG pixel
    data (transfer syntax 1.2.840.10008.1.2.4.50) — the PS3.5 A.4
    container walk (parse_encapsulated_frames: BOT + fragment items)
    composed with the grayscale T.81 baseline decoder
    (operators/media.decode_jpeg_baseline), one fragment per frame. The
    reference hands every compressed syntax to pydicom+GDCM
    (dicom-archive/dicomSummary/summary_get.py:21-63); in-engine the
    JPEG-family seam now closes one notch: baseline 8-bit decodes
    natively, progressive/12-bit/JPEG-2000 remain the documented codec
    seam. Decoded rows/cols are cross-checked against the (0028,0010/11)
    US tags; a fragment that fails to decode classifies (skips), never
    kills the scan. Oracle: golden from the block-value spec."""
    from loris_mri_spark.operators.media import decode_jpeg_baseline
    from loris_mri_spark.sources.dicom import parse_encapsulated_frames

    files = (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", "true")
        .load(f"{FIXTURES}/dicom_jpeg")
        .select("path", "content")
    )
    schema = (
        "file string, frame_index int, rows int, cols int, "
        "px_sum long, px_md5 string"
    )

    def frames(path, content):
        r = parse_encapsulated_frames(content)
        if r is None or r["transfer_syntax"] != "1.2.840.10008.1.2.4.50":
            return
        for f, (_o, _n, data) in enumerate(r["fragments"]):
            img = decode_jpeg_baseline(data)
            if img is None:
                continue
            if r.get("rows") and img.shape[0] != r["rows"]:
                continue  # tag/codestream mismatch: classify out
            if r.get("cols") and img.shape[1] != r["cols"]:
                continue
            yield {
                "file": os.path.basename(path),
                "frame_index": f,
                "rows": img.shape[0],
                "cols": img.shape[1],
                "px_sum": int(img.astype("int64").sum()),
                "px_md5": hashlib.md5(img.tobytes()).hexdigest(),
            }

    return map_rows(files, frames, schema)


@query("x3b_udtf_tar_members", oracle=_member_values_sql())
def x3b_udtf_tar_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 through the Spark-4 Python UDTF surface: the row->rows
    converter registered as a real table-valued function and invoked in
    SQL with LATERAL — one archive row fans out to member rows inside
    the join, the declarative form of the dcm2niix 1->n converter
    (dicom_archive_loader_pipeline.py:146-180). Same member contract
    (and golden oracle) as s3_tar_members, which runs the converter as
    a binaryFile scan; here the archive list is a TABLE, so a million-
    archive catalog parallelizes across tasks by row, not by file
    listing."""
    import tarfile

    from pyspark.sql.functions import udtf

    @udtf(returnType="member string, size bigint", useArrow=True)
    class TarMembers:
        def eval(self, path: str):
            try:
                with tarfile.open(path, "r:*") as tf:
                    for m in tf.getmembers():
                        if m.isfile():
                            yield (m.name, m.size)
            except (tarfile.TarError, OSError):
                return  # classify, don't fail: unreadable archive -> 0 rows

    spark.udtf.register("loris_tar_members", TarMembers)
    paths = spark.createDataFrame(
        [(f"{FIXTURES}/archive/study.tar.gz",)], ["path"]
    )
    paths.createOrReplaceTempView("x3b_archives")
    return spark.sql(
        "SELECT t.member, t.size "
        "FROM x3b_archives a, LATERAL loris_tar_members(a.path) t"
    )


_DTIPREP_GLOB = f"{FIXTURES}/dtiprep"

_PROTOCOL_ORACLE = """
    SELECT * FROM (VALUES
      ('QC_QCOutputDirectory', 'QC_QCOutputDirectory', 0,
       CAST(NULL AS INTEGER), CAST(NULL AS VARCHAR)),
      ('QC_QCedDWIFileNameSuffix', 'QC_QCedDWIFileNameSuffix', 0, 0,
       '_QCed.nrrd'),
      ('QC_reportFileNameSuffix', 'QC_reportFileNameSuffix', 0, 0,
       '_QCReport.txt'),
      ('QC_badGradientPercentageTolerance',
       'QC_badGradientPercentageTolerance', 0, 0, '0.2'),
      ('IMAGE_bCheck', 'IMAGE_bCheck', 0, 0, 'Yes'),
      ('IMAGE_bCheck/IMAGE_size', 'IMAGE_size', 1, 0, '96'),
      ('IMAGE_bCheck/IMAGE_size', 'IMAGE_size', 1, 1, '96'),
      ('IMAGE_bCheck/IMAGE_size', 'IMAGE_size', 1, 2, '65'),
      ('IMAGE_bCheck/IMAGE_reportFileMode', 'IMAGE_reportFileMode', 1, 0,
       '1'),
      ('DIFFUSION_bCheck', 'DIFFUSION_bCheck', 0, 0, 'Yes'),
      ('DTI_bCompute', 'DTI_bCompute', 0, 0, 'Yes'))
      AS t(entry_path, parameter, depth, value_index, value)
"""


@query("s18_dtiprep_protocol", oracle=_PROTOCOL_ORACLE)
def s18_dtiprep_protocol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S18: DTIPrep protocol XML -> EAV parameter rows (DTI.pm:282-291
    readDTIPrepXMLprot; nested entries keep their path, repeated <value>
    children keep index order — the ForceArray semantics). Golden
    oracle: the fixture protocol is byte-stable."""
    from loris_mri_spark.sources.dtiprep import read_dtiprep_xml

    rows = read_dtiprep_xml(spark, _DTIPREP_GLOB)
    return rows.filter(
        F.col("path").endswith("DTIPrepProtocol.xml") & F.col("parse_ok")
    ).select("entry_path", "parameter", "depth", "value_index", "value")


_QC_GRADIENTS_ORACLE = """
    SELECT * FROM (VALUES
      ('sub-01', CAST(12 AS BIGINT), CAST(1 AS BIGINT), CAST(2 AS BIGINT),
       CAST(0 AS BIGINT), CAST(3 AS BIGINT), CAST(9 AS BIGINT)),
      ('sub-02', CAST(10 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
       CAST(1 AS BIGINT), CAST(1 AS BIGINT), CAST(9 AS BIGINT)))
      AS t(subject, total_grads, slice_excl, grads_excl, lace_excl,
           tot_excl, included)
"""


@query("s18b_dtiprep_qc_gradients", oracle=_QC_GRADIENTS_ORACLE)
def s18b_dtiprep_qc_gradients(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S18 + A6: getRejectedDirections (DTI.pm:1134-1214) — per QC
    report, count gradients excluded for slice-wise / inter-gradient /
    inter-lace artifacts from the "DWI Check" gradient entries'
    <processing> status. One conditional-count aggregation over the EAV
    scan; the malformed fixture (broken.xml) rides through the same scan
    as a parse_ok=false row and is filtered, not raised. Golden oracle."""
    from loris_mri_spark.sources.dtiprep import read_dtiprep_xml

    rows = read_dtiprep_xml(spark, _DTIPREP_GLOB)
    # match the gradient ENTRIES themselves, not their nested sub-entries /
    # multi-<value> children (real DTIPrep reports nest <entry> and <value>
    # under each gradient; DTI.pm counts once per gradient_NNNN key), and
    # count each gradient once even when it carries several <value> rows
    grads = rows.filter(
        F.col("parse_ok")
        & F.col("entry_path").rlike(r"^DWI Check/gradient_\d+$")
        & (F.col("value_index").isNull() | (F.col("value_index") == 0))
    )

    def n_status(pat: str) -> F.Column:
        return F.count_if(F.upper("processing").contains(pat))

    return (
        grads.withColumn(
            "subject", F.regexp_extract("path", r"(sub-\d+)", 1)
        )
        .groupBy("subject")
        .agg(
            F.count("*").alias("total_grads"),
            n_status("EXCLUDE_SLICECHECK").alias("slice_excl"),
            n_status("EXCLUDE_GRADIENTCHECK").alias("grads_excl"),
            n_status("EXCLUDE_INTERLACECHECK").alias("lace_excl"),
            n_status("EXCLUDE_").alias("tot_excl"),
            n_status("INCLUDE").alias("included"),
        )
    )


# -- S19: merged-series split specfile (tools/splitMergedSeries.pl) --------
#
# The oracle deliberately replays the reference's SEQUENTIAL walk
# (split_on_slicepos_breaks, splitMergedSeries.pl:355-407) as a recursive
# CTE carrying (dir, slicethick, group) row by row, while the Spark side
# uses operators/series_split.py's closed-form window reduction — the
# hash-match proves the algebraic reduction against an independent
# implementation of the original loop.  Input shaping: events rows become
# slice metadata; slice positions are 8-slice monotone ramps (sub-
# acquisition resets -> magnitude breaks) and, for study_uid % 5 == 0,
# triangle waves (pure direction-flip breaks at the crest — the toggle
# path), with a small deterministic jitter from `value` so deltas are
# never bit-identical. All doubles are built with the same literal ops on
# both sides, so values hash bit-equal.

_S19_BRK = """(
      ABS(r.slice_pos - w.pos) < 1e-5
      OR COALESCE(ABS(r.slice_pos - w.pos) < 0.1 * COALESCE(w.thick,
           CASE WHEN r.slice_pos - w.pos <> 0
                THEN ABS(r.slice_pos - w.pos) END), FALSE)
      OR COALESCE(ABS(r.slice_pos - w.pos) > 1.5 * COALESCE(w.thick,
           CASE WHEN r.slice_pos - w.pos <> 0
                THEN ABS(r.slice_pos - w.pos) END), FALSE)
      OR (COALESCE(w.dir, 0) > 0 AND r.slice_pos - w.pos < 0)
      OR (COALESCE(w.dir, 0) < 0 AND r.slice_pos - w.pos > 0))"""

_S19_CTES = f"""
    WITH RECURSIVE base AS (
      SELECT user_id AS study_uid,
             event_id % 4 + 1 AS series_num,
             25.0 + (event_id % 3) * 12.5 AS te,
             event_id AS image_num,
             value,
             user_id % 2 = 0 AS echo_undef,
             CASE WHEN user_id % 3 = 0 THEN 2.5 END AS hdr_thick,
             'seq' || (event_id % 4 + 1) AS seq_name
      FROM events WHERE user_id < 300),
    pos_ AS (
      SELECT study_uid, series_num, te, image_num, idx, echo_undef,
             hdr_thick, seq_name,
             (CASE WHEN study_uid % 5 = 0
                   THEN (CASE WHEN idx % 16 < 8 THEN idx % 16
                              ELSE 16 - (idx % 16) END)
                   ELSE idx % 8 END) * 2.5
             + (value - FLOOR(value)) * 0.01 AS slice_pos
      FROM (SELECT *, ROW_NUMBER() OVER (
              PARTITION BY study_uid, series_num, te
              ORDER BY image_num) AS idx FROM base)),
    walk AS (
      SELECT study_uid, series_num, te, idx, image_num,
             slice_pos AS pos, CAST(NULL AS INTEGER) AS dir,
             hdr_thick AS thick, 0 AS grp
      FROM pos_ WHERE idx = 1
      UNION ALL
      SELECT study_uid, series_num, te, idx, image_num, pos,
             CASE WHEN brk THEN NULL ELSE dir2 END AS dir,
             thick2 AS thick,
             grp + CASE WHEN brk THEN 1 ELSE 0 END AS grp
      FROM (
        SELECT r.study_uid, r.series_num, r.te, r.idx, r.image_num,
               r.slice_pos AS pos, w.grp,
               COALESCE(w.dir,
                 CASE WHEN r.slice_pos - w.pos > 0 THEN 1
                      WHEN r.slice_pos - w.pos < 0 THEN -1 END) AS dir2,
               COALESCE(w.thick,
                 CASE WHEN r.slice_pos - w.pos <> 0
                      THEN ABS(r.slice_pos - w.pos) END) AS thick2,
               {_S19_BRK} AS brk
        FROM walk w
        JOIN pos_ r
          ON r.study_uid = w.study_uid AND r.series_num = w.series_num
         AND r.te = w.te AND r.idx = w.idx + 1)),
    seg AS (
      SELECT w.study_uid, w.series_num, w.te, w.image_num, w.grp,
             p.echo_undef, p.seq_name,
             DENSE_RANK() OVER (PARTITION BY w.study_uid, w.series_num
                                ORDER BY w.te) AS echoctr
      FROM walk w
      JOIN pos_ p ON p.study_uid = w.study_uid
                 AND p.series_num = w.series_num
                 AND p.te = w.te AND p.idx = w.idx),
    nte AS (
      SELECT study_uid, series_num, COUNT(DISTINCT te) AS n_te
      FROM base GROUP BY study_uid, series_num)
    """

_S19_ORACLE = _S19_CTES + """
    SELECT study_uid, series_num, te, CAST(NULL AS BIGINT) AS image_num,
           'EchoNumber' AS target_field, CAST(echoctr AS VARCHAR) AS new_value
    FROM (SELECT DISTINCT s.study_uid, s.series_num, s.te, s.echoctr
          FROM seg s JOIN nte n ON n.study_uid = s.study_uid
                               AND n.series_num = s.series_num
          WHERE n.n_te > 1 AND s.echo_undef)
    UNION ALL
    SELECT study_uid, series_num, CAST(NULL AS DOUBLE) AS te, image_num,
           'EchoNumber' AS target_field,
           CAST(100 * grp + echoctr AS VARCHAR) AS new_value
    FROM seg
    """


@query("s19_split_merged_series", oracle=_S19_ORACLE)
def s19_split_merged_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S19: merged-series split specfile (tools/splitMergedSeries.pl).

    Detects multi-echo series with unset EchoNumbers and merged repeat
    sub-acquisitions (slice-position walk breaks on zero/small/large
    steps and direction reversals, :386-400), then emits the
    updateHeadersBatch.pl spec rows: per-TE EchoNumber backfill and
    per-image EchoNumber-mode sub-series renumbering (100 * sub + echo,
    :465-470).  The sequential per-series state machine is reduced to
    pure window functions (operators/series_split.py — one hash exchange
    on (study, series), every window reuses it); the oracle replays the
    reference loop verbatim as a recursive CTE, so the closed form is
    verified against an independent sequential implementation."""
    from loris_mri_spark.operators.series_split import (
        slice_break_segments,
        split_spec_rows,
    )

    seg = slice_break_segments(_s19_shaped_slices(spark, sf_dir))
    return split_spec_rows(seg, mode="EchoNumber")


def _s19_shaped_slices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared S19/S19b input shaping: events rows as DICOM slice
    metadata (see the _S19_ORACLE `base`/`pos_` CTEs, mirrored exactly)."""
    from loris_mri_spark.catalog import load_table
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 300)
    base = e.select(
        F.col("user_id").alias("study_uid"),
        (F.col("event_id") % 4 + 1).alias("series_num"),
        (F.lit(25.0) + (F.col("event_id") % 3) * 12.5).alias("te"),
        F.col("event_id").alias("image_num"),
        "value",
        (F.col("user_id") % 2 == 0).alias("echo_undef"),
        F.when(F.col("user_id") % 3 == 0, 2.5).alias("hdr_thick"),
        F.concat(F.lit("seq"), F.col("event_id") % 4 + 1).alias("seq_name"),
    )
    # ONE exchange for every window downstream: hash by (study, series)
    # satisfies both the (study, series, te) segment windows and the
    # (study, series) echo-rank window (prefix clustering).
    base = base.repartition("study_uid", "series_num")
    idx = F.row_number().over(
        Window.partitionBy("study_uid", "series_num", "te").orderBy(
            "image_num"
        )
    )
    return base.withColumn("_i", idx).withColumn(
        "slice_pos",
        F.when(
            F.col("study_uid") % 5 == 0,
            F.when(F.col("_i") % 16 < 8, F.col("_i") % 16).otherwise(
                16 - (F.col("_i") % 16)
            ),
        ).otherwise(F.col("_i") % 8)
        * 2.5
        + (F.col("value") - F.floor("value")) * 0.01,
    ).drop("_i", "value")


_S19B_ORACLE = _S19_CTES + """
    , backfill AS (
      SELECT DISTINCT s.study_uid, s.series_num, s.te,
             CAST(s.echoctr AS VARCHAR) AS new_value
      FROM seg s JOIN nte n ON n.study_uid = s.study_uid
                           AND n.series_num = s.series_num
      WHERE n.n_te > 1 AND s.echo_undef)
    SELECT s.study_uid, s.series_num, s.image_num,
           COALESCE(b.new_value,
                    CASE WHEN s.echo_undef THEN 'UNDEF'
                         ELSE CAST(s.echoctr AS VARCHAR) END) AS echo_number,
           CASE WHEN s.grp > 0 THEN s.seq_name || '_' || chr(96 + s.grp)
                ELSE s.seq_name END AS sequence_name
    FROM seg s
    LEFT JOIN backfill b ON b.study_uid = s.study_uid
                        AND b.series_num = s.series_num AND b.te = s.te
    """


@query("s19b_apply_header_spec", oracle=_S19B_ORACLE)
def s19b_apply_header_spec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S19 ∘ updateHeadersBatch.pl: apply the generated specfile back onto
    the header table — the second half of the splitMergedSeries flow.

    The reference re-walks the extracted archive, builds a keyhash per
    file from the spec's key columns, and rewrites matched headers
    (updateHeadersBatch.pl:174-205, update_file_headers :288-312). Its
    parse_specfile takes the key TAG LIST from the FIRST spec line only
    (:230-260 `$madeKeyList`), so when a specfile mixes EchoTime-keyed
    echo-backfill lines with ImageNumber-keyed sub-series lines — which
    splitMergedSeries.pl emits routinely — one family's keys are hashed
    against the other family's tag values and silently never match. The
    engine applies each row family on its own key columns (backfill on
    (study, series, EchoTime); per-image renames on (study, series,
    ImageNumber)) — the documented intent, deterministically.

    Spark shape: the spec rows come from split_spec_rows (SequenceName
    mode: sub-series renames + EchoNumber backfill), then two left joins
    back onto the headers, all hash-partitioned on the same (study,
    series) prefix as the segmentation windows. Output: the post-update
    header state per image."""
    from pyspark.sql import Window

    from loris_mri_spark.operators.series_split import (
        slice_break_segments,
        split_spec_rows,
    )

    shaped = _s19_shaped_slices(spark, sf_dir)
    seg = slice_break_segments(shaped)
    spec = split_spec_rows(seg, mode="SequenceName")

    backfill = spec.filter(F.col("image_num").isNull()).select(
        "study_uid", "series_num", "te",
        F.col("new_value").alias("_echo_new"),
    )
    renames = spec.filter(F.col("image_num").isNotNull()).select(
        "study_uid", "series_num", "image_num",
        F.col("new_value").alias("_seq_new"),
    )
    old_echo = F.when(F.col("echo_undef"), "UNDEF").otherwise(
        F.dense_rank()
        .over(
            Window.partitionBy("study_uid", "series_num").orderBy("te")
        )
        .cast("string")
    )
    headers = seg.withColumn("_echo_old", old_echo)
    return (
        headers.join(backfill, ["study_uid", "series_num", "te"], "left")
        .join(renames, ["study_uid", "series_num", "image_num"], "left")
        .select(
            "study_uid",
            "series_num",
            "image_num",
            F.coalesce("_echo_new", "_echo_old").alias("echo_number"),
            F.coalesce("_seq_new", "seq_name").alias("sequence_name"),
        )
    )


_S4B_ORACLE = """
    SELECT * FROM (VALUES
      ('sub-01_T1w.nii', 8, 8, 4, CAST(116864 AS BIGINT),
       CAST(410752 AS BIGINT), CAST(430528 AS BIGINT),
       CAST(197312 AS BIGINT),
       CAST(410752 AS DOUBLE) / 116864,
       CAST(430528 AS DOUBLE) / 116864,
       CAST(197312 AS DOUBLE) / 116864,
       (1022 - 0) * 0.2 + 0),
      ('sub-01_task-rest_bold.nii', 4, 4, 2, CAST(3472 AS BIGINT),
       CAST(5488 AS BIGINT), CAST(6328 AS BIGINT), CAST(2632 AS BIGINT),
       CAST(5488 AS DOUBLE) / 3472,
       CAST(6328 AS DOUBLE) / 3472,
       CAST(2632 AS DOUBLE) / 3472,
       (1022 - 0) * 0.2 + 0),
      ('sub-02_T1w.nii.gz', 8, 8, 4, CAST(116864 AS BIGINT),
       CAST(410752 AS BIGINT), CAST(430528 AS BIGINT),
       CAST(197312 AS BIGINT),
       CAST(410752 AS DOUBLE) / 116864,
       CAST(430528 AS DOUBLE) / 116864,
       CAST(197312 AS DOUBLE) / 116864,
       (1022 - 0) * 0.2 + 0))
      AS t(file, nx, ny, nz, frame_sum, cog_num_x, cog_num_y, cog_num_z,
           cog_x, cog_y, cog_z, thr20)
    """


@query("s4b_nifti_cog_threshold", oracle=_S4B_ORACLE)
def s4b_nifti_cog_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 voxel extension: native center-of-gravity + percent threshold —
    the two MNI::MincUtilities computations the engine runs in-process
    where the reference spawns per-file binaries.

    - COG (`MincUtilities.pm:584-601` shells to ``volume_cog``): exact
      int64 per-axis index-weighted sums over the first 3-D frame
      (sources/nifti.py:nifti_volume_cog); the golden oracle states the
      ratios as the SAME integer division, so doubles hash bit-equal.
    - percent_threshold (`MincUtilities.pm:329-334`, the one pure-Perl
      computation in that module): ``(vmax - vmin) * percent + vmin`` at
      20% over the exact voxel min/max from the S4 stats scan.

    ``auto_threshold``'s ``volume_stats -biModalT`` stays behind the S16
    external-binary seam — it is a genuinely external estimator, not a
    reproducible moment. Golden oracle: the fixtures are byte-stable."""
    from loris_mri_spark.sources.nifti import (
        read_nifti_cog,
        read_nifti_voxel_stats,
    )

    glob = f"{FIXTURES}/nifti"
    cog = read_nifti_cog(spark, glob).filter(F.col("is_nifti"))
    stats = read_nifti_voxel_stats(spark, glob).filter(
        F.col("is_nifti")
    ).select("path", "vmin", "vmax")
    return cog.join(stats, "path").select(
        F.element_at(F.split("path", "/"), -1).alias("file"),
        "nx",
        "ny",
        "nz",
        "frame_sum",
        "cog_num_x",
        "cog_num_y",
        "cog_num_z",
        "cog_x",
        "cog_y",
        "cog_z",
        ((F.col("vmax") - F.col("vmin")) * 0.2 + F.col("vmin")).alias(
            "thr20"
        ),
    )


_S19C_ORACLE = _S19_CTES + """
    , need AS (
      SELECT DISTINCT study_uid, series_num, grp AS sub_series
      FROM seg WHERE grp > 0),
    smax AS (
      SELECT study_uid, MAX(series_num) AS smax
      FROM base GROUP BY study_uid)
    SELECT n.study_uid, n.series_num, CAST(n.sub_series AS INT) AS sub_series,
           CAST(s.smax + DENSE_RANK() OVER (
             PARTITION BY n.study_uid
             ORDER BY n.series_num, n.sub_series) AS BIGINT)
             AS new_series_num
    FROM need n JOIN smax s ON s.study_uid = n.study_uid
    """


@query("s19c_mint_sub_series_numbers", oracle=_S19C_ORACLE)
def s19c_mint_sub_series_numbers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """S19 SeriesNumber-mode minting (splitMergedSeries.pl:444-451) as a
    driver-checked query. The reference's ``$value++ while taken`` scan
    in Perl hash order is nondeterministic in the reference itself; the
    engine's refinement assigns ``per-study max(series) + dense_rank``
    over (series, sub_series) within the study — unique, reproducible,
    and partitioned by study (DICOM SeriesNumber uniqueness is scoped to
    a StudyInstanceUID), so the shape holds at any inventory size."""
    from loris_mri_spark.operators.series_split import (
        mint_sub_series_numbers,
        slice_break_segments,
    )

    seg = slice_break_segments(_s19_shaped_slices(spark, sf_dir))
    return mint_sub_series_numbers(seg)


# -- DWI bval/bvec sidecar minting (tools/create_nifti_bval_bvec.pl) -------

_DWI_BVAL_BVEC_ORACLE = """
    WITH per AS (
      SELECT user_id AS file_id, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY user_id
    ), wide AS (
      SELECT file_id,
        CASE WHEN file_id % 11 = 0 THEN ''
             ELSE '0.,' || CAST(n AS VARCHAR) || '., 1000.' END AS bvals,
        CASE WHEN file_id % 7 = 0 THEN '0'
             ELSE '"' || CAST(n AS VARCHAR) || '.,0.25,0.5"' END AS dx,
        '"' || CAST(n + 1 AS VARCHAR) || '.,-0.5,0.75"' AS dy,
        CASE WHEN file_id % 5 = 0 THEN NULL
             ELSE '"0.,' || CAST(n + 2 AS VARCHAR) || ',1"' END AS dz
      FROM per
    ), cleaned AS (
      SELECT file_id,
        regexp_replace(regexp_replace(bvals, '\\.,', '', 'g'), '\\.$', '')
          AS bval_content,
        CASE WHEN (dx IS NOT NULL AND dx <> '' AND dx <> '0')
              AND (dy IS NOT NULL AND dy <> '' AND dy <> '0')
              AND (dz IS NOT NULL AND dz <> '' AND dz <> '0')
        THEN regexp_replace(regexp_replace(dx, '^"+|"$', '', 'g'),
                            '\\.,|,', '', 'g') || chr(10)
          || regexp_replace(regexp_replace(dy, '^"+|"$', '', 'g'),
                            '\\.,|,', '', 'g') || chr(10)
          || regexp_replace(regexp_replace(dz, '^"+|"$', '', 'g'),
                            '\\.,|,', '', 'g') || chr(10)
        END AS bvec_content,
        bvals
      FROM wide
    )
    SELECT file_id, bval_content, bvec_content
    FROM cleaned
    WHERE bvals IS NOT NULL AND bvals <> '' AND bvals <> '0'
"""


@query("dwi_bval_bvec", oracle=_DWI_BVAL_BVEC_ORACLE)
def dwi_bval_bvec_sidecars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DWI ``.bval``/``.bvec`` sidecar content minted from the EAV
    parameter table — `tools/create_nifti_bval_bvec.pl:1-120` composed
    with `MRI.pm:1499-1562` (create_dwi_nifti_bval_file /
    create_dwi_nifti_bvec_file), set-oriented instead of one
    NeuroDB::File load + file write per FileID.

    Input shaping: events become per-file acquisition parameters carrying
    the reference's raw-value artifacts — ``.,`` pairs, trailing ``.``,
    wrapping quotes, Perl-falsy '' / '0' values, and a missing
    direction_z for every fifth file (bvec NULL path). The wide row is
    melted to long EAV rows (the parameter_file shape) and re-pivoted by
    the operator — exercising the registry-bounded pivot + cleanup rules
    end to end. One shuffle to group, one to pivot; no Python."""
    from loris_mri_spark.catalog import load_table
    from loris_mri_spark.operators.eav import dwi_bval_bvec, melt_to_eav

    e = load_table(spark, sf_dir, "events")
    per = e.groupBy(F.col("user_id").alias("file_id")).agg(
        F.count("*").cast("long").alias("n")
    )
    n = F.col("n").cast("string")
    wide = per.select(
        "file_id",
        F.when(F.col("file_id") % 11 == 0, F.lit("")).otherwise(
            F.concat(F.lit("0.,"), n, F.lit("., 1000."))
        ).alias("acquisition:bvalues"),
        F.when(F.col("file_id") % 7 == 0, F.lit("0")).otherwise(
            F.concat(F.lit('"'), n, F.lit('.,0.25,0.5"'))
        ).alias("acquisition:direction_x"),
        F.concat(
            F.lit('"'), (F.col("n") + 1).cast("string"), F.lit('.,-0.5,0.75"')
        ).alias("acquisition:direction_y"),
        F.when(F.col("file_id") % 5 == 0, F.lit(None).cast("string")).otherwise(
            F.concat(F.lit('"0.,'), (F.col("n") + 2).cast("string"), F.lit(',1"'))
        ).alias("acquisition:direction_z"),
    )
    long_rows = melt_to_eav(
        wide,
        "file_id",
        [
            "acquisition:bvalues",
            "acquisition:direction_x",
            "acquisition:direction_y",
            "acquisition:direction_z",
        ],
    )
    return dwi_bval_bvec(long_rows, file_col="file_id")
