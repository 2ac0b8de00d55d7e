"""Seeded benchmark inputs: a parquet catalog and an imaging file tree.

``ensure(root, seed)`` returns the directory holding one seed's inputs,
generating them on first use. The same seed gives byte-identical files;
another seed gives other files of the same sizes. Every input directory
carries ``manifest.json``: row, file and byte counts, the planted
malformed files and a SHA-256 over all file contents.

Catalog: the ten tables the declared queries read (region nation customer
supplier part orders lineitem events documents embeddings), with the
schemas and value domains of the repository's synthetic test catalog at
scale factor 0.01. Imaging tree: DICOM series, NIfTI volumes, EDF
and BrainVision recordings, MINC volumes and BIDS ``events.tsv`` files,
written with the writers in ``tests/fixtures/generate.py``. One file in every
``MALFORMED_EVERY`` of the DICOM, NIfTI and MINC files is replaced by a
truncated or garbage file; those three readers classify such files as
rows instead of dropping them.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import importlib.util
import json
import os
import shutil
import tempfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SIZES = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}
N_USERS = 150
EMBED_DIM = 64
DUP_SHARE = 0.05

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key"
    " line merge order part query row scan slow small sort spark stream"
    " table the value vector window"
).split()

# Imaging tree shape.
N_DICOM_SERIES = 24
DICOM_INSTANCES = 8
N_NIFTI = 96
N_EDF = 24
EDF_RECORD_SAMPLES = 64
N_MINC = 48
N_BRAINVISION = 12
BRAINVISION_SAMPLES = 256
N_EVENTS_TSV = 48
MALFORMED_EVERY = 20
SERIES_KINDS = [
    ("t1w_mprage", 2300.0, 2.98),
    ("t2w_tse", 3200.0, 90.0),
    ("rest_bold", 800.0, 30.0),
    ("dwi_64dir", 8900.0, 89.0),
    ("flair", 9000.0, 81.0),
]
EEG_CHANNELS = ["Fp1", "Fp2", "Cz", "Pz", "O1", "O2", "ECG"]


def _date_us(y: int, m: int, d: int) -> int:
    return int(
        (dt.datetime(y, m, d) - dt.datetime(1970, 1, 1)).total_seconds() * 1e6
    )


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: tuple, end: tuple, n: int) -> pa.Array:
    lo, hi = _date_us(*start), _date_us(*end)
    day = 86_400_000_000
    return _ts(lo + rng.integers(0, (hi - lo) // day + 1, n) * day)


def catalog_tables(seed: int) -> dict[str, pa.Table]:
    """The ten catalog tables for ``seed``, with independently drawn
    columns (the shape of the repository's synthetic test catalog)."""
    rng = np.random.default_rng([seed, 0])
    n = SIZES
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(n["customer"]), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": rng.choice(SEGMENTS, n["customer"]).tolist(),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n["supplier"]), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
    })
    np_ = n["part"]
    t["part"] = pa.table({
        "p_partkey": pa.array(range(np_), pa.int64()),
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, np_), rng.integers(0, 8, np_))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, np_)],
        "p_type": rng.choice(PART_TYPES, np_).tolist(),
        "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(np_) % 1000) * 0.1, 1),
    })
    no = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], no), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], no).tolist(),
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _days(rng, (1995, 1, 1), (2001, 8, 1), no),
        "o_orderpriority": rng.choice(PRIORITIES, no).tolist(),
    })
    nl = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, np_, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl).tolist(),
        "l_linestatus": rng.choice(["F", "O"], nl).tolist(),
        "l_shipdate": _days(rng, (1995, 1, 2), (2001, 11, 4), nl),
    })
    ne = n["events"]
    start = _date_us(2024, 1, 1)
    span = 30 * 86_400_000_000
    t["events"] = pa.table({
        "event_id": pa.array(range(ne), pa.int64()),
        "ts": _ts(np.sort(start + rng.integers(0, span, ne))),
        "user_id": pa.array(rng.integers(0, N_USERS, ne), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, ne).tolist(),
        "value": np.maximum(np.round(rng.exponential(50.0, ne), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    nd = n["documents"]
    texts: list[str] = []
    for i in range(nd):
        if i and rng.random() < DUP_SHARE:  # planted near-duplicate
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(VOCAB, int(rng.integers(10, 100)))
            texts.append(" ".join(words.tolist()))
    t["documents"] = pa.table({
        "doc_id": pa.array(range(nd), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, nd, p=LANG_P).tolist(),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })
    nv = n["embeddings"]
    vec = rng.standard_normal((nv, EMBED_DIM)).astype("float32")
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(nv), pa.int64()),
        "embedding": pa.array(vec.tolist(), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32()),
    })
    return t


def _fixture_writers():
    """``tests/fixtures/generate.py`` from the repository root (the
    current directory), loaded by path."""
    path = os.path.join("tests", "fixtures", "generate.py")
    spec = importlib.util.spec_from_file_location("_fixture_writers", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _malformed(rng: np.random.Generator, path: str, like: str) -> None:
    """Replace ``path`` by a truncated prefix of ``like`` or by garbage."""
    if rng.random() < 0.5:
        with open(like, "rb") as f:
            head = f.read(int(rng.integers(16, 120)))
    else:
        head = rng.integers(0, 256, int(rng.integers(64, 512))).astype(
            "uint8"
        ).tobytes()
    with open(path, "wb") as f:
        f.write(head)


def imaging_tree(root: str, seed: int) -> dict:
    """Write the seed's imaging tree under ``root``; return its expected
    counts (what a correct ingest pass must report)."""
    g = _fixture_writers()
    rng = np.random.default_rng([seed, 1])
    exp: dict = {}

    ddir = os.path.join(root, "dicom")
    os.makedirs(ddir)
    good = bad = 0
    for s in range(N_DICOM_SERIES):
        desc, tr, te = SERIES_KINDS[int(rng.integers(0, len(SERIES_KINDS)))]
        study = f"1.2.840.{seed}.{s // 4}"
        uid = f"{study}.{s}"
        sub = os.path.join(ddir, f"sub-{s // 4:03d}")
        os.makedirs(sub, exist_ok=True)
        for inst in range(1, DICOM_INSTANCES + 1):
            path = os.path.join(sub, f"MR.{s}.{inst}.dcm")
            g.write_dicom(
                path, patient=f"SUB{s // 4:03d}", study_uid=study,
                series_uid=uid, series_num=s + 1, series_desc=desc,
                instance=inst, echo_ms=te, tr_ms=tr,
            )
            if (good + bad) % MALFORMED_EVERY == MALFORMED_EVERY - 1:
                _malformed(rng, path, path)
                bad += 1
            else:
                good += 1
    exp["dicom"] = {
        "files": good + bad, "malformed": bad, "series": N_DICOM_SERIES,
    }

    ndir = os.path.join(root, "nifti")
    os.makedirs(ndir)
    bad = 0
    shapes = []
    for i in range(N_NIFTI):
        dims = tuple(int(x) for x in rng.integers(2, 9, 3)) + (
            int(rng.choice([1, 1, 4, 6])),
        )
        path = os.path.join(ndir, f"sub-{i:03d}_run-1_T1w.nii")
        g.write_nifti(path, dims, (1.0, 1.0, float(rng.choice([1.0, 1.2, 3.0]))))
        if i % MALFORMED_EVERY == MALFORMED_EVERY - 1:
            _malformed(rng, path, path)
            bad += 1
        else:
            shapes.append(dims)
    exp["nifti"] = {
        "files": N_NIFTI,
        "malformed": bad,
        "voxels": int(sum(a * b * c * t for a, b, c, t in shapes)),
    }

    edir = os.path.join(root, "eeg")
    os.makedirs(edir)
    channels = samples = 0
    for i in range(N_EDF):
        ch = EEG_CHANNELS[: int(rng.integers(2, len(EEG_CHANNELS) + 1))]
        records = int(rng.integers(2, 6))
        channels += len(ch)
        samples += len(ch) * records * EDF_RECORD_SAMPLES
        g.write_edf(
            os.path.join(edir, f"sub-{i:03d}_task-rest_eeg.edf"),
            [f"EEG {c}" for c in ch], n_records=records, spr=EDF_RECORD_SAMPLES,
        )
    exp["edf"] = {"files": N_EDF, "channels": channels, "samples": samples}

    vdir = os.path.join(root, "brainvision")
    os.makedirs(vdir)
    channels = 0
    for i in range(N_BRAINVISION):
        ch = EEG_CHANNELS[: int(rng.integers(2, len(EEG_CHANNELS) + 1))]
        channels += len(ch)
        g.write_brainvision(
            os.path.join(vdir, f"sub-{i:03d}_task-oddball_eeg"), ch,
            sampling_interval_us=2000, n_samples=BRAINVISION_SAMPLES,
        )
    exp["brainvision"] = {
        "files": N_BRAINVISION, "channels": channels,
        "samples": channels * BRAINVISION_SAMPLES,
    }

    bdir = os.path.join(root, "bids")
    os.makedirs(bdir)
    rows = 0
    for i in range(N_EVENTS_TSV):
        n = int(rng.integers(5, 40))
        onsets = np.round(np.cumsum(rng.uniform(0.5, 3.0, n)), 3)
        lines = ["onset\tduration\ttrial_type\tresponse_time"]
        for k in range(n):
            rt = "n/a" if rng.random() < 0.2 else f"{rng.uniform(0.2, 1.5):.3f}"
            lines.append(
                f"{onsets[k]}\t{rng.choice([0.5, 1.0])}\t"
                f"{rng.choice(['go', 'stop', 'rest'])}\t{rt}"
            )
        rows += n
        with open(os.path.join(bdir, f"sub-{i:03d}_task-rest_events.tsv"), "w") as f:
            f.write("\n".join(lines) + "\n")
    exp["events_tsv"] = {"files": N_EVENTS_TSV, "rows": rows}

    mdir = os.path.join(root, "minc")
    os.makedirs(mdir)
    bad = 0
    for i in range(N_MINC):
        path = os.path.join(mdir, f"sub-{i:03d}_t1w.mnc")
        z, y, x = (int(v) for v in rng.integers(2, 7, 3))
        g.write_minc1(
            path,
            dims=[("zspace", z), ("yspace", y), ("xspace", x)],
            groups={
                "acquisition": {
                    "repetition_time": float(rng.choice([0.8, 2.3, 9.0])),
                    "echo_time": 0.03, "flip_angle": 9.0,
                    "scanning_sequence": "MPRAGE",
                },
                "patient": {"full_name": f"SUB{i:03d}", "age": 30.0},
                "study": {"study_id": "LORIS01", "modality": "MRI__"},
            },
        )
        if i % MALFORMED_EVERY == MALFORMED_EVERY - 1:
            _malformed(rng, path, path)
            bad += 1
    exp["minc"] = {"files": N_MINC, "malformed": bad}

    dirs = {"dicom": "dicom", "nifti": "nifti", "edf": "eeg", "minc": "minc",
            "brainvision": "brainvision", "events_tsv": "bids"}
    for kind, d in dirs.items():
        exp[kind]["bytes"] = _tree_digest(os.path.join(root, d))[1]
    return exp


def _tree_digest(root: str) -> tuple[int, int, str]:
    """(files, bytes, sha256) over every file under ``root`` in path
    order; manifest.json itself is excluded."""
    h = hashlib.sha256()
    files = nbytes = 0
    for d, subdirs, names in os.walk(root):
        subdirs.sort()
        for name in sorted(names):
            if name == "manifest.json":
                continue
            p = os.path.join(d, name)
            with open(p, "rb") as f:
                data = f.read()
            h.update(os.path.relpath(p, root).encode() + b"\0" + data)
            files += 1
            nbytes += len(data)
    return files, nbytes, h.hexdigest()


def generate(out: str, seed: int) -> dict:
    """Write one seed's inputs into the empty directory ``out``."""
    cat = os.path.join(out, "catalog")
    os.makedirs(cat)
    tables = {}
    for name, tb in catalog_tables(seed).items():
        path = os.path.join(cat, f"{name}.parquet")
        pq.write_table(tb, path)
        tables[name] = {"rows": tb.num_rows, "bytes": os.path.getsize(path)}
    imaging = imaging_tree(os.path.join(out, "imaging"), seed)
    files, nbytes, digest = _tree_digest(out)
    manifest = {
        "seed": seed,
        "tables": tables,
        "imaging": imaging,
        "imaging_files": _tree_digest(os.path.join(out, "imaging"))[0],
        "files": files,
        "bytes": nbytes,
        "sha256": digest,
    }
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


def _generator_digest() -> str:
    """Short hash of this file and the fixture writers, so inputs cached
    by an older generator are never reused."""
    h = hashlib.sha256()
    for path in (__file__, os.path.join("tests", "fixtures", "generate.py")):
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def ensure(root: str, seed: int) -> str:
    """Directory with ``seed``'s inputs under ``root``, generated on first
    use. Generation goes to a temporary sibling that is renamed into place,
    so an interrupted run never leaves a half-written input set."""
    out = os.path.join(root, f"seed-{seed}-{_generator_digest()}")
    if os.path.exists(os.path.join(out, "manifest.json")):
        return out
    os.makedirs(root, exist_ok=True)
    shutil.rmtree(out, ignore_errors=True)
    tmp = tempfile.mkdtemp(prefix=f".seed-{seed}-", dir=root)
    try:
        generate(tmp, seed)
        os.rename(tmp, out)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out
