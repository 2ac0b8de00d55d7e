"""Deterministic scale-up of the committed media and BIDS fixtures for
the fixture sweeps of bench_scale.py (`media_extension`,
`eeg_bids_probe`, `mri_bids_probe`, `bids_dataset_probe`). These tiers
are NOT an input to any correctness query; the committed tests/fixtures
stay the only correctness input (their golden oracles pin exact
per-file values).

Media: the committed media fixtures are 2-6 files each, enough to pin
decoder bytes exactly and useless for a growth curve. make_tier writes
.scale/media/sfK/{jpeg,video,audio} tiers whose BYTE VOLUME (and file
count) grows Kx, using the same writers as tests/fixtures/generate.py,
so LORIS_MM_FIXTURES can point the REGISTERED mm_* queries at each tier
(workload/multimodal._media_dir). Per the SCALE.md Finding-4 lesson
(events was byte-identical per tier until r9, which made every curve a
flat lie), every file is seeded by its global index, so no two files at
any tier are byte-identical. Decode cost for the native T.81 path is
~16 ms per 256x192 grayscale frame (measured r10), so the 100x tier
stays ~1-3 s of wall work on local[32] per family.

BIDS: the EEG and MRI import capstones are fixture-bound (6 recordings,
8 acquisitions), and the axis that grows in production is recording
COUNT. make_bids_tier clones both committed trees K times under fresh
subject ids into .scale/bids_Kx/{bids_eeg,bids_mri}, so
LORIS_BIDS_EEG_FIXTURES / LORIS_MRI_BIDS_FIXTURES point the registered
queries at each tier. The committed fixtures are the 1x tier.

Usage: python tools/make_scale_media.py [K ...]   (default: 1 10 100)
Writes .scale/media/sfK and, for K > 1, .scale/bids_Kx under the repo root
(gitignored).
"""

from __future__ import annotations

import shutil
import struct
import sys
from pathlib import Path

import numpy as np

_REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(_REPO / "tests" / "fixtures"))

from generate import (  # noqa: E402  (fixture writers are the spec)
    write_avi_mjpeg,
    write_jpeg_gray_flat,
    write_jpeg_ycbcr_flat,
)

OUT_ROOT = _REPO / ".scale" / "media"
FIXTURES = _REPO / "tests" / "fixtures"
BIDS_TREES = ("bids_eeg", "bids_mri")

# 1x tier counts; tier K multiplies each by K. Dims chosen so the 100x
# tier is seconds, not minutes, on local[32] (module docstring).
BASE_JPEG_GRAY = 24   # 256x192 px each (bw=32, bh=24)
BASE_JPEG_COLOR = 24  # 128x96 px each (bw=16, bh=12)
BASE_VIDEO = 16       # 6 frames of 128x96 each
BASE_AUDIO = 16       # 100k stereo frames (~400 KB) each


def write_wav_vec(path: str, sample_rate: int, channels: int,
                  n_frames: int, freq_step: int) -> None:
    """Vectorized twin of generate.write_wav (same sample formula,
    numpy instead of a per-sample Python loop — the committed writer is
    fine for 6 fixture files, not for 1600 x 100k-frame scale files)."""
    t = np.repeat(np.arange(n_frames, dtype=np.int64), channels)
    c = np.tile(np.arange(channels, dtype=np.int64), n_frames)
    samples = ((t * freq_step + c * 7) % 2000 - 1000).astype("<i2")
    data = samples.tobytes()
    block_align = channels * 2
    fmt = struct.pack("<HHIIHH", 1, channels, sample_rate,
                      sample_rate * block_align, block_align, 16)
    body = (b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data)
    with open(path, "wb") as f:
        f.write(b"RIFF" + struct.pack("<I", len(body)) + body)


def _du(d: Path) -> int:
    return sum(p.stat().st_size for p in d.rglob("*") if p.is_file())


def make_tier(k: int) -> None:
    root = OUT_ROOT / f"sf{k}"
    for sub in ("jpeg", "video", "audio"):
        (root / sub).mkdir(parents=True, exist_ok=True)

    jdir = root / "jpeg"
    for i in range(BASE_JPEG_GRAY * k):
        write_jpeg_gray_flat(str(jdir / f"img-{i:05d}.jpg"), inst=i,
                             bw=32, bh=24)
    for i in range(BASE_JPEG_COLOR * k):
        write_jpeg_ycbcr_flat(str(jdir / f"color-{i:05d}.jpg"), inst=i,
                              bw=16, bh=12)

    vdir = root / "video"
    for i in range(BASE_VIDEO * k):
        write_avi_mjpeg(str(vdir / f"clip-{i:05d}.avi"), inst=i,
                        n_frames=6, bw=16, bh=12)

    adir = root / "audio"
    for i in range(BASE_AUDIO * k):
        write_wav_vec(str(adir / f"scale-{i:05d}_audio.wav"),
                      sample_rate=16000, channels=2, n_frames=100_000,
                      freq_step=3 + (i % 97))

    print(f"sf{k}: jpeg={_du(jdir)} B  video={_du(vdir)} B  "
          f"audio={_du(adir)} B", flush=True)


def clone_bids(src: Path, dst: Path, mult: int) -> None:
    """Clone the BIDS tree `src` mult times into `dst`: clone k of subject
    sub-0i becomes sub-<1000*k+i>, with its participants.tsv row mirrored
    (a subject the source leaves out of participants.tsv stays out, so
    every tier keeps the 1x error-path mix), its file names and scans.tsv
    rewritten, and a clone-specific marker appended after each NIfTI's
    gzip stream (header parse unaffected, blake2b distinct: within a
    clone a duplicate still duplicates, but clones do not collapse into
    one global duplicate cluster). Other top-level files are copied
    once."""
    tmp = dst.with_name(dst.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    hdr, *prows = (src / "participants.tsv").read_text().splitlines()
    rows_by_sub = {r.split("\t", 1)[0]: r for r in prows}
    subs = sorted(p.name for p in src.glob("sub-*") if p.is_dir())
    out_rows = [hdr]
    for k in range(mult):
        marker = f"#clone{k:05d}".encode()
        for sub in subs:
            new = f"sub-{1000 * k + int(sub[4:])}"
            if sub in rows_by_sub:
                out_rows.append(new + rows_by_sub[sub][len(sub):])
            for f in sorted((src / sub).rglob("*")):
                if not f.is_file():
                    continue
                rel = f.relative_to(src / sub)
                out = tmp / new / rel.parent / f.name.replace(sub, new)
                out.parent.mkdir(parents=True, exist_ok=True)
                if f.name.endswith("_scans.tsv"):
                    out.write_text(f.read_text().replace(sub, new))
                elif ".nii" in f.name:
                    out.write_bytes(f.read_bytes() + marker)
                else:
                    shutil.copyfile(f, out)
    (tmp / "participants.tsv").write_text("\n".join(out_rows) + "\n")
    for f in src.iterdir():
        if f.is_file() and f.name != "participants.tsv":
            shutil.copyfile(f, tmp / f.name)
    shutil.rmtree(dst, ignore_errors=True)
    tmp.rename(dst)


def make_bids_tier(k: int) -> None:
    root = _REPO / ".scale" / f"bids_{k}x"
    for tree in BIDS_TREES:
        clone_bids(FIXTURES / tree, root / tree, k)
        print(f"bids_{k}x/{tree}: {_du(root / tree)} B", flush=True)


def main() -> None:
    ks = [int(a) for a in sys.argv[1:]] or [1, 10, 100]
    for k in ks:
        make_tier(k)
        if k > 1:
            make_bids_tier(k)


if __name__ == "__main__":
    main()
