"""Multimodal binary-column operators — the image/audio/video extension
mandated alongside SURVEY §2 (BASELINE.json north star).

Column model (SURVEY §1.1 "blobs + sidecar metadata"): media is an opaque
`binary` column plus typed metadata (media_type, n_bytes, content hash) —
the path/hash/params row the reference keeps for NIfTI/MINC blobs
(`python/lib/imaging_lib/nifti.py`, `nifti_insertion_pipeline.py:88-92`).

Processing model: decode / feature-extract / resize / frame-sample are
Arrow-batched map stages (`sources.files.map_rows`). The BYTE-LEVEL math
here (block-mean "resize" of a raw grayscale interpretation, frame
slicing, per-frame checksums) is real and tested, and PNG, BASELINE JPEG
(grayscale and 3-component 4:4:4 color), MJPEG-in-AVI video frames and
PCM WAV all decode NATIVELY (stdlib/numpy). The remaining codec seam — subsampled/
progressive JPEG, inter-frame video codecs — raises NotImplementedError
unless a decoder callback is injected; the runtime image has no imaging
libraries, and the Spark-side plumbing (schemas, batching, partitioning)
is what must hold at 100 TB.
"""

from __future__ import annotations

import hashlib
import math
import struct
from typing import Any, Callable, Iterator

import numpy as np

from pyspark.sql import DataFrame

from loris_mri_spark.sources.files import map_rows

FEATURE_SCHEMA = (
    "doc_id long, n_bytes long, side int, mean_px double, std_px double, "
    "thumb array<double>"
)

FRAME_SCHEMA = "doc_id long, frame_idx int, frame_md5 string"


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def decode_png_bytes(content: bytes) -> "np.ndarray | None":
    """REAL stdlib PNG decode (zlib inflate + scanline unfilter, all five
    filter types per the public PNG spec): 8-bit grayscale (color type 0),
    RGB (2) and RGBA (6), non-interlaced. Returns an (H, W) or (H, W, C)
    uint8 array; anything else — bad signature, truncated chunks, palette
    or 16-bit or interlaced images — returns None (classify, don't fail;
    those remain on the injected-decoder seam with JPEG/video).

    This closes the codec boundary for PNG: `sinks.png_preview` writes
    PNGs, this reads any compliant encoder's output, and the pair
    roundtrips bit-exactly (pinned by the mm_decode_png_roundtrip oracle).
    """
    import zlib

    if len(content) < 8 or content[:8] != _PNG_SIG:
        return None
    pos = 8
    width = height = None
    color_type = None
    idat = bytearray()
    try:
        while pos + 8 <= len(content):
            (length,) = struct.unpack_from(">I", content, pos)
            tag = content[pos + 4 : pos + 8]
            data = content[pos + 8 : pos + 8 + length]
            if len(data) < length:
                return None  # truncated chunk
            if tag == b"IHDR":
                if length < 13:
                    return None
                width, height, depth, color_type, comp, filt, interlace = (
                    struct.unpack_from(">IIBBBBB", data, 0)
                )
                if depth != 8 or comp != 0 or filt != 0 or interlace != 0:
                    return None
                if color_type not in (0, 2, 6):
                    return None
            elif tag == b"IDAT":
                idat += data
            elif tag == b"IEND":
                break
            pos += 12 + length  # len + tag + data + crc
        if width is None or not idat or width == 0 or height == 0:
            return None
        if width * height > 64_000_000:
            # same raster cap as the JPEG path: IHDR may PROMISE a huge
            # raster, and the inflate below is bounded by that promise —
            # without this cap a small compressed bomb inflates to
            # attacker-declared gigabytes inside the scan task
            return None
        channels = {0: 1, 2: 3, 6: 4}[color_type]
        stride = width * channels
        expected = height * (1 + stride)
        # Bound the inflate to the size IHDR promises: a crafted
        # decompression bomb in a binary column must not allocate beyond
        # the declared raster (classify, don't fail).
        dobj = zlib.decompressobj()
        raw = dobj.decompress(bytes(idat), expected)
        if len(raw) < expected:
            return None
        out = bytearray(height * stride)
        for y in range(height):
            f = raw[y * (1 + stride)]
            line = bytearray(
                raw[y * (1 + stride) + 1 : (y + 1) * (1 + stride)]
            )
            prev_off = (y - 1) * stride
            if f == 1:  # Sub
                for x in range(channels, stride):
                    line[x] = (line[x] + line[x - channels]) & 0xFF
            elif f == 2:  # Up
                if y:
                    for x in range(stride):
                        line[x] = (line[x] + out[prev_off + x]) & 0xFF
            elif f == 3:  # Average
                for x in range(stride):
                    a = line[x - channels] if x >= channels else 0
                    b = out[prev_off + x] if y else 0
                    line[x] = (line[x] + (a + b) // 2) & 0xFF
            elif f == 4:  # Paeth
                for x in range(stride):
                    a = line[x - channels] if x >= channels else 0
                    b = out[prev_off + x] if y else 0
                    c = out[prev_off + x - channels] if (y and x >= channels) else 0
                    line[x] = (line[x] + _paeth(a, b, c)) & 0xFF
            elif f != 0:
                return None  # invalid filter byte
            out[y * stride : (y + 1) * stride] = line
        arr = np.frombuffer(bytes(out), dtype=np.uint8).reshape(
            height, width, channels
        )
        return arr[:, :, 0] if channels == 1 else arr
    except (struct.error, zlib.error, ValueError, IndexError):
        return None


def decode_media(content: bytes, media_type: str,
                 decoder: Callable[[bytes], "np.ndarray"] | None = None) -> "np.ndarray":
    """CODEC SEAM: inject ``decoder`` (e.g. PIL/ffmpeg-backed) to decode
    formats the engine has no native reader for. Native paths: PNG decodes
    with the stdlib reader above; BASELINE JPEG (grayscale + 4:4:4 color)
    decodes with the native T.81 decoder below; ``image/raw`` interprets
    bytes as 8-bit grayscale. Subsampled/progressive JPEG and inter-frame
    video codecs remain injected-only — the runtime image ships no
    imaging libraries."""
    if decoder is not None:
        return decoder(content)
    if media_type in ("image/raw", "application/octet-stream"):
        return np.frombuffer(content, dtype=np.uint8)
    if media_type == "image/png":
        arr = decode_png_bytes(content)
        if arr is None:
            raise ValueError("corrupt or unsupported PNG stream")
        return arr.reshape(-1) if arr.ndim == 2 else arr
    if media_type == "image/jpeg":
        arr = decode_jpeg_baseline(content)
        if arr is None:
            raise ValueError("corrupt or non-baseline JPEG stream")
        return arr
    raise NotImplementedError(
        f"no decoder for media_type={media_type!r}; inject decoder="
    )


def extract_features(df: DataFrame, content_col: str, id_col: str,
                     thumb_side: int = 4) -> DataFrame:
    """Feature extraction: interpret bytes as a square grayscale image
    (crop to the largest square), block-mean 'resize' to
    thumb_side x thumb_side, emit dims + pixel stats + thumbnail."""

    def features(i: int, blob: bytes) -> Iterator[dict[str, Any]]:
        px = decode_media(blob, "image/raw")
        side = int(math.isqrt(len(px)))
        img = px[: side * side].reshape(side, side).astype("int64")
        n = side * side
        # Exact integer sums -> ONE IEEE division/sqrt each, the same
        # operation order any SQL engine uses. numpy's pairwise float
        # mean()/std() accumulates differently in the last bits, which is
        # engine-divergent; this is bit-identical to SUM(v)/n and
        # sqrt(SUM(v*v)/n - (SUM(v)/n)^2) in DuckDB.
        s = int(img.sum())
        sq = int((img * img).sum())
        mean = s / n
        var = sq / n - mean * mean
        block = max(side // thumb_side, 1)
        crop = img[: block * thumb_side, : block * thumb_side]
        bsums = crop.reshape(thumb_side, block, thumb_side, block).sum(axis=(1, 3))
        area = block * block
        yield {
            "doc_id": i,
            "n_bytes": len(px),
            "side": side,
            "mean_px": mean,
            "std_px": math.sqrt(var if var > 0 else 0.0),
            "thumb": [int(v) / area for v in bsums.ravel()],
        }

    return map_rows(df.select(id_col, content_col), features, FEATURE_SCHEMA)


PNG_FEATURE_SCHEMA = (
    "doc_id long, n_png_bytes long, width int, height int, mean_px double, "
    "px_00 int, px_77 int"
)


def _png_feature_rows(i: int, blob: bytes) -> Iterator[dict[str, Any]]:
    arr = decode_png_bytes(blob)
    if arr is None:
        return
    gray = arr if arr.ndim == 2 else arr[:, :, 0]
    h, w = gray.shape
    s = int(gray.astype("int64").sum())
    yield {
        "doc_id": i,
        "n_png_bytes": len(blob),
        "width": w,
        "height": h,
        "mean_px": s / (h * w),
        "px_00": int(gray[0, 0]),
        "px_77": int(gray[-1, -1]),
    }


def extract_png_features(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """Decode a PNG binary column with the native stdlib reader and emit
    dims + exact pixel stats (integer sum -> one IEEE division, the
    oracle-reproducible contract shared with extract_features). Undecodable
    blobs are dropped — the violation-row pattern, not a task failure."""
    return map_rows(
        df.select(id_col, content_col), _png_feature_rows, PNG_FEATURE_SCHEMA
    )


WAV_SCHEMA = (
    "path string, is_wav boolean, channels int, sample_rate int, "
    "bits int, n_frames long, duration_ms long, rms double"
)


def parse_wav_bytes(content: bytes) -> dict | None:
    """Audio-column decode: canonical RIFF/WAVE chunk walk (PUBLIC
    layout), 16-bit PCM stats. RMS comes from the exact integer
    sum-of-squares (one division + sqrt), so it is oracle-reproducible
    bit-for-bit. Non-RIFF/compressed payloads return None (classify,
    don't fail); non-PCM codecs are the injected-decoder boundary, same
    as images (decode_media)."""
    if len(content) < 44 or content[:4] != b"RIFF" or content[8:12] != b"WAVE":
        return None
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(content):
        tag = content[pos : pos + 4]
        (size,) = struct.unpack_from("<I", content, pos + 4)
        body = content[pos + 8 : pos + 8 + size]
        if tag == b"fmt " and len(body) >= 16:
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif tag == b"data":
            data = body
        pos += 8 + size + (size % 2)  # chunks are word-aligned
    if fmt is None or data is None or fmt[0] != 1 or fmt[5] != 16:
        return None
    _, channels, sample_rate, _, block_align, bits = fmt
    if block_align <= 0 or sample_rate <= 0 or channels <= 0:
        return None  # corrupt fmt chunk: classify, don't divide by zero
    if block_align != channels * (bits // 8):
        # Inconsistent fmt chunk (e.g. a bit flip bumped channels while
        # block_align stayed put) would make n_frames*channels overrun the
        # data chunk: classify, don't fail (DCMSUM.pm skip semantics).
        return None
    n_frames = len(data) // block_align
    n_samples = n_frames * channels
    # Exact integer sum-of-squares via int64 vector math (no float
    # accumulation): bit-identical to the Python loop it replaces and
    # ~100x faster on real audio.
    vals = np.frombuffer(data, dtype="<i2", count=n_samples).astype(np.int64)
    sq = int(np.dot(vals, vals))
    return {
        "channels": channels,
        "sample_rate": sample_rate,
        "bits": bits,
        "n_frames": n_frames,
        "duration_ms": n_frames * 1000 // sample_rate,
        "rms": math.sqrt(sq / n_samples) if n_samples else 0.0,
    }


def wav_signal_features(content: bytes) -> "dict | None":
    """Signal features over the decoded PCM stream (exact integers):
    zero-crossing count (strict sign flips, zeros excluded — the
    voicing/noisiness heuristic) and peak amplitude. Same classify-
    don't-fail contract as parse_wav_bytes; vectorized numpy over the
    interleaved int16 samples."""
    meta = parse_wav_bytes(content)
    if meta is None:
        return None
    # re-locate the data chunk: mirror parse_wav_bytes EXACTLY (keep the
    # LAST data chunk, no early break) — meta["n_frames"] was sized from
    # that chunk, so stopping at an earlier one could overrun frombuffer
    pos, data = 12, b""
    while pos + 8 <= len(content):
        tag = content[pos : pos + 4]
        (size,) = struct.unpack_from("<I", content, pos + 4)
        if tag == b"data":
            data = content[pos + 8 : pos + 8 + size]
        pos += 8 + size + (size % 2)
    n_samples = meta["n_frames"] * meta["channels"]
    if len(data) < n_samples * 2:
        return None  # classify, don't fail (fuzz-reachable multi-chunk)
    vals = np.frombuffer(data, dtype="<i2", count=n_samples).astype(
        np.int64
    )
    zc = int(np.sum(vals[:-1] * vals[1:] < 0)) if n_samples > 1 else 0
    peak = int(np.max(np.abs(vals))) if n_samples else 0
    return {**meta, "zero_crossings": zc, "peak": peak}


WAV_FEATURES_SCHEMA = (
    "path string, is_wav boolean, channels int, sample_rate int, "
    "bits int, n_frames long, duration_ms long, rms double, "
    "zero_crossings long, peak long"
)


def _wav_rows(
    parse: Callable[[bytes], "dict | None"],
) -> Callable[[str, bytes], Iterator[dict[str, Any]]]:
    def rows(path: str, content: bytes) -> Iterator[dict[str, Any]]:
        meta = parse(content)
        yield {"path": path, "is_wav": meta is not None, **(meta or {})}

    return rows


def read_wav_features(df: DataFrame) -> DataFrame:
    """binaryFile rows (path, content) -> WAV metadata + signal features."""
    return map_rows(
        df.select("path", "content"),
        _wav_rows(wav_signal_features),
        WAV_FEATURES_SCHEMA,
    )


def read_wav_meta(df: DataFrame) -> DataFrame:
    """binaryFile rows (path, content) -> WAV metadata + PCM stats."""
    return map_rows(
        df.select("path", "content"), _wav_rows(parse_wav_bytes), WAV_SCHEMA
    )


def sample_frames(df: DataFrame, content_col: str, id_col: str,
                  frame_bytes: int = 64, every_k: int = 4) -> DataFrame:
    """Frame sampling: treat the byte stream as fixed-size frames, keep
    every k-th full frame, emit per-frame checksums (the video analogue
    of the chunk pyramid)."""

    def frames(i: int, b: bytes) -> Iterator[dict[str, Any]]:
        for f in range(0, len(b) // frame_bytes, every_k):
            frame = b[f * frame_bytes : (f + 1) * frame_bytes]
            yield {
                "doc_id": i,
                "frame_idx": f,
                "frame_md5": hashlib.md5(frame).hexdigest(),
            }

    return map_rows(df.select(id_col, content_col), frames, FRAME_SCHEMA)


# ---------------------------------------------------------------------------
# Baseline JPEG (ITU-T T.81 / JFIF, grayscale SOF0) — native stdlib+numpy
# decoder: marker walk, DQT/DHT table build, entropy-coded segment with
# byte unstuffing, DC-diff + AC run/size block decode, zigzag, dequantize,
# float64 IDCT, level shift. This closes the 'JPEG stays behind the codec
# seam' note for the grayscale baseline process; progressive/chroma remain
# injected-only. Classify-don't-fail: malformed streams return None.
# ---------------------------------------------------------------------------

_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]


def _huff_table(bits: list, vals: list) -> dict:
    """Canonical Huffman: (length, code) -> value."""
    table, code, k = {}, 0, 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            table[(ln, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return table


class _BitReader:
    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.bit = 0

    def read_bit(self) -> int:
        if self.pos >= len(self.data):
            raise EOFError
        b = self.data[self.pos]
        v = (b >> (7 - self.bit)) & 1
        self.bit += 1
        if self.bit == 8:
            self.bit = 0
            self.pos += 1
        return v

    def receive(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v


def _extend(v: int, n: int) -> int:
    return v if n == 0 or v >= (1 << (n - 1)) else v - (1 << n) + 1


def _huff_decode(br: _BitReader, table: dict) -> int:
    code, ln = 0, 0
    while ln < 16:
        code = (code << 1) | br.read_bit()
        ln += 1
        if (ln, code) in table:
            return table[(ln, code)]
    raise ValueError("invalid huffman code")


_IDCT_C = None


def _idct_matrix() -> "np.ndarray":
    global _IDCT_C
    if _IDCT_C is None:
        m = np.zeros((8, 8))
        for x in range(8):
            for u in range(8):
                cu = (1 / math.sqrt(2)) if u == 0 else 1.0
                m[x, u] = 0.5 * cu * math.cos((2 * x + 1) * u * math.pi / 16)
        _IDCT_C = m
    return _IDCT_C


def decode_jpeg_baseline(content: bytes) -> "np.ndarray | None":
    """Baseline JPEG -> uint8 array, or None. Grayscale gives (h, w);
    3-component 4:4:4 (no subsampling) gives (h, w, 3) in the encoded
    color space (YCbCr per JFIF — color transform is the caller's
    choice). Subsampled/progressive streams return None."""
    try:
        if content[:2] != b"\xff\xd8":
            return None
        pos = 2
        qt: dict[int, list] = {}
        hts: dict[tuple, dict] = {}
        h = w = None
        comps: list[tuple] = []  # (comp_id, tq)
        scan: list[tuple] = []  # (dc_id, ac_id) per comp in scan order
        while pos + 4 <= len(content):
            if content[pos] != 0xFF:
                return None
            marker = content[pos + 1]
            pos += 2
            if marker == 0xD9:  # EOI
                return None
            (seglen,) = struct.unpack_from(">H", content, pos)
            seg = content[pos + 2 : pos + seglen]
            if marker == 0xDB:  # DQT
                s = 0
                while s < len(seg):
                    pq, tq = seg[s] >> 4, seg[s] & 0xF
                    if pq != 0:
                        return None  # 16-bit tables: not baseline-8
                    qt[tq] = list(seg[s + 1 : s + 65])
                    s += 65
            elif marker == 0xC4:  # DHT
                s = 0
                while s + 17 <= len(seg):
                    tc, th = seg[s] >> 4, seg[s] & 0xF
                    bits = list(seg[s + 1 : s + 17])
                    n = sum(bits)
                    vals = list(seg[s + 17 : s + 17 + n])
                    hts[(tc, th)] = _huff_table(bits, vals)
                    s += 17 + n
            elif marker == 0xC0:  # SOF0 baseline
                if seg[0] != 8 or seg[5] not in (1, 3):
                    return None  # 8-bit, 1 or 3 components
                h, w = struct.unpack_from(">HH", seg, 1)
                # allocation guard: a flipped dimension byte must classify,
                # not demand a multi-GB raster
                if h == 0 or w == 0 or h * w > 64_000_000:
                    return None
                comps = []
                for ci in range(seg[5]):
                    cid, samp, tq = seg[6 + 3 * ci : 9 + 3 * ci]
                    hi, vi = samp >> 4, samp & 0xF
                    if not (1 <= hi <= 2 and 1 <= vi <= 2):
                        return None  # beyond 2x2 sampling: injected-only
                    comps.append((cid, hi, vi, tq))
            elif marker in (0xC1, 0xC2, 0xC3):
                return None  # extended/progressive: injected-only
            elif marker == 0xDA:  # SOS
                ns = seg[0]
                if ns != len(comps):
                    return None
                scan = []
                for ci in range(ns):
                    t = seg[2 + 2 * ci]
                    scan.append((t >> 4, t & 0xF))
                pos += seglen
                break
            pos += seglen
        else:
            return None
        if h is None or not comps or any(
            tq not in qt for _c, _hi, _vi, tq in comps
        ):
            return None
        hmax = max(hi for _c, hi, _vi, _tq in comps)
        vmax = max(vi for _c, _hi, vi, _tq in comps)
        if any(hmax % hi or vmax % vi for _c, hi, vi, _tq in comps):
            return None  # non-integer upsampling ratios

        # entropy-coded data: unstuff FF00, stop at next marker
        ecs = bytearray()
        while pos < len(content):
            b = content[pos]
            if b == 0xFF:
                nxt = content[pos + 1] if pos + 1 < len(content) else 0xD9
                if nxt == 0x00:
                    ecs.append(0xFF)
                    pos += 2
                    continue
                break
            ecs.append(b)
            pos += 1

        tables = []
        for ci, (_cid, _hi, _vi, tq) in enumerate(comps):
            dc_t = hts.get((0, scan[ci][0]))
            ac_t = hts.get((1, scan[ci][1]))
            if dc_t is None or ac_t is None:
                return None
            tables.append((dc_t, ac_t, qt[tq]))  # q in zigzag order
        br = _BitReader(bytes(ecs))
        nc = len(comps)
        mcus_x = (w + 8 * hmax - 1) // (8 * hmax)
        mcus_y = (h + 8 * vmax - 1) // (8 * vmax)
        rasters = [
            np.zeros((mcus_y * vi * 8, mcus_x * hi * 8), dtype=np.float64)
            for _c, hi, vi, _tq in comps
        ]
        preds = [0] * nc
        m = _idct_matrix()

        def read_block(ci: int) -> "np.ndarray":
            dc_t, ac_t, q = tables[ci]
            zz = [0] * 64
            t = _huff_decode(br, dc_t)
            diff = _extend(br.receive(t), t)
            preds[ci] += diff
            zz[0] = preds[ci]
            k = 1
            while k < 64:
                rs = _huff_decode(br, ac_t)
                r, s = rs >> 4, rs & 0xF
                if rs == 0x00:  # EOB
                    break
                if rs == 0xF0:  # ZRL
                    k += 16
                    continue
                k += r
                if k > 63:
                    raise ValueError("AC index overrun")
                zz[k] = _extend(br.receive(s), s)
                k += 1
            block = np.zeros(64)
            for i in range(64):
                block[_ZIGZAG[i]] = zz[i] * q[i]
            return m @ block.reshape(8, 8) @ m.T + 128.0

        for my in range(mcus_y):
            for mx in range(mcus_x):
                for ci, (_cid, hi, vi, _tq) in enumerate(comps):
                    for byy in range(vi):
                        for bxx in range(hi):
                            px = read_block(ci)
                            y0 = (my * vi + byy) * 8
                            x0 = (mx * hi + bxx) * 8
                            rasters[ci][y0 : y0 + 8, x0 : x0 + 8] = px
        planes = []
        for ci, (_cid, hi, vi, _tq) in enumerate(comps):
            plane = np.repeat(
                np.repeat(rasters[ci], vmax // vi, axis=0), hmax // hi, axis=1
            )
            planes.append(plane[:h, :w])
        out = np.stack(planes, axis=-1)
        img = np.clip(np.rint(out), 0, 255).astype(np.uint8)
        return img[:, :, 0] if nc == 1 else img
    except (IndexError, EOFError, ValueError, struct.error):
        return None


# ---------------------------------------------------------------------------
# AVI/MJPEG container (RIFF): the video modality's NATIVE path — walk the
# RIFF chunk tree, read the avih main header, iterate the movi LIST's
# '..dc'/'..db' video chunks, and decode each frame with the baseline JPEG
# decoder above. Inter-frame codecs (H.264 etc.) remain injected-only;
# MJPEG is just JPEG-per-frame, so it decodes with what the engine has.
# ---------------------------------------------------------------------------


def parse_avi_mjpeg(content: bytes) -> "dict | None":
    """RIFF-AVI walk -> {"width", "height", "n_frames_declared",
    "frames": [jpeg bytes]} or None. Classify-don't-fail: truncated
    chunks end the walk with the frames found so far."""
    if len(content) < 12 or content[:4] != b"RIFF" or content[8:12] != b"AVI ":
        return None
    meta = {"width": None, "height": None, "n_frames_declared": None}
    frames: list[bytes] = []

    def walk(pos: int, end: int) -> None:
        while pos + 8 <= end:
            fourcc = content[pos : pos + 4]
            (size,) = struct.unpack_from("<I", content, pos + 4)
            data_end = min(pos + 8 + size, end)
            if fourcc == b"LIST" and pos + 12 <= end:
                walk(pos + 12, data_end)
            elif fourcc == b"avih" and size >= 40:
                vals = struct.unpack_from("<14I", content, pos + 8)
                meta["n_frames_declared"] = vals[4]
                meta["width"], meta["height"] = vals[8], vals[9]
            elif fourcc[2:4] in (b"dc", b"db"):
                frames.append(content[pos + 8 : data_end])
            pos = pos + 8 + size + (size % 2)

    try:
        walk(12, len(content))
    except (struct.error, IndexError, RecursionError):
        pass  # crafted deep LIST nesting: keep the frames found so far
    if meta["width"] is None and not frames:
        return None
    return {**meta, "frames": frames}
