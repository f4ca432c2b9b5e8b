"""Multimodal columns: image/audio/video as opaque binary + typed
metadata (BASELINE.json north star).

The Spark-side plumbing is real and tested — schema, Arrow batch
shape, mapInPandas partitioning. The codec layer decodes PPM / 24-bit
BMP images and PCM WAV audio natively (numpy + stdlib, no external
libs; see decode_ppm / decode_bmp / decode_wav and the
`_stats_row` / `_resize_row` row transforms); compressed images and
audio need PIL/librosa, which this package does not depend on —
those decodes raise NotImplementedError in one obvious place and the
generic feature extractor falls back to a deterministic content-hash
fake.

Scale design: media bytes NEVER pass through a shuffle — decode /
feature-extract runs mapInPandas on the scan partitioning, emitting
small feature rows; only features shuffle. Batch size is bounded by
`spark.sql.execution.arrow.maxRecordsPerBatch` (set it so
rows_per_batch x avg_blob_size fits executor memory).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

# feat is array<double>, not float: each component is a 32-bit int
# over 2^32 — a dyadic rational, exact in IEEE double on every
# engine, so the DuckDB oracle can reproduce features bit-for-bit
# (float32 would round and break cross-engine equality).
FEATURE_SCHEMA = (
    "media_id long, kind string, n_bytes long, sha256 string, "
    "feat array<double>"
)


def _fake_image_features(payload: bytes, dim: int) -> list[float]:
    """Deterministic stand-in for a real decoder: bytes -> unit-range
    floats seeded by content hash. Replace with PIL/torchvision when
    the libs exist."""
    h = hashlib.sha256(payload).digest()
    raw = (h * ((dim * 4) // len(h) + 1))[: dim * 4]
    return [
        int.from_bytes(raw[4 * i: 4 * i + 4], "big") / 2**32 for i in range(dim)
    ]


def decode_ppm(payload: bytes):
    """Real decoder, no external libs: binary PPM (P6) -> (height,
    width, 3) uint8 numpy array. Raster formats with trivial headers
    don't need PIL."""
    import numpy as np

    if not payload.startswith(b"P6"):
        raise ValueError("not a P6 PPM")
    # header = magic, width, height, maxval — whitespace/comment
    # separated, then ONE whitespace byte before the raster
    fields: list[bytes] = []
    i = 2
    while len(fields) < 3:
        while i < len(payload) and payload[i : i + 1].isspace():
            i += 1
        if payload[i : i + 1] == b"#":  # comment to EOL
            while i < len(payload) and payload[i : i + 1] != b"\n":
                i += 1
            continue
        j = i
        while j < len(payload) and not payload[j : j + 1].isspace():
            j += 1
        fields.append(payload[i:j])
        i = j
    i += 1  # the single whitespace after maxval
    w, h, maxval = int(fields[0]), int(fields[1]), int(fields[2])
    if maxval != 255:
        raise ValueError(f"unsupported maxval {maxval}")
    raster = np.frombuffer(payload, dtype=np.uint8, count=w * h * 3, offset=i)
    return raster.reshape(h, w, 3)


def decode_bmp(payload: bytes):
    """Real decoder, no external libs: uncompressed 24-bit BMP
    (BITMAPINFOHEADER, BI_RGB) -> (height, width, 3) uint8 RGB array.
    Handles 4-byte row padding and bottom-up row order."""
    import struct

    import numpy as np

    if payload[:2] != b"BM":
        raise ValueError("not a BMP")
    data_offset = struct.unpack_from("<I", payload, 10)[0]
    header_size = struct.unpack_from("<I", payload, 14)[0]
    if header_size < 40:
        raise ValueError("unsupported BMP header")
    w, h = struct.unpack_from("<ii", payload, 18)
    bpp = struct.unpack_from("<H", payload, 28)[0]
    compression = struct.unpack_from("<I", payload, 30)[0]
    if bpp != 24 or compression != 0:
        raise ValueError(f"unsupported BMP: bpp={bpp} compression={compression}")
    bottom_up = h > 0
    h = abs(h)
    stride = (w * 3 + 3) & ~3
    rows = np.frombuffer(
        payload, dtype=np.uint8, count=stride * h, offset=data_offset
    ).reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
    if bottom_up:
        rows = rows[::-1]
    return rows[:, :, ::-1]  # BGR -> RGB


def decode_wav(payload: bytes):
    """Real decoder, stdlib only: RIFF/WAVE PCM -> dict with
    sample_rate, n_channels, n_frames, duration_ms and the int PCM
    matrix (n_frames, n_channels)."""
    import io
    import wave

    import numpy as np

    with wave.open(io.BytesIO(payload), "rb") as wf:
        sr = wf.getframerate()
        nch = wf.getnchannels()
        nframes = wf.getnframes()
        width = wf.getsampwidth()
        raw = wf.readframes(nframes)
    if width == 2:
        pcm = np.frombuffer(raw, dtype="<i2")
    elif width == 1:
        pcm = np.frombuffer(raw, dtype=np.uint8).astype(np.int16) - 128
    else:
        raise ValueError(f"unsupported sample width {width}")
    pcm = pcm.reshape(-1, nch)
    return {
        "sample_rate": sr,
        "n_channels": nch,
        "n_frames": nframes,
        "duration_ms": int(nframes * 1000 / sr) if sr else 0,
        "pcm": pcm,
    }


def _decode_image(payload: bytes) -> object:
    """Dispatch on magic bytes: PPM and 24-bit BMP decode here with no
    external dependency; everything else needs PIL (absent in this
    container) and raises."""
    if payload[:2] == b"P6":
        return decode_ppm(payload)
    if payload[:2] == b"BM":
        return decode_bmp(payload)
    try:
        from PIL import Image  # type: ignore
        import io

        return Image.open(io.BytesIO(payload))
    except ImportError as e:  # pragma: no cover - lib not in container
        raise NotImplementedError(
            "compressed image decode requires PIL; container ships "
            "without it — PPM/BMP decode natively, other formats use "
            "the deterministic fake features"
        ) from e


def _decode_audio(payload: bytes) -> object:
    """WAV PCM decodes with the stdlib; compressed audio needs librosa
    (absent) and raises."""
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        return decode_wav(payload)
    try:
        import librosa  # type: ignore
        import io

        return librosa.load(io.BytesIO(payload))
    except ImportError as e:  # pragma: no cover - lib not in container
        raise NotImplementedError(
            "compressed audio decode requires librosa/soundfile; "
            "container ships without them — WAV decodes natively, "
            "other formats use the deterministic fake features"
        ) from e


def extract_features(media: DataFrame, dim: int = 16) -> DataFrame:
    """mapInPandas feature extraction: per-partition Arrow batches of
    (id, payload) -> small feature rows. This is the pattern for ANY
    expensive per-blob op (resize, frame-sample, transcode)."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": payloads.map(lambda b: 0 if b is None else len(b)),
                    "sha256": payloads.map(
                        lambda b: None if b is None else hashlib.sha256(b).hexdigest()
                    ),
                    "feat": payloads.map(
                        lambda b: None if b is None else _fake_image_features(b, dim)
                    ),
                }
            )

    return media.mapInPandas(op, schema=FEATURE_SCHEMA)


MEDIA_STATS_SCHEMA = (
    "media_id long, kind string, decoded boolean, width int, height int, "
    "mean_r double, mean_g double, mean_b double, "
    "sample_rate int, duration_ms long, rms double"
)


def _stats_row(media_id, kind, payload):
    """One per-blob decode-stats row — module-level so fused
    kernels (`synth_image_stats_resized`) compose it with upstream
    row transforms inside a single mapInPandas pass."""
    import math

    row = {
        "media_id": media_id, "kind": kind, "decoded": False,
        "width": None, "height": None,
        "mean_r": None, "mean_g": None, "mean_b": None,
        "sample_rate": None, "duration_ms": None, "rms": None,
    }
    if payload is None:
        return row
    try:
        if kind == "image":
            img = _decode_image(bytes(payload))
            h, w, _ = img.shape
            sums = img.reshape(-1, 3).sum(axis=0, dtype="int64")
            n = h * w
            row.update(
                decoded=True, width=w, height=h,
                mean_r=float(sums[0]) / n,
                mean_g=float(sums[1]) / n,
                mean_b=float(sums[2]) / n,
            )
        elif kind == "audio":
            au = _decode_audio(bytes(payload))
            pcm = au["pcm"].astype("float64")
            row.update(
                decoded=True,
                sample_rate=au["sample_rate"],
                duration_ms=au["duration_ms"],
                rms=math.sqrt(float((pcm * pcm).mean())) if pcm.size else 0.0,
            )
    except (NotImplementedError, ValueError):
        pass  # unsupported codec: decoded stays False
    return row


def encode_ppm(img) -> bytes:
    """(h, w, 3) uint8 -> binary PPM (P6). The inverse of decode_ppm,
    stdlib only."""
    h, w, _ = img.shape
    return f"P6\n{w} {h}\n255\n".encode() + img.tobytes()


def _resize_row(media_id, kind, payload, out_w: int, out_h: int):
    """One nearest-neighbor resize row, re-encoded as PPM —
    module-level for fused kernels (see `_stats_row`)."""
    import numpy as np

    row = {
        "media_id": media_id, "decoded": False, "in_w": None,
        "in_h": None, "out_w": out_w, "out_h": out_h, "payload": None,
    }
    if payload is None or kind != "image":
        return row
    try:
        img = _decode_image(bytes(payload))
    except (NotImplementedError, ValueError):
        return row
    h, w, _ = img.shape
    # nearest-neighbor: center-of-pixel sampling grid
    ys = np.minimum(
        ((np.arange(out_h) + 0.5) * h / out_h).astype("int64"), h - 1
    )
    xs = np.minimum(
        ((np.arange(out_w) + 0.5) * w / out_w).astype("int64"), w - 1
    )
    resized = img[ys][:, xs]
    row.update(
        decoded=True, in_w=w, in_h=h,
        payload=bytearray(encode_ppm(np.ascontiguousarray(resized))),
    )
    return row


DHASH_SCHEMA = "media_id long, decoded boolean, dhash long"


def _dhash_row(media_id, kind, payload, hash_w: int, hash_h: int):
    """One `image_dhash` output row — module-level for fused
    kernels (see `_stats_row`)."""
    row = {"media_id": media_id, "decoded": False, "dhash": None}
    if payload is None or kind != "image":
        return row
    try:
        img = _decode_image(bytes(payload))
    except (NotImplementedError, ValueError):
        return row
    row.update(decoded=True, dhash=_dhash_of(img, hash_w, hash_h))
    return row


def _dhash_of(img, hash_w: int, hash_h: int) -> int:
    """dHash of one (h, w, 3) uint8 raster: integer-luma grayscale,
    center-of-pixel nearest-neighbor sample to (hash_w+1) x hash_h,
    one bit per horizontal neighbor pair. Shared by image_dhash and
    video_dhash so both modalities hash identically."""
    import numpy as np

    h, w, _ = img.shape
    px = img.astype("int64")
    gray = (px[:, :, 0] * 299 + px[:, :, 1] * 587 + px[:, :, 2] * 114) // 1000
    ys = np.minimum(
        ((np.arange(hash_h) + 0.5) * h / hash_h).astype("int64"), h - 1
    )
    xs = np.minimum(
        ((np.arange(hash_w + 1) + 0.5) * w / (hash_w + 1)).astype("int64"),
        w - 1,
    )
    g = gray[ys][:, xs]
    bits = (g[:, 1:] > g[:, :-1]).astype("int64")
    exps = np.arange(hash_h)[:, None] * hash_w + np.arange(hash_w)[None, :]
    return int((bits << exps).sum())


def image_dhash(
    media: DataFrame, hash_w: int = 8, hash_h: int = 7
) -> DataFrame:
    """Perceptual difference-hash (dHash) per image: decode, integer
    luma grayscale (g = (299r + 587g + 114b) // 1000 — integer
    division so a SQL oracle reproduces every bit), nearest-neighbor
    sample to a (hash_w+1) x hash_h grid with the same
    center-of-pixel rule as `_resize_row`, then one bit per
    horizontal neighbor pair: bit (y*hash_w + x) set iff
    g[y][x+1] > g[y][x]. Default 8x7 = 56 bits — fits a positive
    int64 in both Spark and DuckDB (64 bits would need the sign
    bit).

    Scale shape: identical to `extract_features` — blobs hash on
    the scan partitioning and never shuffle; only (id, int64) rows
    leave the stage. Downstream exact-dup clustering is a uniform
    groupBy on the hash; near-dup pairing composes with
    `dedup.simhash_candidate_pairs(bits=56)` (pigeonhole hamming
    banding — tested in test_multimodal.py)."""
    def one(media_id, kind, payload):
        return _dhash_row(media_id, kind, payload, hash_w, hash_h)

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                [
                    one(m, k, p)
                    for m, k, p in zip(pdf["media_id"], pdf["kind"], pdf["payload"])
                ]
            )

    return media.mapInPandas(op, schema=DHASH_SCHEMA)


FINGERPRINT_SCHEMA = "media_id long, decoded boolean, fingerprint long"


def _fingerprint_row(media_id, kind, payload, frame: int, n_frames: int):
    """One `audio_fingerprint` output row — module-level for fused
    kernels (see `_stats_row`)."""
    import numpy as np

    need = frame * n_frames
    row = {"media_id": media_id, "decoded": False, "fingerprint": None}
    if payload is None or kind != "audio":
        return row
    try:
        au = _decode_audio(bytes(payload))
    except (NotImplementedError, ValueError):
        return row
    pcm = au["pcm"].astype("float64").mean(axis=1)
    if pcm.size < need:
        return row
    frames = pcm[:need].reshape(n_frames, frame)
    spec = np.fft.rfft(frames, axis=1)
    mag2 = spec.real**2 + spec.imag**2
    # skip DC; argmax takes the FIRST (lowest) bin on ties —
    # matching the oracle's ORDER BY mag2 DESC, k
    bins = 1 + np.argmax(mag2[:, 1 : frame // 2 + 1], axis=1)
    fp = 0
    for f, b in enumerate(bins):
        fp |= int(b) << (6 * f)
    row.update(decoded=True, fingerprint=fp)
    return row


def audio_fingerprint(
    media: DataFrame, frame: int = 64, n_frames: int = 4
) -> DataFrame:
    """Constellation-style audio fingerprint (the Shazam landmark
    idea reduced to its deterministic core): the clip is cut into
    `n_frames` frames of `frame` samples, each frame's dominant
    non-DC spectral bin (squared-magnitude argmax, ties to the lower
    bin) is found, and the bin sequence packs into one int64
    (6 bits/frame). Identical audio => identical fingerprint, so
    downstream dedup is ONE uniform groupBy on the fingerprint —
    the audio counterpart of image_dhash's exact-hash buckets.

    Scale shape: decode + FFT run mapInPandas on the scan
    partitioning; blobs never shuffle, one (id, int64) row leaves
    per clip."""
    def one(media_id, kind, payload):
        return _fingerprint_row(media_id, kind, payload, frame, n_frames)

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                [
                    one(m, k, p)
                    for m, k, p in zip(pdf["media_id"], pdf["kind"], pdf["payload"])
                ]
            )

    return media.mapInPandas(op, schema=FINGERPRINT_SCHEMA)


SPECTRUM_SCHEMA = (
    "media_id long, decoded boolean, sample_rate int, "
    "dominant_hz double, spectral_centroid double"
)


def _spectrum_row(media_id, kind, payload):
    """One `audio_spectrum` output row — module-level for fused
    kernels (see `_stats_row`)."""
    import numpy as np

    row = {
        "media_id": media_id, "decoded": False,
        "sample_rate": None, "dominant_hz": None,
        "spectral_centroid": None,
    }
    if payload is None or kind != "audio":
        return row
    try:
        au = _decode_audio(bytes(payload))
    except (NotImplementedError, ValueError):
        return row
    pcm = au["pcm"].astype("float64").mean(axis=1)
    if pcm.size < 2:
        return row
    mag = np.abs(np.fft.rfft(pcm))
    freqs = np.fft.rfftfreq(pcm.size, d=1.0 / au["sample_rate"])
    dom = 1 + int(np.argmax(mag[1:]))  # skip the DC bin
    total = float(mag.sum())
    row.update(
        decoded=True,
        sample_rate=au["sample_rate"],
        dominant_hz=float(freqs[dom]),
        spectral_centroid=(
            float((freqs * mag).sum() / total) if total > 0 else 0.0
        ),
    )
    return row


def audio_spectrum(media: DataFrame) -> DataFrame:
    """REAL spectral features for PCM WAV over mapInPandas: mono-mix
    the channels, rFFT (numpy), and emit the dominant frequency (max
    magnitude bin above DC) and the spectral centroid in Hz.
    Undecodable/empty audio yields decoded=false. Blobs never
    shuffle; two doubles per clip do."""
    one = _spectrum_row

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                [
                    one(m, k, p)
                    for m, k, p in zip(pdf["media_id"], pdf["kind"], pdf["payload"])
                ]
            )

    return media.mapInPandas(op, schema=SPECTRUM_SCHEMA)


# ---------------------------------------------------------------------------
# deterministic fixture-media synthesis (drives the oracle-checked
# decode/resize/spectrum catalog queries — the fixture tables carry no
# real blobs, so media derives reproducibly from doc ids)


def synthesize_images(ids: DataFrame, id_col: str = "media_id") -> DataFrame:
    """Deterministic P6 PPM per id: w = 4 + id % 5, h = 2 + id % 3,
    pixel(y, x, c) = (id*7 + y*13 + x*17 + c*29) % 256. Pure integer
    arithmetic, so a SQL oracle can reproduce any pixel (and anything
    derived from it) without a codec. mapInPandas keeps blobs on the
    scan partitioning."""
    one = _synth_image_row

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame([one(int(m)) for m in pdf[id_col]])

    return ids.mapInPandas(
        op, schema="media_id long, kind string, payload binary"
    )


def _synth_image_row(mid: int) -> dict:
    """One `synthesize_images` output row — module-level for fused
    kernels (see `_stats_row`)."""
    import numpy as np

    w, h = 4 + mid % 5, 2 + mid % 3
    y, x, c = np.ogrid[0:h, 0:w, 0:3]
    img = ((mid * 7 + y * 13 + x * 17 + c * 29) % 256).astype("uint8")
    return {
        "media_id": mid,
        "kind": "image",
        "payload": bytearray(encode_ppm(np.ascontiguousarray(img))),
    }


def synthesize_wavs(
    ids: DataFrame,
    id_col: str = "media_id",
    sample_rate: int = 8000,
    n_samples: int = 64,
) -> DataFrame:
    """Deterministic mono 16-bit PCM WAV per id: sample_i =
    ((id*31 + i*i*7) % 2001) - 1000 — integer pseudo-noise whose DFT
    a SQL oracle can recompute term-by-term."""
    def one(mid: int) -> dict:
        return _synth_wav_row(mid, sample_rate, n_samples)

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame([one(int(m)) for m in pdf[id_col]])

    return ids.mapInPandas(
        op, schema="media_id long, kind string, payload binary"
    )


def _synth_wav_row(mid: int, sample_rate: int, n_samples: int) -> dict:
    """One `synthesize_wavs` output row — module-level for fused
    kernels (see `_stats_row`)."""
    import struct

    samples = [
        ((mid * 31 + i * i * 7) % 2001) - 1000 for i in range(n_samples)
    ]
    data = struct.pack(f"<{n_samples}h", *samples)
    hdr = (
        b"RIFF"
        + struct.pack("<I", 36 + len(data))
        + b"WAVEfmt "
        + struct.pack("<IHHIIHH", 16, 1, 1, sample_rate,
                      sample_rate * 2, 2, 16)
        + b"data"
        + struct.pack("<I", len(data))
    )
    return {
        "media_id": mid,
        "kind": "audio",
        "payload": bytearray(hdr + data),
    }


# ---------------------------------------------------------------------------
# video: uncompressed frame container (real end-to-end path)

# Toy-but-real container for the video pipeline: b"PPMV" + u32be
# n_frames + u32be fps_milli + concatenated P6 PPM frames. Compressed
# codecs would require PyAV/ffmpeg; this container is what the
# pipeline uses to exercise REAL frame extraction end-to-end —
# parse, seek, per-frame decode, sampling — with stdlib+numpy only.
# The schema/partitioning/UDF shape is identical for an
# ffmpeg-backed decoder.

PPMV_MAGIC = b"PPMV"


def encode_ppmv(frames, fps_milli: int = 1000) -> bytes:
    """frames: list of (h, w, 3) uint8 arrays -> PPMV blob."""
    out = [PPMV_MAGIC, len(frames).to_bytes(4, "big"),
           int(fps_milli).to_bytes(4, "big")]
    out += [encode_ppm(f) for f in frames]
    return b"".join(out)


def decode_ppmv(payload: bytes):
    """PPMV blob -> (fps_milli, [frame arrays]). Frames are parsed
    sequentially (each PPM header carries its own length)."""
    if not payload.startswith(PPMV_MAGIC):
        raise ValueError("not a PPMV container")
    n = int.from_bytes(payload[4:8], "big")
    fps_milli = int.from_bytes(payload[8:12], "big")
    frames = []
    off = 12
    for _ in range(n):
        img = decode_ppm(payload[off:])
        h, w, _ = img.shape
        header = f"P6\n{w} {h}\n255\n".encode()
        off += len(header) + w * h * 3
        frames.append(img)
    return fps_milli, frames


def synthesize_videos(
    ids: DataFrame, id_col: str = "media_id", n_frames_base: int = 3
) -> DataFrame:
    """Deterministic PPMV per id: 3 + id % 3 frames of the
    synthesize_images pixel formula shifted per frame."""
    def one(mid: int) -> dict:
        return _synth_video_row(mid, n_frames_base)

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame([one(int(m)) for m in pdf[id_col]])

    return ids.mapInPandas(
        op, schema="media_id long, kind string, payload binary"
    )


def _synth_video_row(mid: int, n_frames_base: int) -> dict:
    """One `synthesize_videos` output row — module-level for fused
    kernels (see `_stats_row`)."""
    import numpy as np

    n = n_frames_base + mid % 3
    frames = []
    for f in range(n):
        w, h = 4 + mid % 5, 2 + mid % 3
        y, x, c = np.ogrid[0:h, 0:w, 0:3]
        img = ((mid * 7 + f * 41 + y * 13 + x * 17 + c * 29) % 256).astype(
            "uint8"
        )
        frames.append(np.ascontiguousarray(img))
    return {
        "media_id": mid,
        "kind": "video",
        "payload": bytearray(encode_ppmv(frames, fps_milli=2000)),
    }


FRAME_SCHEMA = (
    "media_id long, frame_id int, ts_ms long, width int, height int, "
    "mean_r double, mean_g double, mean_b double"
)


VIDEO_DHASH_SCHEMA = "media_id long, frame_id int, dhash long"


def video_dhash(
    media: DataFrame,
    every_n: int = 1,
    hash_w: int = 8,
    hash_h: int = 7,
) -> DataFrame:
    """Per-frame perceptual dHash over the REAL video decode path:
    parse the PPMV container, hash every `every_n`-th frame with the
    SAME 56-bit dHash as still images (`_dhash_of`), emit one
    (media_id, frame ordinal, dhash) row per sampled frame. A
    video-level fingerprint is then md5 of the frame-ordered hash
    sequence (queries.video_fingerprint_dedup) — temporal
    re-orderings hash differently, re-encodes of identical frames
    hash the same. Blobs never shuffle; a handful of int64 rows per
    clip do."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:
                    continue
                try:
                    _fps, frames = decode_ppmv(bytes(payload))
                except Exception:
                    continue
                for i in range(0, len(frames), every_n):
                    rows.append(
                        (int(mid), i, _dhash_of(frames[i], hash_w, hash_h))
                    )
            yield pd.DataFrame(
                rows, columns=["media_id", "frame_id", "dhash"]
            )

    return media.mapInPandas(op, schema=VIDEO_DHASH_SCHEMA)


# ---------------------------------------------------------------------------
# fused synthesis pipelines (r12): each synthesize_* -> kernel chain
# used by a catalog query crossed the JVM<->Python boundary once per
# kernel — every MapInPandas node is its own PythonRunner, so a
# 3-stage chain serialized the blobs through Arrow three times just
# to hand them to the next Python function. These entry points run
# module-level row transforms (the chained mapInPandas forms survive
# as test oracles, parity-tested) composed inside ONE
# mapInPandas pass: one boundary crossing, blobs never leave the
# Python worker between steps (guide §4). Output schemas/rows are
# identical to the chained forms.


def synth_image_stats_resized(
    ids: DataFrame, out_w: int, out_h: int, id_col: str = "media_id"
) -> DataFrame:
    """Fused synthesize_images -> nearest-neighbor resize ->
    per-blob decode stats (the multimodal_resize query path), one
    Python pass."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for m in pdf[id_col]:
                s = _synth_image_row(int(m))
                r = _resize_row(
                    s["media_id"], s["kind"], s["payload"], out_w, out_h
                )
                rows.append(_stats_row(r["media_id"], "image", r["payload"]))
            yield pd.DataFrame(rows)

    return ids.mapInPandas(op, schema=MEDIA_STATS_SCHEMA)


def synth_wav_spectrum(
    ids: DataFrame,
    id_col: str = "media_id",
    sample_rate: int = 8000,
    n_samples: int = 64,
) -> DataFrame:
    """Fused synthesize_wavs -> audio_spectrum (the audio_spectrum
    query path), one Python pass."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for m in pdf[id_col]:
                s = _synth_wav_row(int(m), sample_rate, n_samples)
                rows.append(
                    _spectrum_row(s["media_id"], s["kind"], s["payload"])
                )
            yield pd.DataFrame(rows)

    return ids.mapInPandas(op, schema=SPECTRUM_SCHEMA)


def synth_image_dhash(
    ids: DataFrame,
    id_col: str = "media_id",
    hash_w: int = 8,
    hash_h: int = 7,
) -> DataFrame:
    """Fused synthesize_images -> image_dhash (image_phash_dedup and
    the frame_match_search probe side), one Python pass."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for m in pdf[id_col]:
                s = _synth_image_row(int(m))
                rows.append(
                    _dhash_row(
                        s["media_id"], s["kind"], s["payload"],
                        hash_w, hash_h,
                    )
                )
            yield pd.DataFrame(rows)

    return ids.mapInPandas(op, schema=DHASH_SCHEMA)


def synth_wav_fingerprint(
    ids: DataFrame,
    id_col: str = "media_id",
    sample_rate: int = 8000,
    n_samples: int = 256,
    frame: int = 64,
    n_frames: int = 4,
) -> DataFrame:
    """Fused synthesize_wavs -> audio_fingerprint
    (audio_fingerprint_dedup), one Python pass.

    Default n_samples is frame * n_frames (ADVICE r12): the
    fingerprint needs frame*n_frames PCM samples, so a shorter synth
    clip silently yields decoded=False for every row. An explicitly
    shorter n_samples is allowed (it is how the too-short path is
    tested) but warns."""
    if n_samples < frame * n_frames:
        import warnings

        warnings.warn(
            f"synth_wav_fingerprint: n_samples={n_samples} < "
            f"frame*n_frames={frame * n_frames}; every row will be "
            "decoded=False",
            stacklevel=2,
        )

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for m in pdf[id_col]:
                s = _synth_wav_row(int(m), sample_rate, n_samples)
                rows.append(
                    _fingerprint_row(
                        s["media_id"], s["kind"], s["payload"],
                        frame, n_frames,
                    )
                )
            yield pd.DataFrame(rows)

    return ids.mapInPandas(op, schema=FINGERPRINT_SCHEMA)


def synth_video_dhash(
    ids: DataFrame,
    id_col: str = "media_id",
    n_frames_base: int = 3,
    every_n: int = 1,
    hash_w: int = 8,
    hash_h: int = 7,
) -> DataFrame:
    """Fused synthesize_videos -> video_dhash (video_fingerprint_dedup
    and the frame_match_search frame side), one Python pass."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for m in pdf[id_col]:
                s = _synth_video_row(int(m), n_frames_base)
                try:
                    _fps, frames = decode_ppmv(bytes(s["payload"]))
                except Exception:
                    continue
                for i in range(0, len(frames), every_n):
                    rows.append(
                        (int(m), i, _dhash_of(frames[i], hash_w, hash_h))
                    )
            yield pd.DataFrame(
                rows, columns=["media_id", "frame_id", "dhash"]
            )

    return ids.mapInPandas(op, schema=VIDEO_DHASH_SCHEMA)


def synth_video_frames(
    ids: DataFrame,
    id_col: str = "media_id",
    n_frames_base: int = 3,
    every_n: int = 1,
) -> DataFrame:
    """Fused synthesize_videos -> per-frame stat extraction
    (video_frames), one Python pass: one row per `every_n`-th frame
    (ordinal, timestamp from the container fps, dims, channel
    means); undecodable payloads are skipped."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for m in pdf[id_col]:
                s = _synth_video_row(int(m), n_frames_base)
                try:
                    fps_milli, frames = decode_ppmv(bytes(s["payload"]))
                except Exception:
                    continue
                frame_ms = 1_000_000 // max(fps_milli, 1)
                for i in range(0, len(frames), every_n):
                    img = frames[i]
                    h, w, _ = img.shape
                    means = img.reshape(-1, 3).mean(axis=0)
                    rows.append(
                        (int(m), i, i * frame_ms, w, h,
                         float(means[0]), float(means[1]), float(means[2]))
                    )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "frame_id", "ts_ms", "width",
                         "height", "mean_r", "mean_g", "mean_b"],
            )

    return ids.mapInPandas(op, schema=FRAME_SCHEMA)
