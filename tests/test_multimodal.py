"""Multimodal plumbing: binary columns through mapInPandas. PPM/BMP
images, WAV audio and the PPMV video container decode natively;
formats whose codecs are absent come back undecoded, not failed."""

from kernel_oracles import extract_frames, extract_media_stats, resize_images
from pyspark.sql import functions as F
from pyspark.sql import types as T

from reader_spark.operators import multimodal as MM

# Media-row schema: opaque payload + typed metadata.
MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image|audio|video
        T.StructField("mime", T.StringType(), True),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("duration_ms", T.LongType()),
                    T.StructField("sample_rate", T.IntegerType()),
                ]
            ),
            True,
        ),
    ]
)


def media_df(spark):
    rows = [
        (1, "image", "image/png", bytearray(b"\x89PNG-fake-1"),
         (640, 480, None, None)),
        (2, "image", "image/png", bytearray(b"\x89PNG-fake-2"),
         (64, 64, None, None)),
        (3, "video", "video/mp4", bytearray(b"mp4-fake"),
         (1920, 1080, 3500, None)),
        (4, "audio", "audio/wav", None, (None, None, 2000, 16000)),
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def test_extract_features_shape(spark):
    out = MM.extract_features(media_df(spark), dim=8).collect()
    by_id = {r["media_id"]: r for r in out}
    assert len(out) == 4
    assert by_id[1]["n_bytes"] == 11
    assert len(by_id[1]["feat"]) == 8
    assert all(0.0 <= x <= 1.0 for x in by_id[1]["feat"])
    # deterministic: same bytes -> same features
    again = {r["media_id"]: r for r in MM.extract_features(media_df(spark), dim=8).collect()}
    assert again[2]["feat"] == by_id[2]["feat"]
    assert by_id[1]["feat"] != by_id[2]["feat"]
    # null payload propagates
    assert by_id[4]["sha256"] is None and by_id[4]["feat"] is None


def test_decoder_stub_raises_not_implemented():
    import pytest

    with pytest.raises((NotImplementedError, Exception)):
        MM._decode_image(b"not-an-image")


def _ppm_bytes(w, h, rgb):
    header = f"P6\n# test\n{w} {h}\n255\n".encode()
    return header + bytes(rgb)


def _bmp_bytes(w, h, rgb_rows):
    # 24-bit BI_RGB bottom-up with row padding
    import struct

    stride = (w * 3 + 3) & ~3
    raster = b""
    for row in reversed(rgb_rows):  # bottom-up storage
        line = b"".join(bytes([b, g, r]) for (r, g, b) in row)  # BGR
        raster += line + b"\x00" * (stride - len(line))
    offset = 14 + 40
    size = offset + len(raster)
    return (
        b"BM" + struct.pack("<IHHI", size, 0, 0, offset)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(raster), 0, 0, 0, 0)
        + raster
    )


def _wav_bytes(sr, samples):
    import io
    import struct
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(sr)
        wf.writeframes(b"".join(struct.pack("<h", s) for s in samples))
    return buf.getvalue()


def test_decode_ppm_and_bmp_agree():
    from reader_spark.operators import multimodal as MM

    # 2x2 image: R G / B W
    pix = [[(255, 0, 0), (0, 255, 0)], [(0, 0, 255), (255, 255, 255)]]
    flat = [c for row in pix for p in row for c in p]
    ppm = MM.decode_ppm(_ppm_bytes(2, 2, flat))
    bmp = MM.decode_bmp(_bmp_bytes(2, 2, pix))
    assert ppm.shape == (2, 2, 3) == bmp.shape
    assert (ppm == bmp).all()
    assert tuple(ppm[0, 0]) == (255, 0, 0) and tuple(ppm[1, 1]) == (255, 255, 255)


def test_decode_wav_pcm():
    from reader_spark.operators import multimodal as MM

    au = MM.decode_wav(_wav_bytes(8000, [0, 1000, -1000, 0] * 100))
    assert au["sample_rate"] == 8000
    assert au["n_frames"] == 400
    assert au["duration_ms"] == 50
    assert au["pcm"].shape == (400, 1)


def test_extract_media_stats_mixed_corpus(spark):
    from reader_spark.operators import multimodal as MM

    pix = [[(10, 20, 30), (10, 20, 30)]]
    flat = [c for row in pix for p in row for c in p]
    rows = [
        (1, "image", "image/x-ppm", bytearray(_ppm_bytes(2, 1, flat)), None),
        (2, "image", "image/bmp", bytearray(_bmp_bytes(2, 1, pix)), None),
        (3, "audio", "audio/wav", bytearray(_wav_bytes(16000, [100] * 160)), None),
        (4, "image", "image/jpeg", bytearray(b"\xff\xd8\xff\xe0junk"), None),  # no codec
        (5, "video", "video/mp4", bytearray(b"....ftyp"), None),
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = {r["media_id"]: r for r in extract_media_stats(df).collect()}
    assert out[1]["decoded"] and out[1]["width"] == 2 and out[1]["height"] == 1
    assert out[1]["mean_r"] == 10.0 and out[1]["mean_b"] == 30.0
    assert out[2]["decoded"] and out[2]["mean_g"] == 20.0
    assert out[3]["decoded"] and out[3]["sample_rate"] == 16000
    assert out[3]["duration_ms"] == 10 and abs(out[3]["rms"] - 100.0) < 1e-9
    assert not out[4]["decoded"] and out[4]["width"] is None
    assert not out[5]["decoded"]


def test_resize_images_nearest_neighbor(spark):
    import math

    from reader_spark.operators import multimodal as MM

    # 4x2 image with distinct quadrant colors; downsample to 2x1
    pix = [
        [(255, 0, 0), (255, 0, 0), (0, 255, 0), (0, 255, 0)],
        [(255, 0, 0), (255, 0, 0), (0, 255, 0), (0, 255, 0)],
    ]
    flat = [c for row in pix for p in row for c in p]
    rows = [
        (1, "image", "image/x-ppm", bytearray(_ppm_bytes(4, 2, flat)), None),
        (2, "image", "image/jpeg", bytearray(b"\xff\xd8junk"), None),
        (3, "audio", "audio/wav", bytearray(b"RIFFjunk"), None),
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = {r["media_id"]: r for r in resize_images(df, 2, 1).collect()}
    assert out[1]["decoded"] and (out[1]["in_w"], out[1]["in_h"]) == (4, 2)
    resized = MM.decode_ppm(bytes(out[1]["payload"]))
    assert resized.shape == (1, 2, 3)
    assert tuple(resized[0, 0]) == (255, 0, 0)   # left half -> red
    assert tuple(resized[0, 1]) == (0, 255, 0)   # right half -> green
    assert not out[2]["decoded"] and out[2]["payload"] is None
    assert not out[3]["decoded"]  # wrong kind never decodes
    # upsample keeps content: 1x1 -> 3x3 all the same pixel
    one = [[(9, 8, 7)]]
    df2 = spark.createDataFrame(
        [(9, "image", "image/x-ppm",
          bytearray(_ppm_bytes(1, 1, [9, 8, 7])), None)],
        MEDIA_SCHEMA,
    )
    up = resize_images(df2, 3, 3).collect()[0]
    img = MM.decode_ppm(bytes(up["payload"]))
    assert img.shape == (3, 3, 3) and (img == [9, 8, 7]).all()


def test_audio_spectrum_dominant_frequency(spark):
    import math

    from reader_spark.operators import multimodal as MM

    sr, n, f0 = 8000, 800, 440.0
    samples = [
        int(10000 * math.sin(2 * math.pi * f0 * i / sr)) for i in range(n)
    ]
    rows = [
        (1, "audio", "audio/wav", bytearray(_wav_bytes(sr, samples)), None),
        (2, "audio", "audio/mp3", bytearray(b"ID3junk"), None),
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = {r["media_id"]: r for r in MM.audio_spectrum(df).collect()}
    assert out[1]["decoded"] and out[1]["sample_rate"] == sr
    # bin resolution is sr/n = 10 Hz; 440 lands on a bin exactly
    assert abs(out[1]["dominant_hz"] - f0) < 10.0
    assert out[1]["spectral_centroid"] > 0
    assert not out[2]["decoded"]


def test_synthesize_and_resize_pipeline(spark):
    from reader_spark.operators import multimodal as MM

    ids = spark.createDataFrame([(7,), (42,)], "media_id long")
    media = {r["media_id"]: r for r in MM.synthesize_images(ids).collect()}
    img42 = MM.decode_ppm(bytes(media[42]["payload"]))
    # w = 4 + 42%5 = 6, h = 2 + 42%3 = 2
    assert img42.shape == (2, 6, 3)
    assert img42[1, 2, 1] == (42 * 7 + 1 * 13 + 2 * 17 + 1 * 29) % 256
    out = {
        r["media_id"]: r
        for r in resize_images(MM.synthesize_images(ids), 3, 2).collect()
    }
    assert out[42]["decoded"] and (out[42]["out_w"], out[42]["out_h"]) == (3, 2)
    resized = MM.decode_ppm(bytes(out[42]["payload"]))
    # nearest-neighbor source row/col per the documented center grid
    assert resized[0, 0, 0] == img42[0, 1, 0]


def test_synthesize_wav_spectrum(spark):
    from reader_spark.operators import multimodal as MM

    ids = spark.createDataFrame([(5,)], "media_id long")
    out = MM.audio_spectrum(MM.synthesize_wavs(ids)).collect()[0]
    assert out["decoded"] and out["sample_rate"] == 8000
    # dominant bin is a multiple of sr/n = 125 Hz
    assert out["dominant_hz"] % 125.0 == 0.0
    assert out["spectral_centroid"] > 0


def test_video_frame_extraction_end_to_end(spark):
    import numpy as np

    from reader_spark.operators import multimodal as MM

    ids = spark.range(0, 6).selectExpr("id AS media_id")
    vids = MM.synthesize_videos(ids)
    out = extract_frames(vids).collect()
    by = {}
    for r in out:
        by.setdefault(r["media_id"], []).append(r)
    for mid in range(6):
        rows = sorted(by[mid], key=lambda r: r["frame_id"])
        assert len(rows) == 3 + mid % 3
        # independent per-frame recomputation of dims and means
        for f, r in enumerate(rows):
            w, h = 4 + mid % 5, 2 + mid % 3
            assert (r["width"], r["height"]) == (w, h)
            y, x, c = np.ogrid[0:h, 0:w, 0:3]
            img = (mid * 7 + f * 41 + y * 13 + x * 17 + c * 29) % 256
            means = img.reshape(-1, 3).mean(axis=0)
            assert abs(r["mean_r"] - means[0]) < 1e-9
            assert abs(r["mean_b"] - means[2]) < 1e-9
            assert r["ts_ms"] == f * 500  # 2 fps container
    # sampling: every 2nd frame only
    sampled = extract_frames(vids, every_n=2).collect()
    assert {r["frame_id"] for r in sampled} <= {0, 2, 4}
    # corrupt payload is skipped, not fatal
    bad = spark.createDataFrame(
        [(99, "video", bytearray(b"nope"))],
        "media_id long, kind string, payload binary",
    )
    assert extract_frames(bad).count() == 0


def test_ppmv_roundtrip():
    import numpy as np

    from reader_spark.operators import multimodal as MM

    frames = [
        np.arange(24, dtype=np.uint8).reshape(2, 4, 3),
        np.full((2, 4, 3), 7, dtype=np.uint8),
    ]
    blob = MM.encode_ppmv(frames, fps_milli=5000)
    fps, back = MM.decode_ppmv(blob)
    assert fps == 5000 and len(back) == 2
    assert (back[0] == frames[0]).all() and (back[1] == frames[1]).all()


def test_image_dhash_exact_and_hamming_pairs(spark):
    """dHash bits match an independent numpy recomputation, and the
    56-bit hash composes with the pigeonhole hamming banding
    (simhash_candidate_pairs) exactly — banding finds precisely the
    brute-force pairs within the threshold."""
    import numpy as np

    from reader_spark.operators import dedup as DD
    from reader_spark.operators import multimodal as MM

    n = 40
    ids = spark.createDataFrame([(i,) for i in range(n)], "media_id long")
    hashes = MM.image_dhash(MM.synthesize_images(ids))
    got = {r["media_id"]: r["dhash"] for r in hashes.collect()}

    def ref_dhash(mid, HW=8, HH=7):
        w, h = 4 + mid % 5, 2 + mid % 3
        y, x, c = np.ogrid[0:h, 0:w, 0:3]
        img = ((mid * 7 + y * 13 + x * 17 + c * 29) % 256).astype("int64")
        gray = (img[:, :, 0] * 299 + img[:, :, 1] * 587 + img[:, :, 2] * 114) // 1000
        ys = np.minimum(((np.arange(HH) + 0.5) * h / HH).astype("int64"), h - 1)
        xs = np.minimum(
            ((np.arange(HW + 1) + 0.5) * w / (HW + 1)).astype("int64"), w - 1
        )
        g = gray[ys][:, xs]
        bits = (g[:, 1:] > g[:, :-1]).astype("int64")
        exps = np.arange(HH)[:, None] * HW + np.arange(HW)[None, :]
        return int((bits << exps).sum())

    for mid in range(n):
        assert got[mid] == ref_dhash(mid), mid
        assert 0 <= got[mid] < 1 << 56

    # near-dup composition: banding == brute force at hamming <= 3
    pairs = DD.simhash_candidate_pairs(
        hashes.select("media_id", F.col("dhash").alias("simhash")),
        id_col="media_id",
        bits=56,
        n_bands=4,
        max_hamming=3,
    )
    got_pairs = {
        (r["doc_a"], r["doc_b"], r["hamming"]) for r in pairs.collect()
    }
    want = set()
    for a in range(n):
        for b in range(a + 1, n):
            d = bin(got[a] ^ got[b]).count("1")
            if d <= 3:
                want.add((a, b, d))
    assert got_pairs == want


def test_image_dhash_undecodable(spark):
    from reader_spark.operators import multimodal as MM

    bad = spark.createDataFrame(
        [(1, "image", bytearray(b"JFIF...")), (2, "audio", bytearray(b"x"))],
        "media_id long, kind string, payload binary",
    )
    rows = {r["media_id"]: r for r in MM.image_dhash(bad).collect()}
    assert not rows[1]["decoded"] and rows[1]["dhash"] is None
    assert not rows[2]["decoded"]


def test_audio_fingerprint_identity_and_robustness(spark):
    from reader_spark.operators import multimodal as MM

    ids = spark.createDataFrame(
        [(5,), (5 + 2001,), (6,), (7,)], "media_id long"
    )
    fp = {
        r["media_id"]: r["fingerprint"]
        for r in MM.audio_fingerprint(
            MM.synthesize_wavs(ids, n_samples=256)
        ).collect()
    }
    # identical signals (period 2001 in the id) => identical prints
    assert fp[5] == fp[5 + 2001]
    # fingerprints are 24-bit packed bin sequences
    assert all(0 <= v < 1 << 24 for v in fp.values())
    # undecodable payloads degrade, never fail
    bad = spark.createDataFrame(
        [(1, "audio", bytearray(b"mp3junk")), (2, "image", bytearray(b"x"))],
        "media_id long, kind string, payload binary",
    )
    rows = {r["media_id"]: r for r in MM.audio_fingerprint(bad).collect()}
    assert not rows[1]["decoded"] and rows[1]["fingerprint"] is None
    assert not rows[2]["decoded"]


def test_video_dhash_matches_image_dhash_per_frame(spark):
    """Each sampled video frame hashes exactly like the same raster
    hashed as a still image, and corrupt containers are skipped."""
    import numpy as np

    from reader_spark.operators import multimodal as MM

    # one synthetic 3-frame video
    frames = [
        ((np.arange(2 * 4 * 3, dtype=np.int64) * (7 + f)) % 256)
        .astype("uint8").reshape(2, 4, 3)
        for f in range(3)
    ]
    vid = spark.createDataFrame(
        [(1, "video", bytearray(MM.encode_ppmv(frames, fps_milli=1000)))],
        "media_id long, kind string, payload binary",
    )
    got = {
        r["frame_id"]: r["dhash"] for r in MM.video_dhash(vid).collect()
    }
    assert set(got) == {0, 1, 2}
    for f, img in enumerate(frames):
        assert got[f] == MM._dhash_of(img, 8, 7), f
    # every-2nd sampling
    sampled = MM.video_dhash(vid, every_n=2).collect()
    assert {r["frame_id"] for r in sampled} == {0, 2}
    # corrupt container skipped
    bad = spark.createDataFrame(
        [(9, "video", bytearray(b"nope"))],
        "media_id long, kind string, payload binary",
    )
    assert MM.video_dhash(bad).count() == 0


def test_fused_synth_pipelines_match_chained(spark):
    """The r12 fused synthesize->kernel entry points must emit
    byte-identical rows to the chained mapInPandas forms they
    replace in the catalog (single-source row transforms)."""
    ids = spark.range(0, 40).select(F.col("id").alias("media_id"))

    def rows(df):
        return sorted(
            [tuple(r) for r in df.collect()],
            key=lambda t: tuple((v is None, v) for v in t),
        )

    chained_resize = extract_media_stats(
        resize_images(MM.synthesize_images(ids), 3, 2).select(
            "media_id", F.lit("image").alias("kind"), "payload"
        )
    )
    assert rows(MM.synth_image_stats_resized(ids, 3, 2)) == rows(
        chained_resize
    )
    assert rows(MM.synth_wav_spectrum(ids)) == rows(
        MM.audio_spectrum(MM.synthesize_wavs(ids))
    )
    assert rows(MM.synth_image_dhash(ids)) == rows(
        MM.image_dhash(MM.synthesize_images(ids))
    )
    assert rows(MM.synth_wav_fingerprint(ids, n_samples=256)) == rows(
        MM.audio_fingerprint(MM.synthesize_wavs(ids, n_samples=256))
    )
    assert rows(MM.synth_video_dhash(ids)) == rows(
        MM.video_dhash(MM.synthesize_videos(ids))
    )
    assert rows(MM.synth_video_frames(ids)) == rows(
        extract_frames(MM.synthesize_videos(ids))
    )
