"""Multimodal binary-column plumbing tests."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from crawler_spark.functions.payload import decode_payload, encode_payload, phash64, pixels_for
from crawler_spark.operators import multimodal as mm


@pytest.fixture(scope="module")
def images(spark):
    rows = []
    for i in range(6):
        iid = f"img_{i:08d}"
        w, h = (32, 64) if i % 2 else (64, 32)
        rows.append((iid, encode_payload(pixels_for(iid, w, h)), w, h, "raw"))
    rows.append(("img_broken", b"\x00\x01", 32, 32, "raw"))  # bad size
    rows.append(("img_png", b"\x89PNG", 32, 32, "png"))  # truncated png
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["image_id", "bytes", "w", "h", "fmt"])
    )


def test_image_features(images):
    out = {r["image_id"]: r for r in mm.image_features(images).collect()}
    assert len(out) == 8
    ok = out["img_00000000"]
    assert ok["decode_ok"] == 1
    assert ok["phash"] == phash64(pixels_for("img_00000000", 64, 32))
    assert len(ok["mean_rgb"]) == 3 and all(0 <= m <= 255 for m in ok["mean_rgb"])
    # failures degrade gracefully, not crash the batch
    assert out["img_broken"]["decode_ok"] == 0 and out["img_broken"]["phash"] is None
    assert out["img_png"]["decode_ok"] == 0  # truncated png -> ValueError caught


def test_resize_images(images):
    good = images.filter(~F.col("image_id").isin("img_broken", "img_png"))
    out = {r["image_id"]: r for r in mm.resize_images(good, 16, 16).collect()}
    for iid, r in out.items():
        assert (r["w"], r["h"]) == (16, 16)
        px = decode_payload(bytes(r["bytes"]), 16, 16)
        assert px.shape == (16, 16, 3)
    # deterministic: resize twice -> identical bytes
    out2 = {r["image_id"]: r for r in mm.resize_images(good, 16, 16).collect()}
    assert all(bytes(out[i]["bytes"]) == bytes(out2[i]["bytes"]) for i in out)


def test_audio_features_pcm(spark):
    """Raw int16 PCM is a REAL modality here (numpy decode): mono and
    stereo payloads produce correct duration/RMS/peak/ZCR; compressed
    formats and corrupt payloads degrade per row, not per batch."""
    import numpy as np
    import pandas as pd

    mono = mm.synth_pcm("au_5", n_samples=800)
    # stereo: interleave the mono stream with its negation -> channel
    # mean 0 -> rms 0, zcr 0, but peak is per-channel amplitude
    v = np.frombuffer(mono, dtype="<i2").astype(np.int64)
    stereo = np.empty(1600, dtype="<i2")
    stereo[0::2] = v
    stereo[1::2] = -v
    rows = pd.DataFrame(
        {
            "audio_id": ["a_mono", "a_stereo", "a_bad", "a_mp3"],
            "bytes": [mono, stereo.tobytes(), b"\x01\x02\x03", mono],
            "sample_rate": [8000, 8000, 8000, 8000],
            "n_channels": [1, 2, 2, 1],
            "fmt": ["pcm16", "pcm16", "pcm16", "mp3"],
        }
    )
    df = spark.createDataFrame(rows)
    out = {r["audio_id"]: r for r in mm.audio_features(df).collect()}

    m = out["a_mono"]
    assert m["decode_ok"] == 1 and m["n_samples"] == 800
    assert m["duration_s"] == 0.1
    ref = np.frombuffer(mono, dtype="<i2").astype(np.float64)
    assert abs(m["rms"] - float(np.sqrt(np.mean(ref**2)))) < 1e-5
    assert m["peak"] == int(np.max(np.abs(ref)))
    s = out["a_stereo"]
    assert s["decode_ok"] == 1 and s["n_samples"] == 800
    assert s["rms"] == 0.0 and s["peak"] == int(np.max(np.abs(ref)))
    assert out["a_bad"]["decode_ok"] == 0 and out["a_bad"]["rms"] is None
    assert out["a_mp3"]["decode_ok"] == 0  # codec stub path


def test_wav_container_roundtrip_and_features(spark):
    """'wav' is a REAL modality: stdlib RIFF parse, chunk skipping,
    header-vs-metadata cross-check, identical features to the same
    samples shipped as bare pcm16."""
    import struct

    import numpy as np
    import pandas as pd

    mono = np.frombuffer(mm.synth_pcm("au_9", n_samples=800), dtype="<i2").reshape(-1, 1)
    wav = mm.encode_wav(mono, 8000)
    # pure decode round-trip
    pcm, rate = mm.decode_wav(wav)
    assert rate == 8000 and np.array_equal(pcm, mono)
    # an unknown odd-length chunk before fmt must be skipped (word-aligned)
    junk = b"LIST" + struct.pack("<I", 3) + b"xyz\x00"
    wav_junk = wav[:12] + junk + wav[12:]
    wav_junk = b"RIFF" + struct.pack("<I", len(wav_junk) - 8) + wav_junk[8:]
    pcm2, _ = mm.decode_wav(wav_junk)
    assert np.array_equal(pcm2, mono)

    rows = pd.DataFrame(
        {
            "audio_id": ["w_ok", "w_junk", "w_mismatch", "p_ref"],
            "bytes": [wav, wav_junk, wav, mono.tobytes()],
            "sample_rate": [8000, 8000, 44100, 8000],  # w_mismatch lies
            "n_channels": [1, 1, 1, 1],
            "fmt": ["wav", "wav", "wav", "pcm16"],
        }
    )
    out = {r["audio_id"]: r for r in mm.audio_features(spark.createDataFrame(rows)).collect()}
    ref = out["p_ref"]
    for aid in ("w_ok", "w_junk"):
        got = out[aid]
        assert got["decode_ok"] == 1, aid
        for k in ("n_samples", "duration_s", "rms", "peak", "zcr"):
            assert got[k] == ref[k], (aid, k)
    # container header contradicting the metadata column degrades that row
    assert out["w_mismatch"]["decode_ok"] == 0
    # non-PCM format tag is the explicit NotImplementedError path
    float_fmt = struct.pack("<HHIIHH", 3, 1, 8000, 32000, 4, 32)
    bad = b"RIFF" + struct.pack("<I", 4 + 8 + len(float_fmt)) + b"WAVE"
    bad += b"fmt " + struct.pack("<I", len(float_fmt)) + float_fmt
    with pytest.raises(NotImplementedError):
        mm.decode_wav(bad)


def test_frame_sample_real_avi_path(spark):
    """frame_sample decodes only every Nth frame of an MJPEG AVI and
    phashes it; bad rows (wrong fmt, corrupt container, n_frames
    mismatch) land as decode_ok=0 rows, never task failures."""
    import pandas as pd
    from pyspark.sql import functions as F

    from crawler_spark.functions.payload import phash64, pixels_for
    from crawler_spark.functions.video import encode_avi_mjpeg
    from crawler_spark.operators import multimodal as mm

    def clip(vid, n):
        return encode_avi_mjpeg(
            [pixels_for(f"{vid}_f{i}", 32, 24) for i in range(n)], fps=12, quality=98
        )

    rows = [
        ("v_a", clip("v_a", 7), 12.0, 7, "avi"),
        ("v_b", clip("v_b", 4), 12.0, 4, "avi"),
        ("v_bad_fmt", clip("v_c", 3), 12.0, 3, "mp4"),
        ("v_bad_count", clip("v_d", 3), 12.0, 9, "avi"),
        ("v_corrupt", clip("v_e", 3)[:40], 12.0, 3, "avi"),
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["video_id", "bytes", "fps", "n_frames", "fmt"])
    )
    out = mm.frame_sample(df, every_n=3).collect()
    by_vid = {}
    for r in out:
        by_vid.setdefault(r["video_id"], []).append(r)
    # v_a: frames 0, 3, 6 sampled; v_b: frames 0, 3
    assert sorted(r["frame_idx"] for r in by_vid["v_a"]) == [0, 3, 6]
    assert sorted(r["frame_idx"] for r in by_vid["v_b"]) == [0, 3]
    for r in by_vid["v_a"] + by_vid["v_b"]:
        assert r["decode_ok"] == 1
        assert r["w"] == 32 and r["h"] == 24
        assert abs(r["t_s"] - r["frame_idx"] / 12.0) < 1e-6
        gt = phash64(pixels_for(f"{r['video_id']}_f{r['frame_idx']}", 32, 24))
        assert bin(r["phash"] ^ gt).count("1") <= 4
    for bad in ("v_bad_fmt", "v_bad_count", "v_corrupt"):
        assert len(by_vid[bad]) == 1 and by_vid[bad][0]["decode_ok"] == 0, bad


def test_frame_sample_animated_gif_path(spark):
    """frame_sample's gif branch: only sampled frames' LZW payloads
    are decoded (lossless -> phash EQUALS ground truth), and bad rows
    (frame-count mismatch, truncated stream) land as decode_ok=0."""
    import pandas as pd

    from crawler_spark.functions.gif import encode_gif_animation, quantize_332
    from crawler_spark.functions.payload import phash64, pixels_for
    from crawler_spark.operators import multimodal as mm

    def gt(vid, i):
        return quantize_332(pixels_for(f"{vid}_f{i}", 20, 16))

    def clip(vid, n):
        return encode_gif_animation([gt(vid, i) for i in range(n)], [8] * n)

    rows = [
        ("g_a", clip("g_a", 7), 12.5, 7, "gif"),
        ("g_b", clip("g_b", 4), 12.5, 4, "gif"),
        ("g_bad_count", clip("g_c", 3), 12.5, 9, "gif"),
        ("g_corrupt", clip("g_d", 3)[:30], 12.5, 3, "gif"),
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["video_id", "bytes", "fps", "n_frames", "fmt"])
    )
    out = mm.frame_sample(df, every_n=3).collect()
    by_vid = {}
    for r in out:
        by_vid.setdefault(r["video_id"], []).append(r)
    assert sorted(r["frame_idx"] for r in by_vid["g_a"]) == [0, 3, 6]
    assert sorted(r["frame_idx"] for r in by_vid["g_b"]) == [0, 3]
    for r in by_vid["g_a"] + by_vid["g_b"]:
        assert r["decode_ok"] == 1
        assert r["w"] == 20 and r["h"] == 16
        assert abs(r["t_s"] - r["frame_idx"] / 12.5) < 1e-6
        assert r["phash"] == phash64(gt(r["video_id"], r["frame_idx"]))
    for bad in ("g_bad_count", "g_corrupt"):
        assert len(by_vid[bad]) == 1 and by_vid[bad][0]["decode_ok"] == 0, bad


def test_audio_features_flac_equals_pcm(spark):
    """FLAC payloads (real lossless codec, functions/flac.py) produce
    byte-identical features to the same PCM served raw; header-vs-
    metadata mismatches and corrupt streams degrade per row."""
    import numpy as np
    import pandas as pd

    from crawler_spark.functions.flac import encode_flac

    rng = np.random.default_rng(9)
    t = np.arange(4000)
    mono = (6000 * np.sin(t / 20) + rng.integers(-100, 100, len(t))).astype(np.int16)
    stereo = np.stack([mono, (mono // 3).astype(np.int16)], axis=1)
    rows = [
        ("pcm_m", mono.tobytes(), 16000, 1, "pcm16"),
        ("flac_m", encode_flac(mono, 16000), 16000, 1, "flac"),
        ("flac_s", encode_flac(stereo, 8000), 8000, 2, "flac"),
        ("flac_badrate", encode_flac(mono, 16000), 44100, 1, "flac"),
        ("flac_corrupt", encode_flac(mono, 16000)[:100], 16000, 1, "flac"),
        ("mp3_stub", mono.tobytes(), 16000, 1, "mp3"),
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["audio_id", "bytes", "sample_rate", "n_channels", "fmt"])
    )
    out = {r["audio_id"]: r for r in mm.audio_features(df).collect()}
    assert out["flac_m"]["decode_ok"] == 1
    for k in ("n_samples", "duration_s", "rms", "peak", "zcr"):
        assert out["flac_m"][k] == out["pcm_m"][k], k
    assert out["flac_s"]["decode_ok"] == 1
    assert out["flac_s"]["n_samples"] == 4000
    for bad in ("flac_badrate", "flac_corrupt", "mp3_stub"):
        assert out[bad]["decode_ok"] == 0, bad


def test_wav_short_fmt_chunk_is_value_error():
    import struct

    short_fmt = b"RIFF" + struct.pack("<I", 16) + b"WAVE" + b"fmt " + struct.pack("<I", 4) + b"\x01\x00\x01\x00"
    with pytest.raises(ValueError, match="fmt"):
        mm.decode_wav(short_fmt)


def test_frame_sample_failure_replaces_the_whole_video(spark):
    """A row's output is all or nothing: when the second of three
    frames fails to decode, the video yields one decode_ok=0 row, not
    frame 0 plus a failure row."""
    from crawler_spark.functions.video import encode_avi_mjpeg

    clip = bytearray(
        encode_avi_mjpeg([pixels_for(f"v_f{i}", 16, 16) for i in range(3)], fps=12, quality=90)
    )
    second = clip.find(b"\xff\xd8", clip.find(b"\xff\xd8") + 2)
    clip[second : second + 2] = b"\x00\x00"  # frame 1's SOI
    df = spark.createDataFrame(
        pd.DataFrame(
            [("v_ok", bytes(encode_avi_mjpeg([pixels_for("v_g", 16, 16)], fps=12)), 12.0, 1, "avi"),
             ("v_bad", bytes(clip), 12.0, 3, "avi")],
            columns=["video_id", "bytes", "fps", "n_frames", "fmt"],
        )
    )
    rows = mm.frame_sample(df, every_n=1).collect()
    bad = [r.asDict() for r in rows if r["video_id"] == "v_bad"]
    assert bad == [
        {"video_id": "v_bad", "frame_idx": None, "t_s": None, "w": None, "h": None,
         "phash": None, "decode_ok": 0}
    ]
    assert [r["decode_ok"] for r in rows if r["video_id"] == "v_ok"] == [1]


def test_resize_images_undecodable_row_yields_null_bytes(images):
    """A payload that does not decode gives a row with null bytes; the
    job does not fail (it used to raise 'not a PNG')."""
    out = {r["image_id"]: r for r in mm.resize_images(images, 16, 16).collect()}
    assert len(out) == 8
    for iid in ("img_broken", "img_png"):
        assert out[iid]["bytes"] is None
        assert (out[iid]["w"], out[iid]["h"], out[iid]["fmt"]) == (16, 16, "raw")
    good = decode_payload(bytes(out["img_00000001"]["bytes"]), 16, 16)
    assert good.shape == (16, 16, 3)
