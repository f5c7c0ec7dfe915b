"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride as `binary` columns with typed metadata
(w, h, fmt / sample_rate, duration / fps, n_frames). The Spark-side
plumbing — schemas, Arrow batch shapes, mapInPandas signatures,
partition sizing — is fully real and tested, and so are the codecs:
'raw' RGB decodes with numpy, 'png' with the real stdlib-zlib codec
in functions/payload.py (all five scanline filters, CRC-checked),
'jpeg' with the real baseline+progressive decoder in functions/jpeg.py
(Huffman + DCT on numpy/stdlib), 'gif' with the real LZW codec in
functions/gif.py (interlace + animation), 'pcm16'/'wav' with numpy +
a stdlib RIFF chunk parser, 'flac' with the bit-exact codec in
functions/flac.py, and AVI/MJPEG video plus animated GIF with
functions/video.py and functions/gif.py (only sampled frames
entropy-decode in both containers). MP3 gets a real frame-grammar
parser (functions/mpeg_audio: sync walk, CRC-16, Xing, ID3) feeding
audio_stream_metadata; NotImplementedError remains only where the
container genuinely lacks the wire format's codec ecosystem: mp3/ogg
PCM decode and inter-frame video (h264/vp9/av1).

Every mapInPandas here runs its rows through payload.guard_rows
(_map_guarded): a payload that does not decode is one row with its
key columns and decode_ok/parse_ok = 0, never a failed task.

Scale notes: payload rows are wide (KB-MB); the iterator-of-batches
mapInPandas form streams Arrow batches without materializing a
partition in memory, and spark.sql.files.maxPartitionBytes should be
sized so (rows per partition x payload size) fits the executor — at
100 TB that matters more than anything else in this file.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from crawler_spark.functions.payload import decode_payload, guard_rows, phash64


def _map_guarded(df: DataFrame, fields: list[str], schema: StructType, derive, failed) -> DataFrame:
    """mapInPandas over ``fields`` with every row run through
    payload.guard_rows: ``derive`` gives a row's output records,
    ``failed`` the key columns and ok=0 of a row whose payload is bad."""
    columns = [f.name for f in schema.fields]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield guard_rows(pdf.itertuples(index=False, name=None), derive, failed, columns)

    return df.select(*fields).mapInPandas(run, schema=schema)


IMAGE_FEATURES_SCHEMA = StructType(
    [
        StructField("image_id", StringType(), False),
        StructField("w", IntegerType(), False),
        StructField("h", IntegerType(), False),
        StructField("phash", LongType(), True),
        StructField("mean_rgb", ArrayType(DoubleType()), True),
        StructField("std_gray", DoubleType(), True),
        StructField("decode_ok", IntegerType(), False),
    ]
)


def image_features(df: DataFrame) -> DataFrame:
    """Decode + feature-extract image payloads via mapInPandas.

    Input columns: image_id, bytes, w, h, fmt. Streams Arrow batches;
    per-batch numpy vectorization, no per-row Python in the plan.
    """

    def derive(iid, data, w, h, fmt):
        px = decode_payload(bytes(data), int(w), int(h), fmt)
        gray = px.astype(np.float64) @ np.array([0.299, 0.587, 0.114])
        return [{
            "image_id": iid, "w": int(w), "h": int(h), "phash": phash64(px),
            "mean_rgb": [float(m) for m in px.mean(axis=(0, 1))],
            "std_gray": float(gray.std()), "decode_ok": 1,
        }]

    def failed(iid, data, w, h, fmt):
        return {"image_id": iid, "w": int(w), "h": int(h), "decode_ok": 0}

    return _map_guarded(
        df, ["image_id", "bytes", "w", "h", "fmt"], IMAGE_FEATURES_SCHEMA, derive, failed
    )


RESIZE_SCHEMA = StructType(
    [
        StructField("image_id", StringType(), False),
        StructField("bytes", BinaryType(), True),
        StructField("w", IntegerType(), False),
        StructField("h", IntegerType(), False),
        StructField("fmt", StringType(), False),
    ]
)


def resize_images(df: DataFrame, target_w: int, target_h: int) -> DataFrame:
    """Nearest-neighbor resize to raw RGB (deterministic numpy). Any
    format decode_payload reads is accepted; a row whose payload does
    not decode comes out with null bytes."""

    def derive(iid, data, w, h, fmt):
        px = decode_payload(bytes(data), int(w), int(h), fmt)
        ri = (np.arange(target_h) * int(h)) // target_h
        ci = (np.arange(target_w) * int(w)) // target_w
        return [{
            "image_id": iid, "bytes": px[np.ix_(ri, ci)].tobytes(),
            "w": target_w, "h": target_h, "fmt": "raw",
        }]

    def failed(iid, *_):
        return {"image_id": iid, "w": target_w, "h": target_h, "fmt": "raw"}

    return _map_guarded(df, ["image_id", "bytes", "w", "h", "fmt"], RESIZE_SCHEMA, derive, failed)


AUDIO_FEATURES_SCHEMA = StructType(
    [
        StructField("audio_id", StringType(), False),
        StructField("sample_rate", IntegerType(), False),
        StructField("n_channels", IntegerType(), False),
        StructField("n_samples", LongType(), True),
        StructField("duration_s", DoubleType(), True),
        StructField("rms", DoubleType(), True),
        StructField("peak", LongType(), True),
        StructField("zcr", DoubleType(), True),
        StructField("decode_ok", IntegerType(), False),
    ]
)


def decode_pcm(data: bytes, n_channels: int) -> np.ndarray:
    """Raw interleaved int16 PCM -> (n_samples, n_channels) array.

    'raw' PCM is the audio analog of the 'raw' RGB image format: fully
    implementable with numpy alone. WAV and FLAC decode to the same
    array (decode_wav, functions/flac.py); lossy mp3/ogg PCM stays
    NotImplementedError.
    """
    arr = np.frombuffer(data, dtype="<i2")
    if n_channels <= 0 or arr.size % n_channels:
        raise ValueError(f"PCM size {arr.size} not divisible by {n_channels} channels")
    return arr.reshape(-1, n_channels)


def encode_wav(pcm: np.ndarray, sample_rate: int) -> bytes:
    """(n_samples, n_channels) int16 -> a canonical RIFF/WAVE file."""
    import struct

    if pcm.ndim != 2 or pcm.dtype != np.dtype("<i2"):
        pcm = np.asarray(pcm, dtype="<i2").reshape(len(pcm), -1)
    n_ch = pcm.shape[1]
    data = pcm.tobytes()
    fmt = struct.pack(
        "<HHIIHH", 1, n_ch, sample_rate, sample_rate * n_ch * 2, n_ch * 2, 16
    )
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_wav(data: bytes) -> tuple[np.ndarray, int]:
    """RIFF/WAVE (PCM, 16-bit) -> ((n_samples, n_channels) int16, rate).

    A real stdlib-only container parser, the audio twin of the PNG
    codec in functions/payload.py: walks RIFF chunks (any order,
    unknown chunks skipped, word-aligned), validates the fmt chunk
    (format tag 1 = PCM, 16 bits/sample), and returns the data chunk
    reshaped by the container's OWN channel count. FLAC decodes via
    functions/flac.py; lossy codecs (mp3/ogg) stay NotImplementedError
    on the PCM path (mp3 framing/metadata: functions/mpeg_audio).
    """
    import struct

    if bytes(data[:4]) != b"RIFF" or bytes(data[8:12]) != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos, n_ch, rate, bits, pcm_bytes = 12, None, None, None, None
    while pos + 8 <= len(data):
        tag = bytes(data[pos : pos + 4])
        (length,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        payload = bytes(data[pos + 8 : pos + 8 + length])
        if len(payload) != length:
            raise ValueError(f"truncated WAVE chunk {tag!r}")
        if tag == b"fmt ":
            if length < 16:
                raise ValueError(f"WAVE fmt chunk {length} bytes < 16")
            fmt_tag, n_ch, rate, _, _, bits = struct.unpack("<HHIIHH", payload[:16])
            if fmt_tag != 1 or bits != 16:
                raise NotImplementedError(
                    f"WAVE format {fmt_tag}/{bits}-bit unsupported (PCM 16-bit only)"
                )
        elif tag == b"data":
            pcm_bytes = payload
        pos += 8 + length + (length & 1)  # chunks are word-aligned
    if n_ch is None or pcm_bytes is None:
        raise ValueError("WAVE missing fmt/data chunk")
    return decode_pcm(pcm_bytes, int(n_ch)), int(rate)


def audio_features(df: DataFrame, fmt_col: str = "fmt") -> DataFrame:
    """Decode + feature-extract audio payloads via mapInPandas.

    Input columns: audio_id, bytes, sample_rate, n_channels, fmt.
    Features over the channel-mean signal: sample count, duration,
    RMS, integer peak amplitude, zero-crossing rate. Same streaming
    Arrow-batch shape as image_features — binary in, typed struct out,
    no per-row Python in the plan.
    """

    def derive(aid, data, rate, nch, fmt):
        if fmt == "pcm16":
            pcm = decode_pcm(bytes(data), int(nch))
        elif fmt in ("wav", "flac"):
            if fmt == "wav":
                pcm, got_rate = decode_wav(bytes(data))
            else:
                # real lossless codec (functions/flac.py):
                # rice + fixed/LPC prediction, CRC-checked
                from crawler_spark.functions.flac import decode_flac

                pcm, got_rate = decode_flac(bytes(data))
            if got_rate != int(rate) or pcm.shape[1] != int(nch):
                raise ValueError(
                    f"{fmt} header ({got_rate} Hz, {pcm.shape[1]} ch) "
                    f"!= metadata ({int(rate)} Hz, {int(nch)} ch)"
                )
        else:
            raise NotImplementedError(
                f"audio codec {fmt!r} unavailable in this environment "
                "(pcm16/wav/flac implemented; lossy mp3/ogg need a "
                "codec library)"
            )
        mono = pcm.astype(np.float64).mean(axis=1)
        n = len(mono)
        signs = mono[1:] * mono[:-1]
        return [{
            "audio_id": aid, "sample_rate": int(rate), "n_channels": int(nch),
            "n_samples": n,
            "duration_s": round(n / float(rate), 6),
            "rms": round(float(np.sqrt(np.mean(mono**2))), 6),
            "peak": int(np.max(np.abs(pcm))) if n else 0,
            "zcr": round(float((signs < 0).sum()) / (n - 1), 6) if n > 1 else 0.0,
            "decode_ok": 1,
        }]

    def failed(aid, data, rate, nch, fmt):
        return {"audio_id": aid, "sample_rate": int(rate), "n_channels": int(nch), "decode_ok": 0}

    return _map_guarded(
        df, ["audio_id", "bytes", "sample_rate", "n_channels", fmt_col],
        AUDIO_FEATURES_SCHEMA, derive, failed,
    )


AUDIO_STREAM_META_SCHEMA = StructType(
    [
        StructField("audio_id", StringType(), False),
        StructField("container", StringType(), True),
        StructField("sample_rate", IntegerType(), True),
        StructField("channels", IntegerType(), True),
        StructField("n_frames", LongType(), True),
        StructField("duration_s", DoubleType(), True),
        StructField("vbr", IntegerType(), True),
        StructField("bitrate_kbps", IntegerType(), True),
        StructField("total_frame_bytes", LongType(), True),
        StructField("parse_ok", IntegerType(), False),
    ]
)


def audio_stream_metadata(df: DataFrame, fmt_col: str = "fmt") -> DataFrame:
    """Container/stream metadata WITHOUT PCM decode, via mapInPandas.

    Input columns: (audio_id, bytes, fmt). This is the path a 100 TB
    audio crawl actually runs over every payload — duration, rate,
    channel layout, VBR-ness, frame integrity — and it works on
    formats whose PCM decode is env-blocked:
      - 'mp3': the REAL frame-grammar parser in functions/mpeg_audio
        (sync walk, bitrate/rate tables, CRC-16 verify, Xing/ID3);
      - 'wav': RIFF fmt/data chunk walk (duration from byte counts);
      - 'flac': STREAMINFO block (rate/channels/total samples).
    Row-level failures -> parse_ok=0, never task failures. n_frames is
    mp3-only (frame-based container); wav/flac report null.
    """
    from crawler_spark.functions.mpeg_audio import parse_mp3

    def derive(aid, data, fmt):
        row = {"audio_id": aid, "parse_ok": 1}
        data = bytes(data)
        if fmt == "mp3":
            m = parse_mp3(data)
            row.update(
                container=f"{m['version']}-layer{m['layer']}",
                sample_rate=m["sample_rate"],
                channels=m["channels"],
                n_frames=m["n_frames"],
                duration_s=m["duration_s"],
                vbr=int(m["vbr"]),
                bitrate_kbps=m["bitrate_kbps"],
                total_frame_bytes=m["total_frame_bytes"],
            )
        elif fmt == "wav":
            pcm, rate = decode_wav(data)
            row.update(
                container="riff-wave",
                sample_rate=rate,
                channels=pcm.shape[1],
                duration_s=round(len(pcm) / rate, 6),
                vbr=0,
                bitrate_kbps=rate * pcm.shape[1] * 16 // 1000,
                total_frame_bytes=pcm.nbytes,
            )
        elif fmt == "flac":
            if data[:4] != b"fLaC":
                raise ValueError("not a flac stream")
            # STREAMINFO: first metadata block, packed u64 at 18
            packed = int.from_bytes(data[18:26], "big")
            rate = packed >> 44
            n_ch = ((packed >> 41) & 7) + 1
            total = packed & ((1 << 36) - 1)
            row.update(
                container="flac",
                sample_rate=rate,
                channels=n_ch,
                duration_s=round(total / rate, 6) if total else None,
                vbr=1,  # flac frames are inherently variable-size
            )
        else:
            raise NotImplementedError(f"no metadata parser for {fmt!r}")
        return [row]

    def failed(aid, data, fmt):
        return {"audio_id": aid, "parse_ok": 0}

    return _map_guarded(df, ["audio_id", "bytes", fmt_col], AUDIO_STREAM_META_SCHEMA, derive, failed)


def synth_pcm(audio_id: str, n_samples: int = 800) -> bytes:
    """SQL-reproducible deterministic int16 PCM: sample i of stream s is
    ((s*7+3)*i + s) % 2001 - 1000 — integer arithmetic a DuckDB oracle
    regenerates with generate_series (the audio twin of
    payload.pixels_gradient)."""
    s = int(str(audio_id).rsplit("_", 1)[-1])
    i = np.arange(n_samples, dtype=np.int64)
    v = ((s * 7 + 3) * i + s) % 2001 - 1000
    return v.astype("<i2").tobytes()


IMAGE_STREAM_META_SCHEMA = StructType(
    [
        StructField("image_id", StringType(), False),
        StructField("fmt_detected", StringType(), True),
        StructField("w", IntegerType(), True),
        StructField("h", IntegerType(), True),
        StructField("n_frames", IntegerType(), True),
        StructField("bit_depth", IntegerType(), True),
        StructField("progressive", IntegerType(), True),
        StructField("interlaced", IntegerType(), True),
        StructField("exif_orientation", IntegerType(), True),
        StructField("exif_make", StringType(), True),
        StructField("parse_ok", IntegerType(), False),
    ]
)


def image_stream_metadata(df: DataFrame) -> DataFrame:
    """No-decode image triage (functions/image_meta.py): format sniff
    by magic bytes, dims/flags from fixed headers (JPEG marker walk to
    SOF, PNG IHDR, GIF block-grammar hop, BMP DIB header) and the
    EXIF IFD walk — O(header bytes) per row, zero entropy work. This
    is the FIRST pass a 100 TB image pipeline runs (route, dedup by
    dims, orientation-fix planning) before any pixel is decoded —
    the image analog of audio_stream_metadata's MP3 walk. Input
    (image_id, bytes); malformed payloads land as parse_ok=0 rows.
    """
    from crawler_spark.functions.image_meta import image_meta

    def derive(iid, data):
        m = image_meta(bytes(data))
        exif = m.get("exif") or {}
        return [{
            "image_id": iid,
            "fmt_detected": m["fmt"],
            "w": m.get("w"),
            "h": m.get("h"),
            "n_frames": m.get("n_frames"),
            "bit_depth": m.get("bit_depth"),
            "progressive": int(m["progressive"]) if "progressive" in m else None,
            "interlaced": int(m["interlaced"]) if "interlaced" in m else None,
            "exif_orientation": exif.get("orientation"),
            "exif_make": exif.get("make"),
            "parse_ok": 1,
        }]

    def failed(iid, data):
        return {"image_id": iid, "parse_ok": 0}

    return _map_guarded(df, ["image_id", "bytes"], IMAGE_STREAM_META_SCHEMA, derive, failed)


VIDEO_FRAMES_SCHEMA = StructType(
    [
        StructField("video_id", StringType(), False),
        StructField("frame_idx", IntegerType(), True),
        StructField("t_s", DoubleType(), True),
        StructField("w", IntegerType(), True),
        StructField("h", IntegerType(), True),
        StructField("phash", LongType(), True),
        StructField("decode_ok", IntegerType(), False),
    ]
)


def frame_sample(df: DataFrame, every_n: int = 30, fmt_col: str = "fmt") -> DataFrame:
    """Video frame sampling via mapInPandas — REAL for 'avi' (MJPEG in
    a RIFF/AVI container, functions/video.py: the shell is the same
    chunk grammar as WAV, each frame an independent baseline JPEG
    decoded by functions/jpeg.py). Input (video_id, bytes, fps,
    n_frames, fmt); output one row per SAMPLED frame (idx % every_n
    == 0) with its timestamp, dims, and phash.

    Only sampled frames are entropy-decoded — MJPEG has no inter-frame
    prediction, so sampling cost is O(kept frames), the property that
    makes the container walk cheap at corpus scale. Animated GIF
    (fmt='gif') gets the same treatment via functions/gif.py: the
    block-grammar walk hops LZW payloads by their length prefixes,
    and only the sampled frames' LZW is decoded (full-canvas opaque
    frames are independent; layered animations fall back to a full
    composite — see gif.sample_gif_frames). Inter-frame
    codecs (h264/vp9/av1) stay honestly NotImplementedError: motion
    compensation + CABAC need a real codec library; they slot in here
    exactly like jpeg/png slot into decode_payload. Row-level failures
    land as decode_ok=0 rows, never task failures.
    """
    from crawler_spark.functions.gif import gif_frame_meta, sample_gif_frames
    from crawler_spark.functions.video import decode_video_frame, parse_avi_mjpeg

    def derive(vid, data, fps, n_frames, fmt):
        data = bytes(data)
        if fmt == "gif":
            meta = gif_frame_meta(data)  # no entropy work
            eff_fps = float(fps)
        elif fmt == "avi":
            meta = parse_avi_mjpeg(data)
            eff_fps = meta["fps"] or float(fps)
        else:
            raise NotImplementedError(
                f"video codec {fmt!r} unavailable in this environment "
                "(avi/MJPG and animated gif are the implemented containers)"
            )
        if int(n_frames) != meta["n_frames"]:
            raise ValueError(
                f"metadata n_frames {int(n_frames)} != container {meta['n_frames']}"
            )
        wanted = range(0, meta["n_frames"], every_n)
        if fmt == "gif":
            frames = sample_gif_frames(data, list(wanted))
        else:
            frames = (decode_video_frame(meta, idx) for idx in wanted)
        for idx, px in zip(wanted, frames):
            yield {
                "video_id": vid, "frame_idx": idx, "t_s": round(idx / eff_fps, 6),
                "w": meta["w"], "h": meta["h"], "phash": phash64(px), "decode_ok": 1,
            }

    def failed(vid, *_):
        return {"video_id": vid, "decode_ok": 0}

    return _map_guarded(
        df, ["video_id", "bytes", "fps", "n_frames", fmt_col], VIDEO_FRAMES_SCHEMA, derive, failed
    )
