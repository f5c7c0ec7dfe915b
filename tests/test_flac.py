"""FLAC codec (functions/flac.py) — pure-python parts.

Lossless round trips, compression sanity, corruption rejection, and
decodes of SPEC-DERIVED hand-built frames exercising paths the
in-repo encoder never emits: LPC subframes, CONSTANT subframes,
mid/side stereo, multi-partition rice with an escape-to-raw
partition. Bit layouts are serialized here with a local writer from
the public spec (RFC 9639), independent of the module's encoder.
"""

import struct

import numpy as np
import pytest

from crawler_spark.functions.flac import _crc8, _crc16, decode_flac, encode_flac


# ------------------------------------------------------- round trips


def test_roundtrip_mono_multiframe():
    rng = np.random.default_rng(11)
    t = np.arange(9000)
    pcm = (5000 * np.sin(t / 25) + rng.integers(-300, 300, len(t))).astype(np.int16)
    dec, rate = decode_flac(encode_flac(pcm, 22050, block_size=4096))
    assert rate == 22050
    assert np.array_equal(dec[:, 0], pcm)


def test_roundtrip_stereo_odd_tail_block():
    rng = np.random.default_rng(5)
    pcm = rng.integers(-20000, 20000, (1537, 2)).astype(np.int16)
    dec, rate = decode_flac(encode_flac(pcm, 8000, block_size=512))
    assert np.array_equal(dec, pcm)


def test_compresses_smooth_signals():
    t = np.arange(20000)
    pcm = (8000 * np.sin(t / 40)).astype(np.int16)
    enc = encode_flac(pcm, 16000)
    assert len(enc) < 0.7 * pcm.nbytes  # lossless AND smaller


def test_extremes_and_tiny():
    pcm = np.array([32767, -32768, 0, 1, -1], dtype=np.int16)
    dec, _ = decode_flac(encode_flac(pcm, 1000, block_size=4096))
    assert np.array_equal(dec[:, 0], pcm)


# ------------------------------------------------------- corruption


def test_rejects_corruption():
    pcm = np.arange(-500, 500, dtype=np.int16)
    enc = encode_flac(pcm, 4000)
    with pytest.raises(ValueError, match="magic"):
        decode_flac(b"OggS" + enc[4:])
    body = bytearray(enc)
    body[-3] ^= 0x55  # flip a bit inside the last frame's data
    with pytest.raises(ValueError, match="CRC"):
        decode_flac(bytes(body))
    with pytest.raises(ValueError):
        decode_flac(enc[: len(enc) - 7])


# --------------------------------------- spec-derived hand builds


class _W:
    """Minimal independent msb-first bit writer."""

    def __init__(self):
        self.bits = []

    def put(self, v, n):
        for i in range(n - 1, -1, -1):
            self.bits.append((v >> i) & 1)

    def unary(self, q):
        self.bits.extend([0] * q + [1])

    def bytes(self):
        bits = self.bits + [0] * (-len(self.bits) % 8)
        out = bytearray()
        for i in range(0, len(bits), 8):
            b = 0
            for bit in bits[i : i + 8]:
                b = (b << 1) | bit
            out.append(b)
        return bytes(out)


def _streaminfo(rate, n_ch, total, block_size=16):
    si = struct.pack(">HH", block_size, block_size) + b"\x00\x00\x00" * 2
    si += ((rate << 44) | ((n_ch - 1) << 41) | (15 << 36) | total).to_bytes(8, "big")
    si += b"\x00" * 16
    return b"fLaC" + bytes([0x80]) + len(si).to_bytes(3, "big") + si


def _frame(header_tail_ch_code, payload_bits, bs=16):
    hdr = bytearray(b"\xff\xf8")
    hdr.append(0x60)  # blocksize code 6 (8-bit value follows), rate from streaminfo
    hdr.append(header_tail_ch_code)
    hdr += b"\x00"  # frame number 0
    hdr.append(bs - 1)
    hdr.append(_crc8(bytes(hdr)))
    body = bytes(hdr) + payload_bits
    return body + struct.pack(">H", _crc16(body))


def _zig(v):
    return (v << 1) if v >= 0 else (-v << 1) - 1


def _rice_put(w, v, k):
    u = _zig(v)
    w.unary(u >> k)
    if k:
        w.put(u & ((1 << k) - 1), k)


def test_decode_handbuilt_lpc_with_partitions_and_escape():
    """LPC order-2 subframe, partition order 1, second partition
    escaped to 6-bit raw — none of which encode_flac emits."""
    warm = [100, 102]
    coeffs = [3, -1]  # prediction: (3*prev - 1*prevprev) >> shift
    shift = 1
    res = [1, -2, 0, 3, -1, 2, -3, 0, 1, -1, 2, 0, -2, 1]  # 14 residuals
    expected = list(warm)
    for i, r in enumerate(res):
        pred = (coeffs[0] * expected[-1] + coeffs[1] * expected[-2]) >> shift
        expected.append(pred + r)

    w = _W()
    w.put(0, 1)  # pad
    w.put(0x20 | (2 - 1), 6)  # LPC, order 2
    w.put(0, 1)  # no wasted bits
    for s in warm:
        w.put(s & 0xFFFF, 16)
    w.put(4 - 1, 4)  # precision 4 bits
    w.put(shift, 5)
    for c in coeffs:
        w.put(c & 0xF, 4)
    w.put(0, 2)  # 4-bit rice method
    w.put(1, 4)  # partition order 1 -> 2 partitions
    w.put(2, 4)  # partition 1: rice k=2 (6 residuals: 16/2 - order)
    for v in res[:6]:
        _rice_put(w, v, 2)
    w.put(0xF, 4)  # partition 2: escape
    w.put(6, 5)  # 6-bit raw residuals
    for v in res[6:]:
        w.put(v & 0x3F, 6)

    data = _streaminfo(8000, 1, 16) + _frame((0 << 4) | (0b100 << 1), w.bytes())
    dec, rate = decode_flac(data)
    assert rate == 8000
    assert dec[:, 0].tolist() == expected


def test_decode_handbuilt_mid_side_and_constant():
    """Stereo frame: CONSTANT mid subframe + VERBATIM side subframe
    under mid/side assignment (ch_code 10); side carries bps+1."""
    mid_val = 1000
    side = [3, -3, 2, -2, 1, -1, 0, 4, -4, 5, -5, 6, -6, 7, -7, 8]
    left = [(((mid_val << 1) | (s & 1)) + s) >> 1 for s in side]
    right = [(((mid_val << 1) | (s & 1)) - s) >> 1 for s in side]

    w = _W()
    # subframe 0: CONSTANT (mid, 16 bps)
    w.put(0, 1)
    w.put(0, 6)
    w.put(0, 1)
    w.put(mid_val & 0xFFFF, 16)
    # subframe 1: VERBATIM (side, 17 bps)
    w.put(0, 1)
    w.put(1, 6)
    w.put(0, 1)
    for s in side:
        w.put(s & 0x1FFFF, 17)

    data = _streaminfo(8000, 2, 16) + _frame((10 << 4) | (0b100 << 1), w.bytes())
    dec, _ = decode_flac(data)
    assert dec[:, 0].tolist() == left
    assert dec[:, 1].tolist() == right


def test_truncated_frame_and_channel_mismatch_are_value_error():
    """A frame header or CRC-16 cut short, and a frame with more
    channels than STREAMINFO, used to escape as IndexError or
    struct.error."""
    pcm = np.arange(-500, 500, dtype=np.int16)
    enc = encode_flac(pcm, 4000)
    first_frame = 4 + 4 + 34  # magic, STREAMINFO block header and body
    assert enc[first_frame] == 0xFF
    for cut in (first_frame + 4, len(enc) - 1):
        with pytest.raises(ValueError, match="truncated"):
            decode_flac(enc[:cut])
    stereo = bytearray(encode_flac(np.stack([pcm, pcm], axis=1), 4000))
    packed = int.from_bytes(stereo[18:26], "big") & ~(7 << 41)  # STREAMINFO: mono
    stereo[18:26] = packed.to_bytes(8, "big")
    with pytest.raises(ValueError, match="channels"):
        decode_flac(bytes(stereo))
