"""Baseline JPEG codec (functions/jpeg.py).

Round-trip fidelity at the crawl's quality point, decode of
SPEC-DERIVED hand-built streams the encoder cannot produce (grayscale
DC-only, 4:2:0 subsampling, restart markers — built here from ITU-T
T.81 segment layout, independent of encode_jpeg's code path),
corruption rejection, and fmt-invariance through the payload layer.
Reference twin: the parser handles the portals' real JPEG payloads
(src/advert.py:188-381); PSNR >= 40 dB is the input_hint contract.
"""

import struct

import numpy as np
import pytest

from crawler_spark.functions.image_meta import jpeg_meta
from crawler_spark.functions.jpeg import (
    AC_LUMA,
    DC_LUMA,
    decode_jpeg,
    encode_jpeg,
)
from crawler_spark.functions.payload import (
    JPEG_QUALITY,
    decode_payload,
    encode_payload,
    phash64,
    pixels_for,
    psnr,
)


def _psnr(a, b):
    mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
    return float("inf") if mse == 0 else 10 * np.log10(255.0**2 / mse)


# ------------------------------------------------------- round trips


def test_roundtrip_psnr_meets_contract_on_worst_case_noise():
    img = pixels_for("img_31", 96, 64)  # noise+gradient: DCT worst case
    dec = decode_jpeg(encode_jpeg(img, quality=JPEG_QUALITY))
    assert dec.shape == img.shape and dec.dtype == np.uint8
    assert _psnr(img, dec) >= 40.0


def test_roundtrip_odd_dimensions():
    img = pixels_for("img_5", 37, 29)
    dec = decode_jpeg(encode_jpeg(img, quality=98))
    assert dec.shape == (29, 37, 3)
    assert _psnr(img, dec) >= 40.0


def test_quality_monotonicity():
    img = pixels_for("img_9", 48, 48)
    sizes, errs = [], []
    for q in (75, 90, 98):
        enc = encode_jpeg(img, quality=q)
        sizes.append(len(enc))
        errs.append(_psnr(img, decode_jpeg(enc)))
    assert sizes == sorted(sizes)
    assert errs == sorted(errs)


def test_payload_layer_dispatch_and_phash_invariance():
    img = pixels_for("img_44", 64, 64)
    data = encode_payload(img, "jpeg")
    assert data[:2] == b"\xff\xd8" and data[-2:] == b"\xff\xd9"
    dec = decode_payload(data, 64, 64, "jpeg")
    assert psnr(dec, img) >= 40.0
    # perceptual hash survives the lossy round trip (a few bits at most)
    d = bin(phash64(dec) ^ phash64(img)).count("1")
    assert d <= 4, d


# ----------------------------------------- spec-derived hand builds


class _W:
    """Minimal independent bit writer (msb-first, 0xFF stuffing)."""

    def __init__(self):
        self.bits = []

    def put(self, value, n):
        for i in range(n - 1, -1, -1):
            self.bits.append((value >> i) & 1)

    def bytes(self):
        bits = self.bits + [1] * (-len(self.bits) % 8)
        out = bytearray()
        for i in range(0, len(bits), 8):
            b = 0
            for bit in bits[i : i + 8]:
                b = (b << 1) | bit
            out.append(b)
            if b == 0xFF:
                out.append(0x00)
        return bytes(out)


def _codes(bits, vals):
    codes, code, k = {}, 0, 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            codes[vals[k]] = (code, ln)
            code += 1
            k += 1
        code <<= 1
    return codes


def _seg(marker, payload):
    return struct.pack(">BBH", 0xFF, marker, len(payload) + 2) + payload


def _dht(tc_th, table):
    bits, vals = table
    return _seg(0xC4, bytes([tc_th]) + bytes(bits) + bytes(vals))


def _dc_bits(w, codes, diff):
    size = abs(diff).bit_length()
    code, ln = codes[size]
    w.put(code, ln)
    if size:
        w.put(diff if diff > 0 else diff + (1 << size) - 1, size)


def test_decode_handbuilt_grayscale_dc_only():
    """8x8 single-component flat-gray stream, built segment by segment
    from the spec — never touches encode_jpeg."""
    dc = _codes(*DC_LUMA)
    ac = _codes(*AC_LUMA)
    w = _W()
    _dc_bits(w, dc, 0)  # flat 128 -> level-shifted 0 -> DC diff 0
    w.put(ac[0x00][0], ac[0x00][1])  # EOB
    data = (
        b"\xff\xd8"
        + _seg(0xDB, b"\x00" + bytes([16] * 64))
        + _seg(0xC0, struct.pack(">BHHB", 8, 8, 8, 1) + bytes([1, 0x11, 0]))
        + _dht(0x00, DC_LUMA)
        + _dht(0x10, AC_LUMA)
        + _seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
        + w.bytes()
        + b"\xff\xd9"
    )
    px = decode_jpeg(data)
    assert px.shape == (8, 8, 3)
    assert np.all(px == 128)


def test_decode_handbuilt_420_with_restart_markers():
    """Two-MCU 4:2:0 flat-color stream with DRI=1 and an RST0 between
    MCUs: chroma upsampling + restart handling + DC predictor reset,
    none of which encode_jpeg emits."""
    rgb = np.array([200, 60, 100], dtype=np.float64)
    y = 0.299 * rgb[0] + 0.587 * rgb[1] + 0.114 * rgb[2]
    cb = -0.168736 * rgb[0] - 0.331264 * rgb[1] + 0.5 * rgb[2] + 128
    cr = 0.5 * rgb[0] - 0.418688 * rgb[1] - 0.081312 * rgb[2] + 128
    dcs = [int(round(8 * (v - 128))) for v in (y, cb, cr)]

    dc = _codes(*DC_LUMA)
    ac = _codes(*AC_LUMA)
    eob = ac[0x00]

    def mcu(w, first):
        # 4 Y blocks (h=v=2), then Cb, Cr — DC diff only on the first
        # block of each component (flat color), zero after
        for i in range(4):
            _dc_bits(w, dc, dcs[0] if i == 0 and first else 0)
            w.put(eob[0], eob[1])
        for comp in (1, 2):
            _dc_bits(w, dc, dcs[comp] if first else 0)
            w.put(eob[0], eob[1])

    w1, w2 = _W(), _W()
    mcu(w1, True)
    mcu(w2, True)  # DC predictors reset at RST -> re-encode full diff
    data = (
        b"\xff\xd8"
        + _seg(0xDB, b"\x00" + bytes([1] * 64))
        + _seg(
            0xC0,
            struct.pack(">BHHB", 8, 16, 32, 3)
            + bytes([1, 0x22, 0])  # Y: h=v=2
            + bytes([2, 0x11, 0])
            + bytes([3, 0x11, 0]),
        )
        + _dht(0x00, DC_LUMA)
        + _dht(0x10, AC_LUMA)
        + _seg(0xDD, struct.pack(">H", 1))  # DRI = 1 MCU
        + _seg(0xDA, bytes([3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0]))
        + w1.bytes()
        + b"\xff\xd0"  # RST0
        + w2.bytes()
        + b"\xff\xd9"
    )
    px = decode_jpeg(data)
    assert px.shape == (16, 32, 3)
    err = np.abs(px.astype(np.int64) - np.array([200, 60, 100])).max()
    assert err <= 2, err


# ------------------------------------------------------- corruption


def test_rejects_bad_soi():
    with pytest.raises(ValueError, match="SOI"):
        decode_jpeg(b"\x89PNG1234")


def test_rejects_truncated_segment():
    data = encode_jpeg(pixels_for("t_1", 16, 16))
    with pytest.raises(ValueError):
        decode_jpeg(data[:20])


def test_rejects_truncated_entropy_stream():
    data = encode_jpeg(pixels_for("t_2", 32, 32), quality=98)
    with pytest.raises(ValueError):
        decode_jpeg(data[: len(data) // 2])


def test_arithmetic_and_lossless_frames_are_honest_notimplemented():
    """SOF2 decodes for real as of round 5 (tests/test_jpeg_progressive
    .py); the frame types the container genuinely can't serve stay
    loudly unimplemented."""
    data = bytearray(encode_jpeg(pixels_for("t_3", 16, 16)))
    i = data.find(b"\xff\xc0")
    for sof in (0xC3, 0xC9, 0xCA, 0xCB):  # lossless / arithmetic
        c = bytearray(data)
        c[i + 1] = sof
        with pytest.raises(NotImplementedError, match="progressive"):
            decode_jpeg(bytes(c))


def _pad_markers_with_fill(data: bytes, fill: int = 3) -> bytes:
    """Prefix every marker after SOI with ``fill`` extra 0xFF bytes, the
    padding T.81 B.1.1.2 permits: header markers by segment length,
    markers after entropy data (the next scan's tables, EOI) by scan."""
    out, pos = bytearray(data[:2]), 2
    while pos < len(data):
        assert data[pos] == 0xFF
        marker = data[pos + 1]
        out += b"\xff" * fill
        if marker == 0xD9:
            out += data[pos:]
            break
        (seglen,) = struct.unpack(">H", data[pos + 2 : pos + 4])
        end = pos + 2 + seglen
        if marker == 0xDA:  # entropy data runs to the next non-RST marker
            while not (data[end] == 0xFF and data[end + 1] not in (0x00, *range(0xD0, 0xD8))):
                end += 1
        out += data[pos:end]
        pos = end
    return bytes(out)


@pytest.mark.parametrize("progressive", [False, True])
def test_fill_bytes_before_markers_are_skipped(progressive):
    """Real-web JPEGs may pad markers with 0xFF fill bytes; the decoder's
    and the triage's header walks skip them instead of desyncing."""
    data = encode_jpeg(pixels_for("t_fill", 40, 24), quality=90, progressive=progressive)
    padded = _pad_markers_with_fill(data)
    assert len(padded) > len(data)
    assert np.array_equal(decode_jpeg(padded), decode_jpeg(data))
    meta = jpeg_meta(padded)
    assert meta == jpeg_meta(data)
    assert (meta["w"], meta["h"], meta["progressive"]) == (40, 24, progressive)


def test_corrupt_entropy_does_not_hang_or_segfault():
    data = bytearray(encode_jpeg(pixels_for("t_4", 32, 32), quality=95))
    sos = data.find(b"\xff\xda")
    for off in (40, 97, 211):
        c = bytearray(data)
        c[sos + 14 + off] ^= 0x5A
        try:
            decode_jpeg(bytes(c))  # wrong pixels are fine; crashes are not
        except (ValueError, NotImplementedError):
            pass


# --------------------------------------------- malformed header fields
# Each of these escaped the decoder as a non-ValueError (IndexError,
# KeyError, OverflowError), which no payload row guard is there to see.


def _baseline():
    return bytearray(encode_jpeg(pixels_for("t_bad", 32, 32), quality=90))


def test_dht_counts_beyond_its_values_are_value_error():
    data = _baseline()
    dht = data.find(b"\xff\xc4")
    data[dht + 5 + 15] += 1  # one more 16-bit code than the segment has values
    with pytest.raises(ValueError, match="DHT"):
        decode_jpeg(bytes(data))


def test_scan_component_missing_from_frame_is_value_error():
    data = _baseline()
    data[data.find(b"\xff\xda") + 5] = 9  # first scan component: id 9, not in SOF
    with pytest.raises(ValueError, match="component"):
        decode_jpeg(bytes(data))


def test_undefined_quant_table_is_value_error():
    data = _baseline()
    data[data.find(b"\xff\xc0") + 12] = 3  # first component's Tq: table 3, never defined
    with pytest.raises(ValueError, match="quant"):
        decode_jpeg(bytes(data))


def test_dc_magnitude_category_over_11_is_value_error():
    data = _baseline()
    dht = data.find(b"\xff\xc4")  # the luma DC table: 12 values after 16 counts
    data[dht + 21 : dht + 33] = bytes([200] * 12)
    with pytest.raises(ValueError, match="DC magnitude"):
        decode_jpeg(bytes(data))


@pytest.mark.parametrize("field", ["component", "band_end"])
def test_progressive_scan_header_out_of_range_is_value_error(field):
    data = bytearray(
        encode_jpeg(pixels_for("t_bad", 32, 32), quality=90, progressive=True)
    )
    sos = -1
    for _ in range(3):  # the third scan: luma AC band 6..63
        sos = data.find(b"\xff\xda", sos + 1)
    assert data[sos + 4] == 1 and data[sos + 7 : sos + 9] == bytes([6, 63])
    if field == "component":
        data[sos + 5] = 9
    else:
        data[sos + 8] = 80  # Se past the 64-coefficient block
    with pytest.raises(ValueError):
        decode_jpeg(bytes(data))


@pytest.mark.parametrize("w,h", [(8192, 24), (2048, 1536)])
def test_claimed_frame_size_does_not_drive_decode_time(w, h):
    """A frame header patched to claim more pixels than the stream
    codes is rejected promptly: past its last coded bit the bit reader
    used to feed zeros, "decoding" blocks up to the claimed size."""
    import time

    data = _baseline()
    sof = data.find(b"\xff\xc0")
    data[sof + 5 : sof + 9] = struct.pack(">HH", h, w)
    t0 = time.perf_counter()
    with pytest.raises(ValueError):
        decode_jpeg(bytes(data))
    assert time.perf_counter() - t0 < 2.0
