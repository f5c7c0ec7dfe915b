"""GIF codec tests: lossless LZW round-trips at every code-width
boundary, interlace, animation compositing (disposal/transparency via
hand-assembled spec streams), sampled-frames-only decode, and
corruption rejection."""

import struct

import numpy as np
import pytest

from crawler_spark.functions.gif import (
    GifFrame,
    _lzw_decode,
    _lzw_encode,
    _sub_blocks,
    decode_gif,
    decode_gif_frames,
    encode_gif,
    encode_gif_animation,
    gif_frame_meta,
    parse_gif,
    quantize_332,
    sample_gif_frames,
)
from crawler_spark.functions.payload import pixels_for, pixels_gradient


def _q(img_id: str, w: int, h: int) -> np.ndarray:
    return quantize_332(pixels_for(img_id, w, h))


# ------------------------------------------------------------- lzw core
@pytest.mark.parametrize("mcs", [2, 4, 8])
def test_lzw_mirror_roundtrip(mcs):
    rng = np.random.Generator(np.random.PCG64(7))
    data = rng.integers(0, 1 << mcs, size=5000, dtype=np.uint8).tobytes()
    assert _lzw_decode(_lzw_encode(data, mcs), mcs, len(data)) == data


def test_lzw_table_full_clear_path():
    # high-entropy 8-bit stream long enough to fill the 4096-entry
    # table several times over -> exercises the CLEAR-on-full branch
    # and every width transition 9..12
    rng = np.random.Generator(np.random.PCG64(11))
    data = rng.integers(0, 256, size=60_000, dtype=np.uint8).tobytes()
    enc = _lzw_encode(data, 8)
    assert _lzw_decode(enc, 8, len(data)) == data


def test_lzw_kwkwk_runs():
    # long constant runs force the code == next_code (KwKwK) read
    data = bytes([5]) * 4000 + bytes([9]) * 4000
    assert _lzw_decode(_lzw_encode(data, 4), 4, 8000) == data


def test_lzw_rejects_out_of_range_code():
    # code beyond next_code: craft via a valid stream then corrupt
    data = bytes(range(16)) * 4
    enc = bytearray(_lzw_encode(data, 4))
    enc[2] ^= 0xFF
    with pytest.raises(ValueError):
        _lzw_decode(bytes(enc), 4, len(data))


# ------------------------------------------------------------ stills
@pytest.mark.parametrize("dims", [(1, 1), (5, 17), (32, 32), (33, 7)])
def test_still_roundtrip_exact(dims):
    h, w = dims
    px = _q(f"g_{h}x{w}", w, h)
    out = decode_gif(encode_gif(px))
    assert np.array_equal(out, px)


def test_still_two_color_minimum_palette():
    px = np.zeros((9, 13, 3), dtype=np.uint8)
    px[::2, ::3] = 255
    assert np.array_equal(decode_gif(encode_gif(px)), px)


def test_still_256_color_full_palette():
    # exactly 256 distinct colors
    vals = np.arange(256, dtype=np.uint8).reshape(16, 16)
    px = np.stack([vals, vals[::-1], vals.T], axis=-1)
    assert len(np.unique(px.reshape(-1, 3), axis=0)) == 256
    assert np.array_equal(decode_gif(encode_gif(px)), px)


def test_large_noise_image_crosses_table_full():
    px = _q("big", 200, 160)
    assert np.array_equal(decode_gif(encode_gif(px)), px)


def test_interlace_content_identical():
    px = _q("ilace", 40, 37)
    plain, laced = encode_gif(px), encode_gif(px, interlace=True)
    assert laced != plain
    assert parse_gif(laced).frames[0].interlace
    assert np.array_equal(decode_gif(laced), px)


def test_palette_overflow_is_loud():
    px = pixels_for("noise", 32, 32)  # ~1000 unique colors
    with pytest.raises(ValueError, match="quantize"):
        encode_gif(px)


def test_quantize_332_range_and_determinism():
    px = pixels_for("q", 16, 16)
    q1, q2 = quantize_332(px), quantize_332(px)
    assert np.array_equal(q1, q2)
    assert len(np.unique(q1.reshape(-1, 3), axis=0)) <= 256
    assert int(np.abs(q1.astype(int) - px.astype(int)).max()) <= 64


# ---------------------------------------------------------- animation
def test_animation_roundtrip_and_meta():
    frames = [_q(f"fr_{i}", 24, 18) for i in range(5)]
    delays = [4, 10, 4, 10, 25]
    data = encode_gif_animation(frames, delays, loop=3)
    out, out_delays = decode_gif_frames(data)
    assert out_delays == delays
    for a, b in zip(out, frames):
        assert np.array_equal(a, b)
    meta = gif_frame_meta(data)
    assert meta == {
        "w": 24, "h": 18, "n_frames": 5, "duration_cs": 53, "loop": 3,
        "interlaced": False, "independent_frames": True,
    }


def test_sampled_frames_skip_entropy_decode():
    frames = [_q(f"s_{i}", 20, 20) for i in range(8)]
    data = encode_gif_animation(frames, [5] * 8)
    got = sample_gif_frames(data, [1, 4, 7])
    for g, i in zip(got, [1, 4, 7]):
        assert np.array_equal(g, frames[i])
    # corrupting a NON-sampled frame's LZW payload must not matter:
    # sampled-only decode never touches it
    st = parse_gif(data)
    # the reassembled lzw spans sub-blocks; its first 64 bytes are one
    # contiguous run inside the stream — flip a byte mid-payload there
    pos = data.index(st.frames[2].lzw[:64]) + 50
    bad = data[:pos] + bytes([data[pos] ^ 0xFF]) + data[pos + 1 :]
    got2 = sample_gif_frames(bad, [4])
    assert np.array_equal(got2[0], frames[4])
    try:
        wrong = sample_gif_frames(bad, [2])[0]
    except ValueError:
        pass  # invalid code / length mismatch — the usual outcome
    else:  # a surviving decode must at least not equal the original
        assert not np.array_equal(wrong, frames[2])


# -------------------------------------------- hand-built spec streams
def _hand_gif(frames_spec, w=4, h=4, bg_index=3, loop=None):
    """Assemble a GIF89a stream byte-by-byte: GCT = red/green/blue/
    white; each frame: (left, top, fw, fh, indices, disposal,
    transparent, lct_or_None)."""
    gct = np.array(
        [[255, 0, 0], [0, 255, 0], [0, 0, 255], [255, 255, 255]], dtype=np.uint8
    )
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | (1 << 4) | 1, bg_index, 0)
    out += gct.tobytes()
    if loop is not None:
        out += b"\x21\xff\x0bNETSCAPE2.0" + bytes([3, 1]) + struct.pack("<H", loop) + b"\x00"
    for left, top, fw, fh, idx, disposal, transparent, lct in frames_spec:
        flags = (disposal << 2) | (1 if transparent >= 0 else 0)
        out += b"\x21\xf9\x04" + bytes([flags]) + struct.pack("<H", 7)
        out += bytes([max(transparent, 0), 0])
        fpacked = 0
        if lct is not None:
            fpacked |= 0x80 | (int(np.log2(lct.shape[0])) - 1)
        out += b"\x2c" + struct.pack("<HHHH", left, top, fw, fh) + bytes([fpacked])
        if lct is not None:
            out += lct.tobytes()
        out += bytes([2]) + _sub_blocks(_lzw_encode(bytes(idx), 2))
    out += b"\x3b"
    return bytes(out)


def test_transparency_and_partial_frame_compositing():
    full_red = [0] * 16
    # 2x2 at (1,1): green / transparent / transparent / green
    spec = [
        (0, 0, 4, 4, full_red, 1, -1, None),
        (1, 1, 2, 2, [1, 2, 2, 1], 1, 2, None),
    ]
    frames, _ = decode_gif_frames(_hand_gif(spec))
    assert np.array_equal(frames[0], np.broadcast_to([255, 0, 0], (4, 4, 3)))
    f2 = frames[0].copy()
    f2[1, 1] = [0, 255, 0]
    f2[2, 2] = [0, 255, 0]
    assert np.array_equal(frames[1], f2)


def test_disposal_background_and_previous():
    full_red = [0] * 16
    spec = [
        (0, 0, 4, 4, full_red, 1, -1, None),
        (1, 1, 2, 2, [1, 1, 1, 1], 3, -1, None),  # restore-to-previous
        (0, 0, 1, 1, [2], 2, -1, None),           # restore-to-background
        (3, 3, 1, 1, [1], 0, -1, None),
    ]
    frames, _ = decode_gif_frames(_hand_gif(spec))
    # frame 3: the green 2x2 was reverted (disposal 3), so only blue @ (0,0)
    f3 = frames[0].copy()
    f3[0, 0] = [0, 0, 255]
    assert np.array_equal(frames[2], f3)
    # frame 4: blue @ (0,0) was restored to bg (white), green @ (3,3)
    f4 = frames[0].copy()
    f4[0, 0] = [255, 255, 255]
    f4[3, 3] = [0, 255, 0]
    assert np.array_equal(frames[3], f4)


def test_local_color_table_overrides_global():
    lct = np.array(
        [[9, 9, 9], [200, 100, 50], [0, 0, 0], [0, 0, 0]], dtype=np.uint8
    )
    spec = [(0, 0, 4, 4, [1] * 16, 1, -1, lct)]
    frames, _ = decode_gif_frames(_hand_gif(spec))
    assert np.array_equal(frames[0], np.broadcast_to([200, 100, 50], (4, 4, 3)))


# ---------------------------------------------------------- corruption
def test_bad_signature_rejected():
    with pytest.raises(ValueError, match="signature"):
        decode_gif(b"NOTGIF" + b"\x00" * 20)


def test_truncations_rejected():
    data = encode_gif(_q("t", 8, 8))
    for cut in (4, 10, len(data) // 2, len(data) - 2):
        with pytest.raises(ValueError):
            decode_gif(data[:cut])


def test_frame_exceeding_screen_rejected():
    spec = [(3, 3, 2, 2, [0, 1, 2, 3], 1, -1, None)]
    with pytest.raises(ValueError, match="exceeds"):
        decode_gif_frames(_hand_gif(spec))


def test_gradient_pixels_roundtrip_all_seeds():
    # the contract query's exact generator across several seeds/widths
    for s in range(6):
        w = 24 + (s % 3) * 8
        px = quantize_332(pixels_gradient(f"img_{s}", w, 32))
        assert np.array_equal(decode_gif(encode_gif(px, interlace=s % 2 == 1)), px)


def test_huge_logical_screen_fails_before_allocating_a_canvas():
    """The canvas is the logical screen: 65535 x 65535 is 12 GiB of
    RGB. A frame whose LZW data comes up short fails before any canvas
    exists, and a screen over image_meta.MAX_PIXELS is refused."""
    import tracemalloc

    short = [(0, 0, 4, 4, [0] * 8, 1, -1, None)]  # 8 of the frame's 16 pixels
    whole = [(0, 0, 4, 4, [0] * 16, 1, -1, None)]
    tracemalloc.start()
    try:
        with pytest.raises(ValueError, match="lzw"):
            decode_gif(_hand_gif(short, w=6000, h=6000))
        assert tracemalloc.get_traced_memory()[1] < 16 << 20
        with pytest.raises(ValueError, match="cap"):
            decode_gif(_hand_gif(whole, w=65535, h=65535))
        assert tracemalloc.get_traced_memory()[1] < 16 << 20
    finally:
        tracemalloc.stop()
