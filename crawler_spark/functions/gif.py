"""GIF87a/89a codec — real LZW compression on stdlib + numpy alone.

GIF is the one ubiquitous web image format the engine was still
missing (raw/PNG/baseline+progressive JPEG landed in rounds 2-4).
Unlike JPEG it is fully algorithmic: the container is a small block
grammar and the entropy layer is variable-width LZW, both completely
specified in the public GIF89a specification — no tabulated data to
reproduce (the reason MP3 PCM decode stays a stub, see
functions/mpeg_audio.py). This module implements it for real:

- decode: header + logical screen descriptor, global/local color
  tables, image descriptors (offsets, interlace), graphic control
  extensions (disposal, transparency, delay), NETSCAPE loop
  extension, comment/plain-text skip, sub-block reassembly, and a
  strict variable-width LZW decoder (code-size growth at table
  boundaries, KwKwK case, deferred-clear tolerance, 12-bit cap) —
  interlaced images are de-interlaced with the spec's 4-pass order,
  and animations are composited with disposal methods 0-3;
- encode: exact (lossless) palettization for images with <= 256
  unique colors — a loud ValueError otherwise so lossy quantization
  is always the CALLER's explicit choice (`quantize_332` below is
  the deterministic, SQL-reproducible quantizer the contract query
  uses) — plus optional interlacing and multi-frame animations with
  per-frame delays and the NETSCAPE loop block;
- frame sampling WITHOUT full decode: `gif_frame_meta` walks the
  block grammar skipping LZW payloads entirely (O(bytes), no entropy
  work), and `sample_gif_frames` LZW-decodes ONLY the requested
  frames when every frame is full-canvas and opaque (our synthesized
  animations and most screen-capture GIFs) — the animated-GIF analog
  of the MJPEG sampled-frames-only story in functions/video.py.

Encoder/decoder are strict mirrors of the spec's LZW synchronization
(the decoder lags the encoder's dictionary by exactly one entry, so
the encoder grows its code width when ``next_code - 1`` hits
``1 << width`` and emits CLEAR when the table fills at 4096); the
tests force every width transition 3..12 bits and the table-full
CLEAR path, where any off-by-one desynchronizes immediately.

Reference twin: the reference's parsers consume whatever image bytes
the portals serve and derive typed fields from them
(src/advert.py:188-381); GIF is part of that real-payload surface.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass, field

import numpy as np

from crawler_spark.functions.image_meta import check_pixels

_SIG87 = b"GIF87a"
_SIG89 = b"GIF89a"
_MAX_CODE = 0xFFF  # 12-bit LZW cap per the spec


# ------------------------------------------------------------------ lzw
def _lzw_encode(indices: bytes, mcs: int) -> bytes:
    """Variable-width GIF-LZW. `indices` are palette indices < 2**mcs."""
    clear, end = 1 << mcs, (1 << mcs) + 1
    out = bytearray()
    acc = nbits = 0
    width = mcs + 1

    def emit(code: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    table: dict[tuple[int, int], int] = {}
    next_code = end + 1
    emit(clear)
    prev = -1
    for k in indices:
        if prev < 0:
            prev = k
            continue
        key = (prev, k)
        code = table.get(key)
        if code is not None:
            prev = code
            continue
        emit(prev)
        if next_code > _MAX_CODE:
            # table full: a fresh entry would need index 4096 — emit
            # CLEAR (at the current 12-bit width; the decoder is at
            # next==4095 so it reads 12 bits too) and restart.
            emit(clear)
            table.clear()
            next_code = end + 1
            width = mcs + 1
        else:
            table[key] = next_code
            next_code += 1
            # the decoder's dictionary trails ours by one entry, so
            # it reaches 1<<width exactly when our next_code - 1 does
            if next_code - 1 == (1 << width) and width < 12:
                width += 1
        prev = k
    if prev >= 0:
        emit(prev)
    emit(end)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _lzw_decode(data: bytes, mcs: int, expected: int) -> bytes:
    """Strict GIF-LZW decode of exactly `expected` palette indices."""
    if not 2 <= mcs <= 11:
        raise ValueError(f"gif lzw min code size {mcs} out of range")
    clear, end = 1 << mcs, (1 << mcs) + 1
    width = mcs + 1
    base = {i: bytes([i]) for i in range(clear)}
    table = dict(base)
    next_code = end + 1
    out = bytearray()
    acc = nbits = pos = 0
    prev = -1
    while True:
        while nbits < width:
            if pos >= len(data):
                raise ValueError("gif lzw stream truncated (no END code)")
            acc |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            width = mcs + 1
            table = dict(base)
            next_code = end + 1
            prev = -1
            continue
        if code == end:
            break
        if prev < 0:
            entry = table.get(code)
            if entry is None or code >= clear:
                raise ValueError(f"gif lzw first code {code} not a root")
            out += entry
            prev = code
            continue
        if code < next_code:
            entry = table[code]
        elif code == next_code:
            entry = table[prev] + table[prev][:1]  # KwKwK
        else:
            raise ValueError(f"gif lzw code {code} beyond table ({next_code})")
        out += entry
        if next_code <= _MAX_CODE:
            table[next_code] = table[prev] + entry[:1]
            next_code += 1
            if next_code == (1 << width) and width < 12:
                width += 1
        prev = code
        if len(out) > expected:
            raise ValueError(f"gif lzw overrun: {len(out)} > {expected} pixels")
    if len(out) != expected:
        raise ValueError(f"gif lzw yielded {len(out)} of {expected} pixels")
    return bytes(out)


# ------------------------------------------------------------ palettize
def quantize_332(pixels: np.ndarray) -> np.ndarray:
    """Deterministic 3-3-2 bit palettization (256 colors max).

    level = channel >> bits_dropped; representative = level*255 //
    levels_max — pure integer arithmetic, so a DuckDB oracle can
    regenerate it exactly ((r // 32) * 255 // 7 etc.). This is the
    explicit lossy step a caller takes before `encode_gif` on
    true-color content; the codec itself stays lossless.
    """
    px = pixels.astype(np.uint16)
    r = (px[..., 0] >> 5) * 255 // 7
    g = (px[..., 1] >> 5) * 255 // 7
    b = (px[..., 2] >> 6) * 255 // 3
    return np.stack([r, g, b], axis=-1).astype(np.uint8)


def _build_palette(frames: list[np.ndarray]) -> tuple[np.ndarray, int]:
    packed = [
        (f[..., 0].astype(np.uint32) << 16)
        | (f[..., 1].astype(np.uint32) << 8)
        | f[..., 2].astype(np.uint32)
        for f in frames
    ]
    colors = np.unique(np.concatenate([p.reshape(-1) for p in packed]))
    if colors.size > 256:
        raise ValueError(
            f"gif palette needs {colors.size} colors (max 256); apply an "
            "explicit quantizer (e.g. quantize_332) first"
        )
    gct_bits = max(1, int(np.ceil(np.log2(max(colors.size, 2)))))
    return colors, gct_bits


def _indices_for(frame: np.ndarray, colors: np.ndarray) -> bytes:
    packed = (
        (frame[..., 0].astype(np.uint32) << 16)
        | (frame[..., 1].astype(np.uint32) << 8)
        | frame[..., 2].astype(np.uint32)
    ).reshape(-1)
    return np.searchsorted(colors, packed).astype(np.uint8).tobytes()


_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _interlace_order(h: int) -> np.ndarray:
    return np.concatenate(
        [np.arange(start, h, step) for start, step in _INTERLACE_PASSES]
    )


def _sub_blocks(data: bytes) -> bytes:
    out = bytearray()
    for i in range(0, len(data), 255):
        chunk = data[i : i + 255]
        out.append(len(chunk))
        out += chunk
    out.append(0)
    return bytes(out)


# --------------------------------------------------------------- encode
def _check_frame(f: np.ndarray) -> None:
    if f.ndim != 3 or f.shape[2] != 3 or f.dtype != np.uint8:
        raise ValueError("gif encoder expects (h, w, 3) uint8 frames")


def encode_gif(pixels: np.ndarray, interlace: bool = False) -> bytes:
    """Lossless single-image GIF (<=256 unique colors, else ValueError)."""
    return encode_gif_animation([pixels], delays_cs=None, interlace=interlace)


def encode_gif_animation(
    frames: list[np.ndarray],
    delays_cs: list[int] | None,
    loop: int = 0,
    interlace: bool = False,
) -> bytes:
    """Multi-frame GIF89a; every frame full-canvas opaque, disposal 1.

    Full-canvas opaque frames keep each frame independently decodable
    — the property `sample_gif_frames` exploits to entropy-decode
    only the sampled frames (like the MJPEG path in functions/video).
    """
    if not frames:
        raise ValueError("gif needs at least one frame")
    for f in frames:
        _check_frame(f)
    h, w, _ = frames[0].shape
    if any(f.shape != (h, w, 3) for f in frames):
        raise ValueError("gif animation frames must share dimensions")
    if delays_cs is not None and len(delays_cs) != len(frames):
        raise ValueError("delays_cs length must match frames")
    colors, gct_bits = _build_palette(frames)
    mcs = max(2, gct_bits)
    gct = np.zeros((1 << gct_bits, 3), dtype=np.uint8)
    gct[: colors.size, 0] = (colors >> 16) & 0xFF
    gct[: colors.size, 1] = (colors >> 8) & 0xFF
    gct[: colors.size, 2] = colors & 0xFF

    out = bytearray(_SIG89)
    packed = 0x80 | ((gct_bits - 1) << 4) | (gct_bits - 1)
    out += struct.pack("<HHBBB", w, h, packed, 0, 0)
    out += gct.tobytes()
    if len(frames) > 1:
        out += b"\x21\xff\x0bNETSCAPE2.0"
        out += bytes([3, 1]) + struct.pack("<H", loop) + b"\x00"
    for idx, f in enumerate(frames):
        if delays_cs is not None:
            # GCE: disposal 1 (leave in place), no transparency
            out += b"\x21\xf9\x04" + bytes([1 << 2])
            out += struct.pack("<H", delays_cs[idx]) + b"\x00\x00"
        out += b"\x2c" + struct.pack("<HHHH", 0, 0, w, h)
        out += bytes([0x40 if interlace else 0])
        if interlace:
            f = f[_interlace_order(h)]
        out += bytes([mcs]) + _sub_blocks(_lzw_encode(_indices_for(f, colors), mcs))
    out += b"\x3b"
    return bytes(out)


# --------------------------------------------------------------- decode
@dataclass
class GifFrame:
    left: int
    top: int
    w: int
    h: int
    interlace: bool
    mcs: int
    lzw: bytes
    lct: np.ndarray | None = None
    delay_cs: int = 0
    disposal: int = 0
    transparent: int = -1  # -1 = opaque


@dataclass
class GifStream:
    w: int
    h: int
    gct: np.ndarray | None
    bg_index: int
    loop: int | None
    frames: list[GifFrame] = field(default_factory=list)


def _read_sub_blocks(data: bytes, pos: int) -> tuple[bytes, int]:
    out = bytearray()
    while True:
        if pos >= len(data):
            raise ValueError("gif truncated inside sub-blocks")
        n = data[pos]
        pos += 1
        if n == 0:
            return bytes(out), pos
        if pos + n > len(data):
            raise ValueError("gif truncated inside sub-blocks")
        out += data[pos : pos + n]
        pos += n


def _skip_sub_blocks(data: bytes, pos: int) -> int:
    while True:
        if pos >= len(data):
            raise ValueError("gif truncated inside sub-blocks")
        n = data[pos]
        pos += 1
        if n == 0:
            return pos
        pos += n
        if pos > len(data):
            raise ValueError("gif truncated inside sub-blocks")


def parse_gif(data: bytes, keep_lzw: bool = True) -> GifStream:
    """Walk the block grammar; with keep_lzw=False the LZW payloads are
    skipped (length-prefix hops only) — frame counting/metadata at
    O(bytes) with zero entropy work."""
    data = bytes(data)
    if data[:6] not in (_SIG87, _SIG89):
        raise ValueError("not a GIF: bad signature")
    if len(data) < 13:
        raise ValueError("gif truncated in logical screen descriptor")
    w, h, packed, bg, _aspect = struct.unpack("<HHBBB", data[6:13])
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        if pos + 3 * n > len(data):
            raise ValueError("gif truncated in global color table")
        gct = np.frombuffer(data, dtype=np.uint8, count=3 * n, offset=pos).reshape(n, 3)
        pos += 3 * n
    stream = GifStream(w=w, h=h, gct=gct, bg_index=bg, loop=None)
    delay, disposal, transparent = 0, 0, -1
    while True:
        if pos >= len(data):
            raise ValueError("gif truncated (no trailer)")
        block = data[pos]
        pos += 1
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension
            if pos >= len(data):
                raise ValueError("gif truncated in extension")
            label = data[pos]
            pos += 1
            if label == 0xF9:  # graphic control
                payload, pos = _read_sub_blocks(data, pos)
                if len(payload) != 4:
                    raise ValueError("gif GCE payload must be 4 bytes")
                flags, delay = payload[0], struct.unpack("<H", payload[1:3])[0]
                disposal = (flags >> 2) & 0x7
                transparent = payload[3] if flags & 1 else -1
            elif label == 0xFF:  # application
                payload, pos = _read_sub_blocks(data, pos)
                if payload[:11] == b"NETSCAPE2.0" and len(payload) >= 14:
                    stream.loop = struct.unpack("<H", payload[12:14])[0]
            else:  # comment / plain text / unknown: skip
                pos = _skip_sub_blocks(data, pos)
        elif block == 0x2C:  # image descriptor
            if pos + 9 > len(data):
                raise ValueError("gif truncated in image descriptor")
            left, top, fw, fh, fpacked = struct.unpack("<HHHHB", data[pos : pos + 9])
            pos += 9
            lct = None
            if fpacked & 0x80:
                n = 2 << (fpacked & 0x07)
                if pos + 3 * n > len(data):
                    raise ValueError("gif truncated in local color table")
                lct = np.frombuffer(
                    data, dtype=np.uint8, count=3 * n, offset=pos
                ).reshape(n, 3)
                pos += 3 * n
            if pos >= len(data):
                raise ValueError("gif truncated before LZW min code size")
            mcs = data[pos]
            pos += 1
            if keep_lzw:
                lzw, pos = _read_sub_blocks(data, pos)
            else:
                lzw, pos = b"", _skip_sub_blocks(data, pos)
            if left + fw > w or top + fh > h:
                raise ValueError("gif frame exceeds logical screen")
            stream.frames.append(
                GifFrame(left, top, fw, fh, bool(fpacked & 0x40), mcs, lzw, lct,
                         delay, disposal, transparent)
            )
            delay, disposal, transparent = 0, 0, -1
        else:
            raise ValueError(f"gif unknown block 0x{block:02x}")
    if not stream.frames:
        raise ValueError("gif has no image data")
    return stream


def _frame_pixels(fr: GifFrame, gct: np.ndarray | None) -> np.ndarray:
    """Decode one frame to its own (fh, fw) index grid mapped to RGB,
    returning (rgb, alpha_mask)."""
    ct = fr.lct if fr.lct is not None else gct
    if ct is None:
        raise ValueError("gif frame has no color table")
    idx = np.frombuffer(
        _lzw_decode(fr.lzw, fr.mcs, fr.w * fr.h), dtype=np.uint8
    ).reshape(fr.h, fr.w)
    if fr.interlace:
        deint = np.empty_like(idx)
        deint[_interlace_order(fr.h)] = idx
        idx = deint
    if int(idx.max(initial=0)) >= ct.shape[0]:
        raise ValueError("gif pixel index beyond color table")
    rgb = ct[idx]
    opaque = (
        np.ones((fr.h, fr.w), dtype=bool)
        if fr.transparent < 0
        else idx != fr.transparent
    )
    return rgb, opaque


def _canvas(st: GifStream) -> tuple[np.ndarray, np.ndarray]:
    """The logical screen filled with the background color, and that color."""
    check_pixels(st.w, st.h, "gif")
    bg = (
        st.gct[st.bg_index]
        if st.gct is not None and st.bg_index < st.gct.shape[0]
        else np.zeros(3, dtype=np.uint8)
    )
    return np.broadcast_to(bg, (st.h, st.w, 3)).copy(), bg


def decode_gif_frames(data: bytes) -> tuple[list[np.ndarray], list[int]]:
    """Full composite decode: list of (h, w, 3) canvases + delays (cs).

    Disposal: 0/1 leave, 2 restore region to background color, 3
    restore to the previous canvas. Output is RGB (no alpha): the
    background-restore uses the global table's bg color (black when
    absent) — the documented choice for an RGB-only pipeline.
    """
    st = parse_gif(data)
    canvas, bg = _canvas(st)
    frames, delays = [], []
    for fr in st.frames:
        before = canvas.copy() if fr.disposal == 3 else None
        rgb, opaque = _frame_pixels(fr, st.gct)
        region = canvas[fr.top : fr.top + fr.h, fr.left : fr.left + fr.w]
        region[opaque] = rgb[opaque]
        frames.append(canvas.copy())
        delays.append(fr.delay_cs)
        if fr.disposal == 2:
            canvas[fr.top : fr.top + fr.h, fr.left : fr.left + fr.w] = bg
        elif fr.disposal == 3:
            canvas = before
    return frames, delays


def decode_gif(data: bytes) -> np.ndarray:
    """Decode a still GIF (first frame's composed canvas)."""
    st = parse_gif(data)
    fr = st.frames[0]
    rgb, opaque = _frame_pixels(fr, st.gct)  # a corrupt LZW fails before the canvas exists
    canvas, _ = _canvas(st)
    region = canvas[fr.top : fr.top + fr.h, fr.left : fr.left + fr.w]
    region[opaque] = rgb[opaque]
    return canvas


def gif_frame_meta(data: bytes) -> dict:
    """Stream metadata with ZERO entropy decode (LZW payloads hopped
    via length prefixes): the 100 TB triage path, like
    mpeg_audio.parse_mp3's no-decode walk."""
    st = parse_gif(data, keep_lzw=False)
    return {
        "w": st.w,
        "h": st.h,
        "n_frames": len(st.frames),
        "duration_cs": sum(f.delay_cs for f in st.frames),
        "loop": st.loop,
        "interlaced": any(f.interlace for f in st.frames),
        "independent_frames": _frames_independent(st),
    }


def _frames_independent(st: GifStream) -> bool:
    return all(
        f.left == 0 and f.top == 0 and f.w == st.w and f.h == st.h
        and f.transparent < 0 and f.disposal in (0, 1)
        for f in st.frames
    )


def sample_gif_frames(data: bytes, wanted: list[int]) -> list[np.ndarray]:
    """Decode only the requested frame indices.

    When every frame is full-canvas and opaque (the synthesized
    corpus and typical screen-recording GIFs), frames are independent
    and only the sampled payloads are LZW-decoded — O(kept frames)
    entropy work. Otherwise falls back to compositing from frame 0
    (correct, documented as the slow path).
    """
    st = parse_gif(data)
    n = len(st.frames)
    for i in wanted:
        if not 0 <= i < n:
            raise ValueError(f"gif frame {i} out of range (n={n})")
    if _frames_independent(st):
        out = []
        for i in wanted:
            rgb, _ = _frame_pixels(st.frames[i], st.gct)
            out.append(rgb)
        return out
    frames, _ = decode_gif_frames(data)
    return [frames[i] for i in wanted]
