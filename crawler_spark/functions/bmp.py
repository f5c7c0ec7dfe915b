"""BMP (Windows DIB) codec — uncompressed 24-bit + 8-bit RLE8.

BMP rounds out the stdlib-implementable image surface (raw, PNG,
baseline+progressive JPEG, GIF): the format is a public, fully
algorithmic spec — a 14-byte file header, a DIB info header, an
optional palette, and bottom-up BGR scanlines padded to 4 bytes, with
RLE8 as the only entropy layer (run pairs, absolute mode, EOL/EOF/
delta escapes). Decode accepts BITMAPINFOHEADER and the V4/V5
extensions (sized-header skip), both bottom-up and top-down rows,
24-bit BI_RGB and 8-bit BI_RGB/BI_RLE8 with palette; encode emits
24-bit BI_RGB (lossless true color) and 8-bit BI_RLE8 (lossless over
a <=256-color palette — quantization is the caller's explicit step,
same contract as functions/gif.py).

Reference twin: the reference's parsers consume whatever image bytes
the portals serve (src/advert.py:188-381); BMP is part of that
real-payload surface.
"""

from __future__ import annotations

import struct

import numpy as np

from crawler_spark.functions.image_meta import check_pixels

_BI_RGB, _BI_RLE8 = 0, 1


# --------------------------------------------------------------- encode
def encode_bmp(pixels: np.ndarray) -> bytes:
    """Lossless 24-bit BI_RGB, bottom-up, rows padded to 4 bytes."""
    if pixels.ndim != 3 or pixels.shape[2] != 3 or pixels.dtype != np.uint8:
        raise ValueError("encode_bmp expects (h, w, 3) uint8")
    h, w, _ = pixels.shape
    stride = (w * 3 + 3) & ~3
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, : w * 3] = pixels[::-1, :, ::-1].reshape(h, w * 3)  # bottom-up BGR
    data = rows.tobytes()
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, _BI_RGB, len(data), 2835, 2835, 0, 0)
    off = 14 + 40
    head = b"BM" + struct.pack("<IHHI", off + len(data), 0, 0, off)
    return head + info + data


def _palettize(pixels: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    packed = (
        (pixels[..., 0].astype(np.uint32) << 16)
        | (pixels[..., 1].astype(np.uint32) << 8)
        | pixels[..., 2].astype(np.uint32)
    )
    colors = np.unique(packed.reshape(-1))
    if colors.size > 256:
        raise ValueError(
            f"bmp rle8 palette needs {colors.size} colors (max 256); apply an "
            "explicit quantizer (e.g. gif.quantize_332) first"
        )
    idx = np.searchsorted(colors, packed).astype(np.uint8)
    return colors, idx


def _rle8_row(row: np.ndarray) -> bytearray:
    """One scanline as RLE8 encoded-mode runs + EOL."""
    out = bytearray()
    i, n = 0, len(row)
    while i < n:
        run = 1
        while i + run < n and run < 255 and row[i + run] == row[i]:
            run += 1
        out += bytes([run, int(row[i])])
        i += run
    out += b"\x00\x00"  # end of line
    return out


def encode_bmp_rle8(pixels: np.ndarray) -> bytes:
    """Lossless 8-bit BI_RLE8 over a <=256-color exact palette."""
    if pixels.ndim != 3 or pixels.shape[2] != 3 or pixels.dtype != np.uint8:
        raise ValueError("encode_bmp_rle8 expects (h, w, 3) uint8")
    h, w, _ = pixels.shape
    colors, idx = _palettize(pixels)
    body = bytearray()
    for y in range(h - 1, -1, -1):  # bottom-up
        body += _rle8_row(idx[y])
    body[-2:] = b"\x00\x01"  # last EOL becomes end-of-bitmap
    pal = np.zeros((256, 4), dtype=np.uint8)
    pal[: colors.size, 0] = colors & 0xFF  # blue
    pal[: colors.size, 1] = (colors >> 8) & 0xFF
    pal[: colors.size, 2] = (colors >> 16) & 0xFF
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 8, _BI_RLE8, len(body), 2835, 2835, 256, 0
    )
    off = 14 + 40 + 1024
    head = b"BM" + struct.pack("<IHHI", off + len(body), 0, 0, off)
    return head + info + pal.tobytes() + bytes(body)


# --------------------------------------------------------------- decode
def _decode_rle8(data: bytes, w: int, h: int) -> np.ndarray:
    """RLE8 to an index grid in ROW-STORAGE order (bottom-up handled
    by the caller). Escapes: 0,0 EOL; 0,1 EOF; 0,2 dx,dy delta;
    0,n>=3 absolute run (word-aligned)."""
    idx = np.zeros((h, w), dtype=np.uint8)
    x = y = pos = 0
    while pos + 2 <= len(data):
        a, b = data[pos], data[pos + 1]
        pos += 2
        if a > 0:  # encoded run
            if x + a > w or y >= h:
                raise ValueError("bmp rle8 run exceeds row")
            idx[y, x : x + a] = b
            x += a
        elif b == 0:  # end of line
            x, y = 0, y + 1
        elif b == 1:  # end of bitmap
            return idx
        elif b == 2:  # delta
            if pos + 2 > len(data):
                raise ValueError("bmp rle8 truncated delta")
            x += data[pos]
            y += data[pos + 1]
            pos += 2
            if x > w or y > h:
                raise ValueError("bmp rle8 delta out of bounds")
        else:  # absolute mode: b literal indices, word-aligned
            if x + b > w or y >= h or pos + b > len(data):
                raise ValueError("bmp rle8 absolute run exceeds row")
            idx[y, x : x + b] = np.frombuffer(data, np.uint8, b, pos)
            x += b
            pos += b + (b & 1)
    raise ValueError("bmp rle8 stream missing end-of-bitmap")


def decode_bmp(data: bytes) -> np.ndarray:
    """Decode 24-bit BI_RGB or 8-bit BI_RGB/BI_RLE8 to (h, w, 3) RGB."""
    data = bytes(data)
    if data[:2] != b"BM" or len(data) < 54:
        raise ValueError("not a BMP: bad signature/size")
    (_fsize, _r1, _r2, off) = struct.unpack("<IHHI", data[2:14])
    (hsize,) = struct.unpack("<I", data[14:18])
    if hsize < 40:
        raise NotImplementedError(f"bmp core header ({hsize}) unsupported")
    w, h, _planes, bpp, comp, _isize, _xp, _yp, used, _imp = struct.unpack(
        "<iiHHIIiiII", data[18:54]
    )
    top_down = h < 0
    h = abs(h)
    if w <= 0 or h == 0:
        raise ValueError("bmp dimensions invalid")
    check_pixels(w, h, "bmp")
    pal_off = 14 + hsize
    if bpp == 24 and comp == _BI_RGB:
        stride = (w * 3 + 3) & ~3
        if off + stride * h > len(data):
            raise ValueError("bmp pixel data truncated")
        rows = np.frombuffer(data, np.uint8, stride * h, off).reshape(h, stride)
        px = rows[:, : w * 3].reshape(h, w, 3)[:, :, ::-1]  # BGR -> RGB
        return (px if top_down else px[::-1]).copy()
    if bpp == 8:
        n_pal = used or 256
        if pal_off + 4 * n_pal > off:
            raise ValueError("bmp palette exceeds pixel offset")
        pal = np.frombuffer(data, np.uint8, 4 * n_pal, pal_off).reshape(n_pal, 4)
        rgb = pal[:, 2::-1]  # BGRA -> RGB
        if comp == _BI_RGB:
            stride = (w + 3) & ~3
            if off + stride * h > len(data):
                raise ValueError("bmp pixel data truncated")
            idx = np.frombuffer(data, np.uint8, stride * h, off).reshape(h, stride)[
                :, :w
            ]
        elif comp == _BI_RLE8:
            if top_down:
                raise ValueError("bmp rle8 must be bottom-up per spec")
            idx = _decode_rle8(data[off:], w, h)
        else:
            raise NotImplementedError(f"bmp 8-bit compression {comp} unsupported")
        if int(idx.max(initial=0)) >= n_pal:
            raise ValueError("bmp pixel index beyond palette")
        px = rgb[idx]
        return (px if top_down else px[::-1]).copy()
    raise NotImplementedError(f"bmp {bpp}-bit/compression-{comp} unsupported")
