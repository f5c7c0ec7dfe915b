"""Image payload codec, perceptual hash, and validation UDFs.

This is the image+caption analog of the reference's per-row HTML
field extraction (src/advert.py:188-285 Karriere, 288-381 Stepstone):
payload bytes in, struct of derived/validated fields out, executed as
Arrow-batched pandas UDFs (never per-row Python in the plan).

Formats — all fully implemented, dependency-free:
- 'raw': uncompressed RGB, w*h*3 uint8.
- 'png' (8-bit RGB, non-interlaced): stdlib-zlib codec, all five
  scanline filters on decode, CRC-validated chunks.
- 'jpeg' (baseline sequential JFIF): numpy/stdlib codec in
  functions/jpeg.py — Annex K tables, 4:4:4 encode at quality 98
  (PSNR >= 40 dB on the worst-case noise corpus), decode handles
  4:2:0/4:2:2/grayscale and restart markers from standard encoders.
- 'jpeg_progressive' (SOF2): successive-approximation + spectral-
  selection scan script on encode; decode accumulates coefficients
  across scans and is bit-identical to the baseline decode of the
  same image/quality (decode_jpeg auto-detects SOF0 vs SOF2, so
  progressive bytes from ANY encoder also flow through fmt='jpeg').
"""

from __future__ import annotations

import struct
import zlib
from functools import lru_cache

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from crawler_spark.functions.image_meta import check_pixels, image_meta

GLOBAL_SEED = 42
_LOW7_BYTES = np.uint64(0x7F7F7F7F7F7F7F7F)

# ----------------------------------------------------------------- core


def pixels_for(image_id: str, w: int, h: int) -> np.ndarray:
    """Deterministic ground-truth pixels for a synthetic image.

    Seeded PRNG noise plus a low-frequency gradient keyed off the id,
    so the DCT in phash64 sees structure, not just white noise:
    pixel = (noise + (x*a + y*b) % 256) // 2, per channel.

    The (h, 3w) pixel bytes are built in whole uint64 words (the byte
    count padded up to a multiple of 8; the pad is sliced off):
    - noise: the PCG64 raw 64-bit stream, stored little-endian, is the
      byte stream ``Generator.integers(0, 256, (h, w, 3), uint8)``
      draws (low 32-bit half first, low byte first), at a fraction of
      its cost;
    - gradient: a uint8 outer add, whose wrap-around is the ``% 256``;
    - average: ``(a & b) + ((a ^ b) >> 1)`` is ``(a + b) // 2`` per
      byte. Masking each byte's top bit after the shift keeps bits
      from crossing bytes, and no byte sum exceeds 255, so one uint64
      op does eight byte ops exactly.
    """
    seed = (GLOBAL_SEED << 32) ^ zlib.crc32(image_id.encode("utf-8"))
    if h < 0 or w < 0:
        raise ValueError("negative dimensions are not allowed")
    n = h * w * 3
    words = -(-n // 8)
    noise = np.random.PCG64(seed).random_raw(words).astype("<u8", copy=False).view(np.uint64)
    grad = np.empty(words, dtype=np.uint64)
    gx = np.repeat((np.arange(w) * (seed % 7 + 1) % 256).astype(np.uint8), 3)
    gy = (np.arange(h) * (seed % 5 + 1) % 256).astype(np.uint8)
    np.add.outer(gy, gx, out=grad.view(np.uint8)[:n].reshape(h, 3 * w))
    avg = noise ^ grad
    avg >>= 1
    avg &= _LOW7_BYTES
    noise &= grad
    avg += noise
    return avg.view(np.uint8)[:n].reshape(h, w, 3)


def pixels_gradient(image_id: str, w: int, h: int) -> np.ndarray:
    """SQL-reproducible deterministic test pattern.

    Unlike pixels_for (PCG64 noise — not expressible in SQL), every
    channel here is integer arithmetic on (x, y, id-seed) mod 256, so
    a DuckDB oracle can regenerate the exact pixels with
    generate_series and verify the decode/feature UDF path end-to-end
    (see __spark_entry__.q_image_features). The (x*y) % k term makes
    the image non-separable so DCT-based features stay non-trivial.
    """
    s = int(str(image_id).rsplit("_", 1)[-1])
    xx = np.arange(w, dtype=np.int64)[None, :]
    yy = np.arange(h, dtype=np.int64)[:, None]
    base = xx * (s % 5 + 1) + yy * (s % 7 + 2)
    xy = xx * yy
    r = (s + base + xy % 7) % 256
    g = (2 * s + base + xy % 11) % 256
    b = (3 * s + base + xy % 13) % 256
    return np.stack([r, g, b], axis=-1).astype(np.uint8)


# JPEG payloads encode at quality 98: the fidelity contract is
# PSNR >= 40 dB vs ground truth (input_hint), and the synthetic
# corpus' noise+gradient images measure ~43 dB at q=98 (noise is the
# worst case for a DCT codec; smooth content scores higher).
JPEG_QUALITY = 98


def encode_payload(pixels: np.ndarray, fmt: str = "raw") -> bytes:
    if fmt == "raw":
        return pixels.tobytes()
    if fmt == "png":
        return encode_png(pixels)
    if fmt == "jpeg":
        from crawler_spark.functions.jpeg import encode_jpeg

        return encode_jpeg(pixels, quality=JPEG_QUALITY)
    if fmt == "jpeg_progressive":
        from crawler_spark.functions.jpeg import encode_jpeg

        return encode_jpeg(pixels, quality=JPEG_QUALITY, progressive=True)
    if fmt in ("gif", "gif_interlaced"):
        # a GIF export is palettization + lossless LZW: the 3-3-2
        # quantize is the deterministic (SQL-reproducible) palettizer,
        # and everything after it round-trips exactly
        from crawler_spark.functions.gif import encode_gif, quantize_332

        return encode_gif(quantize_332(pixels), interlace=fmt == "gif_interlaced")
    if fmt == "bmp":
        from crawler_spark.functions.bmp import encode_bmp

        return encode_bmp(pixels)
    if fmt == "bmp_rle8":
        # like gif: palettization (the deterministic 3-3-2 quantizer)
        # + a lossless entropy layer
        from crawler_spark.functions.bmp import encode_bmp_rle8
        from crawler_spark.functions.gif import quantize_332

        return encode_bmp_rle8(quantize_332(pixels))
    raise NotImplementedError(
        f"codec {fmt!r} not available in this environment (no image libs); "
        "'raw', 'png', 'jpeg', 'jpeg_progressive' and 'gif' are the "
        "supported interchange formats"
    )


def decode_payload(data: bytes, w: int, h: int, fmt: str = "raw") -> np.ndarray:
    if fmt == "raw":
        arr = np.frombuffer(data, dtype=np.uint8)
        if arr.size != w * h * 3:
            raise ValueError(f"raw payload size {arr.size} != {w}x{h}x3")
        return arr.reshape(h, w, 3)
    if fmt == "png":
        decode = decode_png
    elif fmt in ("jpeg", "jpeg_progressive"):  # decode_jpeg detects SOF0/SOF2
        from crawler_spark.functions.jpeg import decode_jpeg as decode
    elif fmt in ("gif", "gif_interlaced"):  # decoder reads the interlace flag
        from crawler_spark.functions.gif import decode_gif as decode
    elif fmt in ("bmp", "bmp_rle8"):  # decoder reads bpp/compression fields
        from crawler_spark.functions.bmp import decode_bmp as decode
    else:
        raise NotImplementedError(
            f"codec {fmt!r} not available in this environment (no image libs)"
        )
    # the header's dims, read in O(header bytes): a payload claiming
    # other (or far more) pixels than expected fails before any decode
    # work or allocation; each decoder returns exactly its header's dims
    head = image_meta(data)
    if (head["w"], head["h"]) != (w, h):
        raise ValueError(f"{fmt} dims {head['w']}x{head['h']} != expected {w}x{h}")
    return decode(data)


# ------------------------------------------------------------------ png
# A real PNG codec on stdlib zlib alone (RFC 2083): 8-bit RGB (color
# type 2), non-interlaced. The encoder emits one filter type for the
# whole image (None/Sub/Up — Sub compresses the synthetic gradients
# well); the decoder implements ALL five scanline filters and CRC-
# checks every chunk, so it reads PNGs from any standard encoder with
# this color layout, not just its own output. This is the per-row
# field-extraction analog of the reference's BeautifulSoup parse
# (src/advert.py:188-285): bytes in, validated pixels out, inside the
# same Arrow-batched UDFs.

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def encode_png(pixels: np.ndarray, filter_type: int = 1, level: int = 6) -> bytes:
    """8-bit RGB non-interlaced PNG; one filter type for all rows."""
    if pixels.ndim != 3 or pixels.shape[2] != 3 or pixels.dtype != np.uint8:
        raise ValueError("encode_png expects (h, w, 3) uint8")
    h, w, _ = pixels.shape
    flat = pixels.reshape(h, w * 3)
    if filter_type == 0:  # None
        filtered = flat
    elif filter_type == 1:  # Sub: delta vs previous pixel in the row
        left = np.zeros_like(flat)
        left[:, 3:] = flat[:, :-3]
        filtered = flat - left  # uint8 wraps == mod 256
    elif filter_type == 2:  # Up: delta vs same byte one row up
        up = np.zeros_like(flat)
        up[1:, :] = flat[:-1, :]
        filtered = flat - up
    else:
        raise ValueError(f"encoder supports filter types 0/1/2, got {filter_type}")
    scan = np.empty((h, 1 + w * 3), dtype=np.uint8)
    scan[:, 0] = filter_type
    scan[:, 1:] = filtered
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(scan.tobytes(), level))
        + _png_chunk(b"IEND", b"")
    )


def decode_png(data: bytes) -> np.ndarray:
    """Decode an 8-bit RGB non-interlaced PNG (all 5 filters, CRC-checked)."""
    if bytes(data[:8]) != _PNG_SIG:
        raise ValueError("not a PNG: bad signature")
    pos, w = 8, None
    idat: list[bytes] = []
    while pos + 8 <= len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = bytes(data[pos + 4 : pos + 8])
        # the 4 CRC bytes must be present too: a PNG truncated between
        # a chunk payload and its CRC is a ValueError, not struct.error
        if pos + 12 + length > len(data):
            raise ValueError(f"truncated chunk {tag!r}")
        payload = bytes(data[pos + 8 : pos + 8 + length])
        (crc,) = struct.unpack(">I", data[pos + 8 + length : pos + 12 + length])
        if zlib.crc32(tag + payload) & 0xFFFFFFFF != crc:
            raise ValueError(f"CRC mismatch in chunk {tag!r}")
        if (tag == b"IHDR") != (pos == 8):
            raise ValueError("png IHDR must be the first chunk, and only it")
        if tag == b"IHDR":
            if length != 13:
                raise ValueError(f"png IHDR length {length} != 13")
            w, h, depth, ctype, comp, filt, interlace = struct.unpack(">IIBBBBB", payload)
            if (depth, ctype, comp, filt, interlace) != (8, 2, 0, 0, 0):
                raise NotImplementedError(
                    f"png layout unsupported: depth={depth} color={ctype} interlace={interlace}"
                )
            check_pixels(w, h, "png")
        elif tag == b"IDAT":
            idat.append(payload)
        elif tag == b"IEND":
            break
        pos += 12 + length
    if w is None or not idat:
        raise ValueError("png missing IHDR/IDAT")
    stride = 1 + w * 3
    try:  # inflate no more than the scanlines the header promises
        raw = zlib.decompressobj().decompress(b"".join(idat), h * stride + 1)
    except zlib.error as e:
        raise ValueError(f"png IDAT stream corrupt: {e}") from None
    if len(raw) != h * stride:
        raise ValueError(f"png scanline data {len(raw)} != {h}x{stride}")
    scan = np.frombuffer(raw, dtype=np.uint8).reshape(h, stride)
    filters, rows = scan[:, 0], scan[:, 1:]
    recon = np.zeros((h, w * 3), dtype=np.uint8)
    for y in range(h):
        f, row = int(filters[y]), rows[y]
        up = recon[y - 1] if y else np.zeros(w * 3, dtype=np.uint8)
        if f == 0:  # None
            recon[y] = row
        elif f == 1:  # Sub — per-channel cumulative sum mod 256
            recon[y] = (
                row.reshape(w, 3).astype(np.int64).cumsum(axis=0) % 256
            ).astype(np.uint8).reshape(-1)
        elif f == 2:  # Up
            recon[y] = row + up  # uint8 wraps
        elif f == 3:  # Average — left-recursive, per-pixel scan
            out, left = recon[y], np.zeros(3, dtype=np.uint16)
            u16, r16 = up.astype(np.uint16), row.astype(np.uint16)
            for x in range(0, w * 3, 3):
                left = (r16[x : x + 3] + ((left + u16[x : x + 3]) >> 1)) & 0xFF
                out[x : x + 3] = left
        elif f == 4:  # Paeth — left-recursive, per-pixel scan
            out = recon[y]
            ul = np.zeros(3, dtype=np.int32)
            left = np.zeros(3, dtype=np.int32)
            u32, r32 = up.astype(np.int32), row.astype(np.int32)
            for x in range(0, w * 3, 3):
                b = u32[x : x + 3]
                p = left + b - ul
                pa, pb, pc = np.abs(p - left), np.abs(p - b), np.abs(p - ul)
                pred = np.where((pa <= pb) & (pa <= pc), left, np.where(pb <= pc, b, ul))
                left = (r32[x : x + 3] + pred) & 0xFF
                out[x : x + 3] = left.astype(np.uint8)
                ul = b
        else:
            raise ValueError(f"png filter type {f} invalid")
    return recon.reshape(h, w, 3)


@lru_cache(maxsize=4)
def _dct_matrix(n: int) -> np.ndarray:
    """Orthonormal DCT-II basis (n x n)."""
    k = np.arange(n)[:, None]
    m = np.arange(n)[None, :]
    c = np.sqrt(2.0 / n) * np.cos(np.pi * (2 * m + 1) * k / (2.0 * n))
    c[0, :] /= np.sqrt(2.0)
    return c


_GRAY_W = np.array([0.299, 0.587, 0.114])


def _resize_gray(pixels: np.ndarray, size: int = 32) -> np.ndarray:
    """Deterministic resize to size x size + grayscale.

    Multiples of ``size`` use exact average pooling; otherwise
    nearest-neighbor index sampling. Pooling runs on the uint8 data
    BEFORE the float grayscale dot (the two linear ops commute).

    The block sums are exact uint32 integers (255 * bh * bw < 2^32 up
    to ~17 Gpixel images): one reduce over the ``h/size`` rows of each
    block on contiguous (size, bh, 3w) rows, then ``w/size`` slice adds
    into a channel-major accumulator, so every add is one long strided
    loop. Dividing the exact sum by ``bh * bw`` gives the float64 mean
    bit for bit, with no full-resolution float64 temporary. Zero-size
    inputs sum to 0 and divide to NaN, as the float mean does.
    """
    h, w = pixels.shape[:2]
    if h % size == 0 and w % size == 0:
        bh, bw = h // size, w // size
        rows = np.add.reduce(pixels.reshape(size, bh, w * 3), axis=1, dtype=np.uint32)
        cols = rows.reshape(size, size, bw, 3).transpose(3, 0, 1, 2)
        acc = np.zeros((3, size, size), dtype=np.uint32)
        for j in range(bw):
            acc += cols[..., j]
        # C order, as the float mean's result: the gray matmul rounds
        # differently on a transposed layout
        small = np.ascontiguousarray(acc.transpose(1, 2, 0)) / (bh * bw)
    else:
        ri = (np.arange(size) * h) // size
        ci = (np.arange(size) * w) // size
        small = pixels[np.ix_(ri, ci)].astype(np.float64)
    return small @ _GRAY_W


def phash64(pixels: np.ndarray) -> int:
    """64-bit DCT perceptual hash (classic pHash construction).

    32x32 grayscale -> DCT-II -> top-left 8x8 low-frequency block ->
    threshold against the median of the 63 AC coefficients (DC bit is
    always 0). Returned as a signed int64 for parquet/Spark LongType.
    """
    g = _resize_gray(pixels, 32)
    c = _dct_matrix(32)
    d = c @ g @ c.T
    block = d[:8, :8].flatten()
    bits = block > np.median(block[1:])
    bits[0] = False
    return int.from_bytes(np.packbits(bits).tobytes(), "big", signed=True)


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    """Peak signal-to-noise ratio in dB; inf for identical images."""
    mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
    if mse == 0:
        return float("inf")
    return float(10.0 * np.log10(255.0**2 / mse))


# ------------------------------------------------------------ row guard

# The errors that mean "this payload is malformed, or in a layout the
# codecs do not decode". The decoders themselves raise ValueError or
# NotImplementedError (tests/test_decoder_fuzz.py holds them to that);
# the rest are what binary parsing raises on short or inconsistent
# input, so a decoder gap nobody has found yet costs one row, not a
# task and with it the round.
BAD_PAYLOAD = (
    ValueError,
    NotImplementedError,
    TypeError,
    LookupError,
    ArithmeticError,
    struct.error,
    zlib.error,
)


def guard_rows(rows, derive, failed, columns: list[str]) -> pd.DataFrame:
    """The payload layer's one per-row fault boundary.

    ``derive(*row)`` returns (or yields) the row's output records as
    dicts; frame sampling gives several per row. When it raises
    BAD_PAYLOAD the row yields the one record ``failed(*row)`` instead:
    the row's key columns and a 0/False ok flag, every other column
    null. A row's records are emitted only once derive has finished,
    so a failure row never sits next to part of the same row's output.
    Columns are object dtype, so a null does not turn an int64 column
    such as phash into float64, which would round its other values.
    """
    out = []
    for row in rows:
        try:
            recs = list(derive(*row))
        except BAD_PAYLOAD:
            recs = [{**dict.fromkeys(columns), **failed(*row)}]
        out.extend(recs)
    return pd.DataFrame(out, columns=columns, dtype=object)


# ------------------------------------------------------------- UDF

FETCH_PARSE_SCHEMA = StructType(
    [
        StructField("bytes", BinaryType(), True),
        StructField("phash", LongType(), True),
        StructField("decode_ok", BooleanType(), False),
        StructField("psnr_db", DoubleType(), True),
    ]
)


def make_fetch_parse_udf(
    store_bytes: bool = True, validate: bool = True, pixel_fn=None, fetch_fn=None
):
    """Fused fetch+decode+validate UDF: one Arrow pass per batch.

    ``pixel_fn`` selects the synthetic ground-truth generator
    (default pixels_for; pixels_gradient gives the SQL-reproducible
    pattern used by the DuckDB feature oracle).

    ``fetch_fn`` is THE REAL-HTTP INSERTION POINT. Signature
    ``(image_id, w, h, fmt) -> bytes``; when given, it replaces the
    synthetic encode step and its bytes flow into the same decode /
    phash / validate path. A production fetcher plugs in here as a
    partition-local callable — e.g. a class whose ``__call__`` wraps
    ``requests.Session.get`` and whose instance state carries the
    session's cookie jar across calls within the partition, updates
    the referer from the last same-host fetch, and re-decodes the
    body with the response's apparent encoding before handing bytes
    on — the reference's per-thread fetch behavior
    (src/harvester.py:412-442: cookie-jar update, referer capture,
    apparent_encoding re-decode) mapped onto one Python worker per
    partition. The sandbox has no network, so tests exercise the seam
    with a mock fetcher (tests/test_payload.py); ``validate`` stays
    meaningful only when ground truth exists.

    Fusing matters at scale: payload bytes are the widest column in
    the pipeline (KB-MB per row); two chained pandas UDFs would ship
    them JVM->Python->JVM->Python. Fused, the bytes are produced and
    decoded inside one Python worker pass, and cross Arrow at all only
    when ``store_bytes`` (the reference always persists html_body,
    src/harvester.py:263-281; metrics-only runs skip the transfer).

    A row runs under guard_rows: a fetch or decode that raises
    BAD_PAYLOAD gives ``decode_ok`` False, null phash and PSNR, and
    still keeps the fetched bytes when ``store_bytes`` — a body that
    does not decode is stored as fetched, like the reference's
    html_body.

    ``validate`` re-derives the ground-truth pixels and scores PSNR
    against them — the fidelity-suite contract (input_hint: decoded
    allclose, PSNR >= 40 dB). A production crawl has no ground truth
    to compare with, so throughput runs turn it off.
    """

    gen = pixel_fn or pixels_for
    columns = [f.name for f in FETCH_PARSE_SCHEMA.fields]

    def fetch(iid: str, w: int, h: int, fmt: str) -> bytes:
        if fetch_fn is not None:
            return fetch_fn(iid, w, h, fmt)
        return encode_payload(gen(iid, w, h), fmt)

    @F.pandas_udf(FETCH_PARSE_SCHEMA)
    def fetch_parse(
        image_id: pd.Series, w: pd.Series, h: pd.Series, fmt: pd.Series
    ) -> pd.DataFrame:
        body = [None]  # the current row's fetched bytes, for failed()

        def parse(iid, ww, hh, ff):
            ww, hh = int(ww), int(hh)
            body[0] = None
            body[0] = data = fetch(iid, ww, hh, ff)
            px = decode_payload(data, ww, hh, ff)
            score = None
            if validate:
                p = psnr(px, gen(iid, ww, hh))
                score = p if np.isfinite(p) else 99.0
            kept = data if store_bytes else None
            return [{"bytes": kept, "phash": phash64(px), "decode_ok": True, "psnr_db": score}]

        def failed(*_):
            return {"bytes": body[0] if store_bytes else None, "decode_ok": False}

        return guard_rows(zip(image_id, w, h, fmt), parse, failed, columns)

    return fetch_parse
