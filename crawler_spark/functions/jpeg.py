"""Baseline JPEG (JFIF) codec on numpy + stdlib alone.

The last env-blocked payload format: a real image crawl meets JPEG on
page one (the reference's portals serve it exclusively —
src/advert.py:188-381 parses pages whose media are JPEG), and this
container has no DCT/Huffman codec library. Round 3 proved the
pattern with PNG; this module does the same for ITU-T T.81 baseline
sequential JPEG:

- **encoder**: 8-bit RGB -> YCbCr (BT.601 / JFIF), 4:4:4 sampling,
  2-D DCT as one einsum over all blocks, Annex K quantization tables
  scaled by quality (libjpeg's 5000/Q | 200-2Q convention), Annex K
  Huffman tables, byte-stuffed entropy stream.
- **decoder**: marker parse (SOI/APP/DQT/SOF0/SOF2/DHT/DRI/SOS/EOI),
  canonical Huffman decode with restart-interval support, dequant +
  inverse zigzag + IDCT vectorized per component, nearest-neighbor
  chroma upsampling for subsampled scans (4:2:0 / 4:2:2 — emitted by
  standard encoders even though ours writes 4:4:4), grayscale scans,
  YCbCr -> RGB. **Progressive (SOF2)** decodes fully: multi-scan
  spectral selection (per-band AC scans, interleaved/non-interleaved
  DC scans) and successive approximation (DC bit-plane refinement,
  AC first + refinement passes with EOB-run coding per T.81 G.1.2),
  accumulating coefficients across scans and running one IDCT at EOI.
  A progressive ENCODER (spectral-selection + successive-approximation
  scan script, EOB-run + correction-bit emission per G.1.2.2-3) exists
  so round-trips exercise both directions; since progressive transmits
  the same quantized coefficients as baseline, progressive and
  baseline decodes of the same image at the same quality are
  bit-identical — the tests pin exactly that. Arithmetic coding and
  lossless/hierarchical frames raise NotImplementedError honestly.

Entropy coding is inherently sequential bit IO and runs in Python —
acceptable because the codec executes inside the Arrow-batched
decode UDF where each image is one task-local call, and the heavy
math (DCT/IDCT, color transforms) is numpy over all blocks at once.

All tables below are from the public JPEG spec (ITU-T T.81 Annex K).
"""

from __future__ import annotations

import struct

import numpy as np

from crawler_spark.functions.image_meta import check_pixels

# ------------------------------------------------------------- tables

ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)
UNZIGZAG = np.argsort(ZIGZAG)

Q_LUMA = np.array(
    [
        16, 11, 10, 16, 24, 40, 51, 61,
        12, 12, 14, 19, 26, 58, 60, 55,
        14, 13, 16, 24, 40, 57, 69, 56,
        14, 17, 22, 29, 51, 87, 80, 62,
        18, 22, 37, 56, 68, 109, 103, 77,
        24, 35, 55, 64, 81, 104, 113, 92,
        49, 64, 78, 87, 103, 121, 120, 101,
        72, 92, 95, 98, 112, 100, 103, 99,
    ],
    dtype=np.int64,
)
Q_CHROMA = np.array(
    [
        17, 18, 24, 47, 99, 99, 99, 99,
        18, 21, 26, 66, 99, 99, 99, 99,
        24, 26, 56, 99, 99, 99, 99, 99,
        47, 66, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
    ],
    dtype=np.int64,
)

# (bits per code length 1..16, symbol values) — Annex K.3
DC_LUMA = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
DC_CHROMA = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 125],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
        0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
        0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
        0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
        0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
        0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
        0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
        0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
        0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
        0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
        0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
        0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
        0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
        0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
        0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
        0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
        0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
        0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
        0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ],
)
AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 119],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
        0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
        0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
        0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
        0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
        0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
        0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
        0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
        0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
        0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
        0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
        0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
        0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
        0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
        0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
        0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ],
)

# orthonormal 2-D DCT basis: C[u, x] = c(u)/2 * cos((2x+1) u pi / 16)
_C = np.zeros((8, 8))
for _u in range(8):
    for _x in range(8):
        _C[_u, _x] = (
            (np.sqrt(0.125) if _u == 0 else 0.5)
            * np.cos((2 * _x + 1) * _u * np.pi / 16.0)
        )


def _quality_tables(quality: int) -> tuple[np.ndarray, np.ndarray]:
    quality = max(1, min(100, int(quality)))
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    out = []
    for base in (Q_LUMA, Q_CHROMA):
        t = (base * scale + 50) // 100
        out.append(np.clip(t, 1, 255).astype(np.int64))
    return out[0], out[1]


def _rgb_to_ycbcr(px: np.ndarray) -> np.ndarray:
    px = px.astype(np.float64)
    r, g, b = px[..., 0], px[..., 1], px[..., 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    return np.stack([y, cb, cr], axis=-1)


def _ycbcr_to_rgb(y: np.ndarray, cb: np.ndarray, cr: np.ndarray) -> np.ndarray:
    cb = cb - 128.0
    cr = cr - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return np.clip(np.stack([r, g, b], axis=-1).round(), 0, 255).astype(np.uint8)


def _blockify(plane: np.ndarray) -> np.ndarray:
    """(H, W) -> (n_blocks, 8, 8), H/W already multiples of 8."""
    h, w = plane.shape
    return (
        plane.reshape(h // 8, 8, w // 8, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
    )


def _unblockify(blocks: np.ndarray, h8: int, w8: int) -> np.ndarray:
    return (
        blocks.reshape(h8 // 8, w8 // 8, 8, 8)
        .transpose(0, 2, 1, 3)
        .reshape(h8, w8)
    )


def _dct2(blocks: np.ndarray) -> np.ndarray:
    return np.einsum("ux,nxy,vy->nuv", _C, blocks, _C, optimize=True)


def _idct2(blocks: np.ndarray) -> np.ndarray:
    return np.einsum("xu,nuv,yv->nxy", _C.T, blocks, _C.T, optimize=True)


# --------------------------------------------------------- bit writer


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, length: int) -> None:
        if length == 0:
            return
        self.acc = (self.acc << length) | (value & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            byte = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:  # byte stuffing
                self.out.append(0x00)
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> bytes:
        if self.nbits:
            self.write(0x7F, 8 - self.nbits)  # pad with 1-bits
        return bytes(self.out)

    def restart(self, m: int) -> None:
        """Byte-align (1-bit padding) and emit RSTm — raw, unstuffed."""
        if self.nbits:
            self.write(0x7F, 8 - self.nbits)
        self.out += bytes([0xFF, 0xD0 | (m & 7)])


def _build_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length), canonical Huffman assignment."""
    codes: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


def _magnitude(v: int) -> tuple[int, int]:
    """(size, low bits) for a DC diff / AC coefficient."""
    if v == 0:
        return 0, 0
    a = abs(v)
    size = a.bit_length()
    bits = v if v > 0 else v + (1 << size) - 1
    return size, bits


# -------------------------------------------------------------- encode

# A complete-but-flat AC Huffman table for progressive scans: Annex K's
# AC tables lack the EOBn symbols (0x10, 0x20, ... 0xE0) progressive
# EOB-run coding needs, so progressive scans carry this table instead —
# all 256 RS symbols, 255 at 8 bits + 0xFF at 9 (keeps the all-ones
# max-length code unassigned, as canonical JPEG tables conventionally
# do). Zero compression smarts, full spec conformance.
_FLAT_AC_BITS = [0, 0, 0, 0, 0, 0, 0, 255, 1, 0, 0, 0, 0, 0, 0, 0]
_FLAT_AC_VALS = list(range(255)) + [255]


def encode_jpeg(
    pixels: np.ndarray,
    quality: int = 95,
    progressive: bool = False,
    restart_interval: int = 0,
) -> bytes:
    """Encode 8-bit RGB (h, w, 3) as JFIF, 4:4:4 sampling.

    ``progressive=True`` emits an SOF2 frame whose scan script covers
    every progressive decode path: an interleaved DC first scan at
    Al=1 plus a DC refinement pass, per-component spectral-selection
    AC first scans at Al=1, and AC refinement scans down to Al=0 —
    so the decoded image is ALWAYS bit-identical to the baseline
    encoding of the same (pixels, quality). ``restart_interval``
    (progressive only) inserts DRI/RSTn markers every N MCUs/blocks
    in every scan.
    """
    if pixels.ndim != 3 or pixels.shape[2] != 3 or pixels.dtype != np.uint8:
        raise ValueError("encode_jpeg expects uint8 (h, w, 3)")
    h, w = pixels.shape[:2]
    if not (0 < h <= 0xFFFF and 0 < w <= 0xFFFF):
        raise ValueError("jpeg dims out of range")
    qy, qc = _quality_tables(quality)
    # pad to block multiples by edge replication
    ph, pw = -h % 8, -w % 8
    padded = np.pad(pixels, ((0, ph), (0, pw), (0, 0)), mode="edge")
    ycc = _rgb_to_ycbcr(padded) - 128.0

    dc_codes = (_build_codes(*DC_LUMA), _build_codes(*DC_CHROMA))
    ac_codes = (_build_codes(*AC_LUMA), _build_codes(*AC_CHROMA))

    comp_q = []  # per component: quantized zigzag coeffs (n_blocks, 64)
    for ci in range(3):
        blocks = _blockify(ycc[..., ci])
        coeff = _dct2(blocks)
        q = (qy if ci == 0 else qc).reshape(8, 8)
        quant = np.round(coeff / q).astype(np.int64)
        comp_q.append(quant.reshape(-1, 64)[:, ZIGZAG])

    if progressive:
        return _encode_progressive(comp_q, h, w, qy, qc, restart_interval)

    bw = _BitWriter()
    prev_dc = [0, 0, 0]
    n_blocks = comp_q[0].shape[0]
    for bi in range(n_blocks):  # 4:4:4 -> MCU = one block per component
        for ci in range(3):
            zz = comp_q[ci][bi]
            t = 0 if ci == 0 else 1
            dcc, acc = dc_codes[t], ac_codes[t]
            diff = int(zz[0]) - prev_dc[ci]
            prev_dc[ci] = int(zz[0])
            size, bits = _magnitude(diff)
            code, length = dcc[size]
            bw.write(code, length)
            bw.write(bits, size)
            nz = np.nonzero(zz[1:])[0]
            k = 1
            for pos in nz + 1:
                run = int(pos) - k
                while run >= 16:
                    zcode, zlen = acc[0xF0]
                    bw.write(zcode, zlen)
                    run -= 16
                size, bits = _magnitude(int(zz[pos]))
                code, length = acc[(run << 4) | size]
                bw.write(code, length)
                bw.write(bits, size)
                k = int(pos) + 1
            if k <= 63:
                code, length = acc[0x00]  # EOB
                bw.write(code, length)
    scan = bw.flush()

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">BBH", 0xFF, marker, len(payload) + 2) + payload

    out = bytearray(b"\xff\xd8")  # SOI
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xDB, b"\x00" + bytes(int(x) for x in qy[ZIGZAG]))
    out += seg(0xDB, b"\x01" + bytes(int(x) for x in qc[ZIGZAG]))
    sof = struct.pack(">BHHB", 8, h, w, 3)
    for cid, tq in ((1, 0), (2, 1), (3, 1)):
        sof += struct.pack(">BBB", cid, 0x11, tq)  # h=v=1 sampling
    out += seg(0xC0, sof)
    for tc_th, (bits, vals) in (
        (0x00, DC_LUMA), (0x10, AC_LUMA), (0x01, DC_CHROMA), (0x11, AC_CHROMA)
    ):
        out += seg(0xC4, bytes([tc_th]) + bytes(bits) + bytes(vals))
    sos = b"\x03" + b"\x01\x00" + b"\x02\x11" + b"\x03\x11" + b"\x00\x3f\x00"
    out += seg(0xDA, sos)
    out += scan
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# ------------------------------------------------- progressive encode


def _emit_dc_first(bw, comp_q, comps, codes_by_comp, al, ri) -> None:
    """Interleaved (or single-component) DC first scan: Huffman-coded
    diffs of the point-transformed DC values (T.81 G.1.2.1). 4:4:4 ->
    MCU order == block raster order."""
    preds = [0] * len(comps)
    rst = 0
    for b in range(comp_q[comps[0]].shape[0]):
        if ri and b and b % ri == 0:
            bw.restart(rst)
            rst = (rst + 1) & 7
            preds = [0] * len(comps)
        for j, ci in enumerate(comps):
            v = int(comp_q[ci][b, 0]) >> al  # arithmetic shift = T.81 DC point transform
            diff = v - preds[j]
            preds[j] = v
            size, bits = _magnitude(diff)
            code, length = codes_by_comp[j][size]
            bw.write(code, length)
            bw.write(bits, size)


def _emit_dc_refine(bw, comp_q, comps, al, ri) -> None:
    """DC refinement: one raw bit (bit ``al``) per block, no Huffman."""
    rst = 0
    for b in range(comp_q[comps[0]].shape[0]):
        if ri and b and b % ri == 0:
            bw.restart(rst)
            rst = (rst + 1) & 7
        for ci in comps:
            bw.write((int(comp_q[ci][b, 0]) >> al) & 1, 1)


def _emit_ac_first(bw, blocks, ss, se, al, codes, ri) -> None:
    """AC first scan for one component band (T.81 G.1.2.2): runs of
    zeros + magnitude-shifted coefficients, EOB-run coding across
    blocks (EOBn symbol r<<4 covers 2^r + ext blocks)."""
    eobrun = 0

    def flush_eob() -> None:
        nonlocal eobrun
        if eobrun:
            r = eobrun.bit_length() - 1
            code, length = codes[r << 4]
            bw.write(code, length)
            if r:
                bw.write(eobrun - (1 << r), r)
            eobrun = 0

    rst = 0
    for bi in range(blocks.shape[0]):
        if ri and bi and bi % ri == 0:
            flush_eob()
            bw.restart(rst)
            rst = (rst + 1) & 7
        zz = blocks[bi]
        # AC point transform: magnitude shift (sign * (|v| >> al))
        vals = [
            (abs(int(zz[k])) >> al) * (1 if int(zz[k]) >= 0 else -1)
            for k in range(ss, se + 1)
        ]
        last = -1
        for i, v in enumerate(vals):
            if v:
                last = i
        if last < 0:
            eobrun += 1
            if eobrun == 0x7FFF:
                flush_eob()
            continue
        flush_eob()
        run = 0
        for i in range(last + 1):
            v = vals[i]
            if v == 0:
                run += 1
                continue
            while run > 15:
                code, length = codes[0xF0]
                bw.write(code, length)
                run -= 16
            size, bits = _magnitude(v)
            code, length = codes[(run << 4) | size]
            bw.write(code, length)
            bw.write(bits, size)
            run = 0
        if last < se - ss:
            eobrun += 1
            if eobrun == 0x7FFF:
                flush_eob()
    flush_eob()


def _emit_ac_refine(bw, blocks, ss, se, al, codes, ri) -> None:
    """AC refinement scan (T.81 G.1.2.3): newly-significant coefficients
    coded as (zero-history-run << 4) | 1 + sign bit; already-significant
    coefficients contribute one correction bit each, buffered and
    emitted right after the covering code (ZRL / run-1 / EOBn) in
    position order — the decoder reads them back while walking."""
    eobrun = 0
    pending: list[int] = []  # correction bits covered by the open EOB run

    def flush_eob() -> None:
        nonlocal eobrun, pending
        if eobrun:
            r = eobrun.bit_length() - 1
            code, length = codes[r << 4]
            bw.write(code, length)
            if r:
                bw.write(eobrun - (1 << r), r)
            for bit in pending:
                bw.write(bit, 1)
            pending = []
            eobrun = 0

    rst = 0
    for bi in range(blocks.shape[0]):
        if ri and bi and bi % ri == 0:
            flush_eob()
            bw.restart(rst)
            rst = (rst + 1) & 7
        zz = blocks[bi]
        t = [abs(int(zz[k])) >> al for k in range(ss, se + 1)]
        sign = [1 if int(zz[k]) >= 0 else 0 for k in range(ss, se + 1)]
        eobpos = 0  # index AFTER the last newly-significant coefficient
        for i, v in enumerate(t):
            if v == 1:
                eobpos = i + 1
        run = 0
        brbits: list[int] = []  # correction bits since the last emitted code
        for i, v in enumerate(t):
            if v == 0:
                run += 1
                continue
            # ZRLs are only required before the last new coefficient;
            # past it the zeros fold into the EOB run
            while run > 15 and i < eobpos:
                flush_eob()
                code, length = codes[0xF0]
                bw.write(code, length)
                for bit in brbits:
                    bw.write(bit, 1)
                brbits = []
                run -= 16
            if v > 1:  # history coefficient: correction bit only
                brbits.append(v & 1)
                continue
            flush_eob()
            code, length = codes[(run << 4) | 1]
            bw.write(code, length)
            bw.write(sign[i], 1)
            for bit in brbits:
                bw.write(bit, 1)
            brbits = []
            run = 0
        if run > 0 or brbits:
            eobrun += 1
            pending.extend(brbits)
            if eobrun == 0x7FFF:
                flush_eob()
    flush_eob()


def _encode_progressive(comp_q, h, w, qy, qc, ri) -> bytes:
    """Assemble the SOF2 file: headers + the 10-scan script described
    in :func:`encode_jpeg`."""

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">BBH", 0xFF, marker, len(payload) + 2) + payload

    dc_codes = (_build_codes(*DC_LUMA), _build_codes(*DC_CHROMA))
    ac_flat = _build_codes(_FLAT_AC_BITS, _FLAT_AC_VALS)

    out = bytearray(b"\xff\xd8")
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xDB, b"\x00" + bytes(int(x) for x in qy[ZIGZAG]))
    out += seg(0xDB, b"\x01" + bytes(int(x) for x in qc[ZIGZAG]))
    sof = struct.pack(">BHHB", 8, h, w, 3)
    for cid, tq in ((1, 0), (2, 1), (3, 1)):
        sof += struct.pack(">BBB", cid, 0x11, tq)
    out += seg(0xC2, sof)  # SOF2: progressive DCT, Huffman
    for tc_th, (bits, vals) in (
        (0x00, DC_LUMA),
        (0x01, DC_CHROMA),
        (0x10, (_FLAT_AC_BITS, _FLAT_AC_VALS)),
    ):
        out += seg(0xC4, bytes([tc_th]) + bytes(bits) + bytes(vals))
    if ri:
        out += seg(0xDD, struct.pack(">H", ri))

    def sos(comps_td_ta: list[tuple[int, int, int]], ss, se, ah, al) -> bytes:
        payload = bytes([len(comps_td_ta)])
        for cs, td, ta in comps_td_ta:
            payload += bytes([cs, (td << 4) | ta])
        return seg(0xDA, payload + bytes([ss, se, (ah << 4) | al]))

    bw = _BitWriter()
    _emit_dc_first(bw, comp_q, [0, 1, 2], (dc_codes[0], dc_codes[1], dc_codes[1]), 1, ri)
    out += sos([(1, 0, 0), (2, 1, 0), (3, 1, 0)], 0, 0, 0, 1) + bw.flush()

    for ci, cs, bands in ((0, 1, ((1, 5), (6, 63))), (1, 2, ((1, 63),)), (2, 3, ((1, 63),))):
        for ss, se in bands:
            bw = _BitWriter()
            _emit_ac_first(bw, comp_q[ci], ss, se, 1, ac_flat, ri)
            out += sos([(cs, 0, 0)], ss, se, 0, 1) + bw.flush()

    bw = _BitWriter()
    _emit_dc_refine(bw, comp_q, [0, 1, 2], 0, ri)
    out += sos([(1, 0, 0), (2, 1, 0), (3, 1, 0)], 0, 0, 1, 0) + bw.flush()

    for ci, cs, bands in ((0, 1, ((1, 5), (6, 63))), (1, 2, ((1, 63),)), (2, 3, ((1, 63),))):
        for ss, se in bands:
            bw = _BitWriter()
            _emit_ac_refine(bw, comp_q[ci], ss, se, 0, ac_flat, ri)
            out += sos([(cs, 0, 0)], ss, se, 1, 0) + bw.flush()

    out += b"\xff\xd9"
    return bytes(out)


# -------------------------------------------------------------- decode


class _BitReader:
    """Entropy-segment reader with byte unstuffing and RST handling."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def _fill(self) -> None:
        d = self.data
        if self.pos >= len(d):
            raise ValueError("jpeg entropy stream truncated")
        b = d[self.pos]
        if b == 0xFF:
            if self.pos + 1 >= len(d) or d[self.pos + 1] != 0x00:
                # a marker (RSTn, EOI, the next SOS) inside a block: the
                # segment ran out of coded bits. Feeding zero bits past
                # it would "decode" as many blocks as the frame header
                # claims, whatever the bytes present
                raise ValueError("jpeg entropy segment ends mid-block")
            self.pos += 2
        else:
            self.pos += 1
        # only refilled once empty, so the byte is all the buffer holds
        self.acc = b
        self.nbits = 8

    def read_bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def receive(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def sync_restart(self) -> None:
        """Byte-align and consume the expected RSTn marker."""
        self.acc = 0
        self.nbits = 0
        d = self.data
        while self.pos + 1 < len(d):
            if d[self.pos] == 0xFF and 0xD0 <= d[self.pos + 1] <= 0xD7:
                self.pos += 2
                return
            self.pos += 1
        raise ValueError("expected restart marker, hit end of stream")


def _build_decode_table(bits: list[int], vals: list[int]) -> dict[tuple[int, int], int]:
    table: dict[tuple[int, int], int] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            if code >= 1 << length:
                raise ValueError("jpeg huffman table has more codes than bits")
            table[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return table


def _huff_decode(br: _BitReader, table: dict[tuple[int, int], int]) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | br.read_bit()
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid huffman code in jpeg stream")


def _dc_size(br: _BitReader, table: dict[tuple[int, int], int]) -> int:
    size = _huff_decode(br, table)
    if size > 11:  # T.81 F.1.2.1: 8-bit DC differences need at most 11 bits
        raise ValueError(f"jpeg DC magnitude category {size} > 11")
    return size


def _extend(v: int, size: int) -> int:
    if size == 0:
        return 0
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


def decode_jpeg(data: bytes) -> np.ndarray:
    """Decode baseline sequential OR progressive JFIF to uint8 RGB.

    Supports 1- and 3-component scans, sampling factors 1-2 (4:4:4,
    4:2:2, 4:2:0), restart intervals, 8-bit quantization tables, and
    for SOF2 frames the full progressive repertoire: spectral
    selection, successive approximation (DC + AC refinement passes),
    and EOB-run coding, with coefficients accumulated across scans
    and one IDCT at EOI.
    """
    data = bytes(data)
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a jpeg: bad SOI")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    htables: dict[tuple[int, int], dict] = {}
    frame = None
    progressive = False
    grids: list[np.ndarray] | None = None  # per-comp (bh, bw, 64) zigzag coeffs
    restart_interval = 0
    while pos + 2 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError("jpeg marker desync")
        marker = data[pos + 1]
        if marker == 0xFF:  # fill byte before a marker (T.81 B.1.1.2)
            pos += 1
            continue
        if marker == 0xD9:  # EOI
            if progressive and grids is not None:
                return _assemble_from_grids(frame, grids, qtables)
            break
        if pos + 4 > len(data):
            raise ValueError("truncated jpeg segment")
        (seglen,) = struct.unpack(">H", data[pos + 2 : pos + 4])
        seg = data[pos + 4 : pos + 2 + seglen]
        if len(seg) != seglen - 2:
            raise ValueError("truncated jpeg segment")
        if marker == 0xDB:  # DQT
            off = 0
            while off < len(seg):
                pq, tq = seg[off] >> 4, seg[off] & 15
                off += 1
                if pq == 0:
                    tbl = np.frombuffer(seg[off : off + 64], dtype=np.uint8)
                    off += 64
                else:
                    tbl = np.frombuffer(
                        seg[off : off + 128], dtype=">u2"
                    ).astype(np.int64)
                    off += 128
                q = np.zeros(64, dtype=np.int64)
                q[ZIGZAG] = tbl.astype(np.int64)
                qtables[tq] = q
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/SOF1 baseline, SOF2 progressive
            if frame is not None:
                raise ValueError("jpeg has more than one SOF")
            frame = _parse_sof(seg, len(data))
            progressive = marker == 0xC2
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                "only baseline-sequential and progressive huffman jpeg "
                "supported (arithmetic/lossless/hierarchical scans are not)"
            )
        elif marker == 0xC4:  # DHT
            off = 0
            while off < len(seg):
                tc, th = seg[off] >> 4, seg[off] & 15
                bits = list(seg[off + 1 : off + 17])
                n = sum(bits)
                vals = list(seg[off + 17 : off + 17 + n])
                if len(bits) != 16 or len(vals) != n:
                    raise ValueError("truncated jpeg DHT segment")
                htables[(tc, th)] = _build_decode_table(bits, vals)
                off += 17 + n
        elif marker == 0xDD:  # DRI
            if len(seg) < 2:
                raise ValueError("truncated jpeg DRI segment")
            (restart_interval,) = struct.unpack(">H", seg[:2])
        elif marker == 0xDA:  # SOS — entropy data follows
            if frame is None:
                raise ValueError("jpeg SOS before SOF")
            ns = seg[0] if seg else 0
            if not ns or len(seg) < 4 + 2 * ns:
                raise ValueError("truncated jpeg SOS segment")
            ids = {c[0] for c in frame[2]}
            scan_comps = []
            for i in range(ns):
                cs, tdta = seg[1 + 2 * i : 3 + 2 * i]
                if cs not in ids:
                    raise ValueError(f"jpeg scan references unknown component {cs}")
                scan_comps.append((cs, tdta >> 4, tdta & 15))
            if not progressive:
                return _decode_scan(
                    data,
                    pos + 2 + seglen,
                    frame,
                    scan_comps,
                    qtables,
                    htables,
                    restart_interval,
                )
            ss, se, ahal = seg[1 + 2 * ns : 4 + 2 * ns]
            if grids is None:
                fh, fw, comps = frame
                hmax = max(c[1] for c in comps)
                vmax = max(c[2] for c in comps)
                mcux = -(-fw // (8 * hmax))
                mcuy = -(-fh // (8 * vmax))
                grids = [
                    np.zeros((mcuy * vs, mcux * hs, 64), dtype=np.int64)
                    for _, hs, vs, _ in comps
                ]
            pos = _decode_progressive_scan(
                data,
                pos + 2 + seglen,
                frame,
                scan_comps,
                ss,
                se,
                ahal >> 4,
                ahal & 15,
                htables,
                grids,
                restart_interval,
            )
            continue
        pos += 2 + seglen
    if progressive and grids is not None:
        # tolerate a missing EOI after a complete scan set
        return _assemble_from_grids(frame, grids, qtables)
    raise ValueError("jpeg has no SOS scan")


def _parse_sof(seg: bytes, n_bytes: int) -> tuple:
    """SOF fields -> (fh, fw, [(cid, hs, vs, tq), ...]), rejecting any
    frame the decoder cannot lay out or the stream cannot back."""
    if len(seg) < 6:
        raise ValueError("truncated jpeg SOF segment")
    prec, fh, fw, nc = struct.unpack(">BHHB", seg[:6])
    if prec != 8:
        raise NotImplementedError("only 8-bit jpeg supported")
    if nc not in (1, 3):
        raise NotImplementedError(f"{nc}-component jpeg unsupported")
    if len(seg) < 6 + 3 * nc:
        raise ValueError("truncated jpeg SOF segment")
    comps = []
    for i in range(nc):
        cid, hv, tq = seg[6 + 3 * i : 9 + 3 * i]
        comps.append((cid, hv >> 4, hv & 15, tq))
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    for _, hs, vs, _ in comps:
        if not (1 <= hs <= 4 and 1 <= vs <= 4):
            raise ValueError("jpeg sampling factor outside 1..4")
        if hmax % hs or vmax % vs:
            raise NotImplementedError("jpeg sampling factors must divide the maximum")
    if not (fh and fw):
        raise NotImplementedError("jpeg frame height from a DNL marker unsupported")
    check_pixels(fw, fh, "jpeg")
    # the full-resolution component codes every one of its blocks, each
    # with at least one bit, so a frame claiming more blocks than the
    # stream has bits is corrupt; this bounds decode work by the bytes
    # present rather than by the claimed size
    if -(-fw // 8) * -(-fh // 8) > 8 * n_bytes:
        raise ValueError(f"jpeg frame {fw}x{fh} claims more blocks than the stream codes")
    return fh, fw, comps


def _decode_scan(
    data: bytes,
    pos: int,
    frame,
    scan_comps,
    qtables,
    htables,
    restart_interval: int,
) -> np.ndarray:
    fh, fw, comps = frame
    by_id = {cid: (hs, vs, tq) for cid, hs, vs, tq in comps}
    hmax = max(hs for _, hs, _, _ in comps)
    vmax = max(vs for _, _, vs, _ in comps)
    mcux = -(-fw // (8 * hmax))
    mcuy = -(-fh // (8 * vmax))

    order = []  # (comp_index, dc_table, ac_table, blocks per MCU)
    comp_blocks: list[list] = []
    comp_geom = []
    for idx, (cs, td, ta) in enumerate(scan_comps):
        hs, vs, tq = by_id[cs]
        if (0, td) not in htables or (1, ta) not in htables:
            raise ValueError("jpeg scan references undefined huffman table")
        if tq not in qtables:
            raise ValueError("jpeg component references undefined quant table")
        order.append((idx, htables[(0, td)], htables[(1, ta)], hs, vs))
        comp_blocks.append([])
        comp_geom.append((hs, vs, tq))

    br = _BitReader(data, pos)
    prev_dc = [0] * len(scan_comps)
    n_mcu = mcux * mcuy
    for m in range(n_mcu):
        if restart_interval and m and m % restart_interval == 0:
            br.sync_restart()
            prev_dc = [0] * len(scan_comps)
        for idx, dct, act, hs, vs in order:
            for _ in range(hs * vs):
                zz = np.zeros(64, dtype=np.int64)
                size = _dc_size(br, dct)
                diff = _extend(br.receive(size), size)
                prev_dc[idx] += diff
                zz[0] = prev_dc[idx]
                k = 1
                while k <= 63:
                    sym = _huff_decode(br, act)
                    if sym == 0x00:
                        break
                    if sym == 0xF0:
                        k += 16
                        continue
                    run, size = sym >> 4, sym & 15
                    k += run
                    if k > 63 or size > 10:
                        raise ValueError("jpeg AC run past block end or size > 10")
                    zz[k] = _extend(br.receive(size), size)
                    k += 1
                comp_blocks[idx].append(zz)

    planes = []
    for idx, (hs, vs, tq) in enumerate(comp_geom):
        q = qtables[tq]
        zzs = np.stack(comp_blocks[idx])  # (n, 64) zigzag order
        # dequantize in the zigzag domain (q is natural order), then
        # reorder to natural for the IDCT
        coeff = (zzs * q[ZIGZAG][None, :])[:, UNZIGZAG].reshape(-1, 8, 8)
        spatial = _idct2(coeff.astype(np.float64)) + 128.0
        # blocks are emitted MCU by MCU, hs*vs per MCU in raster order
        bw_blocks = mcux * hs
        bh_blocks = mcuy * vs
        plane = np.zeros((bh_blocks * 8, bw_blocks * 8))
        bi = 0
        for my in range(mcuy):
            for mx in range(mcux):
                for v in range(vs):
                    for hblk in range(hs):
                        y0 = (my * vs + v) * 8
                        x0 = (mx * hs + hblk) * 8
                        plane[y0 : y0 + 8, x0 : x0 + 8] = spatial[bi]
                        bi += 1
        # upsample to the luma grid (nearest), crop to frame dims
        if hs != hmax:
            plane = np.repeat(plane, hmax // hs, axis=1)
        if vs != vmax:
            plane = np.repeat(plane, vmax // vs, axis=0)
        planes.append(plane[:fh, :fw])

    if len(planes) == 1:
        y = np.clip(planes[0].round(), 0, 255).astype(np.uint8)
        return np.stack([y, y, y], axis=-1)
    if len(planes) != 3:
        raise NotImplementedError(f"{len(planes)}-component jpeg unsupported")
    return _ycbcr_to_rgb(planes[0], planes[1], planes[2])


# ------------------------------------------------ progressive decode


def _decode_progressive_scan(
    data: bytes,
    pos: int,
    frame,
    scan_comps,
    ss: int,
    se: int,
    ah: int,
    al: int,
    htables,
    grids,
    restart_interval: int,
) -> int:
    """Consume ONE progressive SOS entropy segment, accumulating into
    the per-component zigzag coefficient ``grids`` in place; returns
    the stream position of the next marker. DC scans (Ss=0) may be
    interleaved (MCU traversal) or single-component; AC scans are
    single-component by spec and traverse the component's own ceil
    block grid. Restart markers reset DC prediction and the EOB run."""
    fh, fw, comps = frame
    by_id = {cid: (i, hs, vs) for i, (cid, hs, vs, _tq) in enumerate(comps)}
    hmax = max(hs for _, hs, _, _ in comps)
    vmax = max(vs for _, _, vs, _ in comps)
    mcux = -(-fw // (8 * hmax))
    mcuy = -(-fh // (8 * vmax))
    if ss == 0 and se != 0:
        raise ValueError("progressive DC scan must have Se=0")
    if not ss <= se <= 63 or ah > 13 or al > 13:
        raise ValueError("jpeg progressive scan parameters out of range")
    if len(scan_comps) > 1 and ss != 0:
        raise ValueError("progressive AC scans must be non-interleaved")

    br = _BitReader(data, pos)
    state = {"eobrun": 0}
    dcpred = [0] * len(comps)

    if len(scan_comps) == 1:
        cs, td, ta = scan_comps[0]
        ci, hs, vs = by_id[cs]
        # non-interleaved traversal: the component's OWN block grid
        # (ceil of its sampled dims), not the MCU-padded lattice
        sw = -(-fw * hs // hmax)  # ceil(fw * hs / hmax)
        sh = -(-fh * vs // vmax)
        cw = -(-sw // 8)
        ch = -(-sh // 8)
        dct = htables.get((0, td))
        act = htables.get((1, ta))
        grid = grids[ci]
        for b in range(cw * ch):
            if restart_interval and b and b % restart_interval == 0:
                br.sync_restart()
                dcpred = [0] * len(comps)
                state["eobrun"] = 0
            zz = grid[b // cw, b % cw]
            _decode_prog_block(br, zz, ss, se, ah, al, dct, act, dcpred, ci, state)
    else:
        for m in range(mcux * mcuy):
            if restart_interval and m and m % restart_interval == 0:
                br.sync_restart()
                dcpred = [0] * len(comps)
            my, mx = divmod(m, mcux)
            for cs, td, _ta in scan_comps:
                ci, hs, vs = by_id[cs]
                dct = htables.get((0, td))
                for v in range(vs):
                    for hb in range(hs):
                        zz = grids[ci][my * vs + v, mx * hs + hb]
                        _decode_prog_block(
                            br, zz, 0, 0, ah, al, dct, None, dcpred, ci, state
                        )

    p, n = br.pos, len(data)
    while p + 1 < n:
        if data[p] == 0xFF and data[p + 1] != 0x00 and not (0xD0 <= data[p + 1] <= 0xD7):
            return p
        p += 1
    raise ValueError("jpeg truncated after progressive scan")


def _decode_prog_block(br, zz, ss, se, ah, al, dct, act, dcpred, ci, state) -> None:
    """One 8x8 block's contribution from the current scan."""
    if ss == 0:  # DC pass
        if ah == 0:
            if dct is None:
                raise ValueError("jpeg DC scan references undefined huffman table")
            size = _dc_size(br, dct)
            diff = _extend(br.receive(size), size)
            dcpred[ci] += diff
            zz[0] = dcpred[ci] << al
        else:  # refinement: one raw bit, OR into bit plane al
            if br.read_bit():
                zz[0] |= 1 << al
    elif ah == 0:
        if act is None:
            raise ValueError("jpeg AC scan references undefined huffman table")
        _dec_ac_first(br, zz, ss, se, al, act, state)
    else:
        if act is None:
            raise ValueError("jpeg AC scan references undefined huffman table")
        _dec_ac_refine(br, zz, ss, se, al, act, state)


def _dec_ac_first(br, zz, ss, se, al, act, state) -> None:
    """AC first pass (T.81 G.1.2.2): zero runs + magnitude-shifted
    coefficients; EOBn covers this block's tail plus 2^r-1+ext whole
    following blocks."""
    if state["eobrun"] > 0:
        state["eobrun"] -= 1
        return
    k = ss
    while k <= se:
        sym = _huff_decode(br, act)
        r, s = sym >> 4, sym & 15
        if s:
            k += r
            if k > se or s > 10:
                raise ValueError("jpeg progressive AC run past band end or size > 10")
            zz[k] = _extend(br.receive(s), s) << al
            k += 1
        elif r != 15:
            eobrun = (1 << r) - 1
            if r:
                eobrun += br.receive(r)
            state["eobrun"] = eobrun
            return
        else:  # ZRL
            k += 16


def _dec_ac_refine(br, zz, ss, se, al, act, state) -> None:
    """AC refinement pass (T.81 G.1.2.3): a (run<<4)|1 code inserts a
    new +-2^al coefficient after ``run`` zero-HISTORY positions;
    already-nonzero coefficients along every walk read one correction
    bit each; EOBn switches the rest of the band (and following whole
    blocks) to correction-bit-only mode."""
    p1 = 1 << al

    def refine_one(k: int) -> None:
        if br.read_bit() and (int(zz[k]) & p1) == 0:
            zz[k] += p1 if zz[k] > 0 else -p1

    k = ss
    hit_eob = state["eobrun"] > 0
    if not hit_eob:
        while k <= se:
            sym = _huff_decode(br, act)
            r, s = sym >> 4, sym & 15
            if s == 0 and r < 15:  # EOBn
                state["eobrun"] = (1 << r) + (br.receive(r) if r else 0)
                hit_eob = True
                break
            newval = 0
            if s:
                if s != 1:
                    raise ValueError("jpeg AC refinement size must be 1")
                newval = p1 if br.read_bit() else -p1
            # walk forward: refine nonzero-history coefficients, count
            # down r zero-history slots (16 for ZRL)
            while k <= se:
                if zz[k] != 0:
                    refine_one(k)
                else:
                    r -= 1
                    if r < 0:
                        break
                k += 1
            if newval:
                if k > se:
                    raise ValueError("jpeg AC refinement position past band end")
                zz[k] = newval
            k += 1
    if hit_eob:
        while k <= se:
            if zz[k] != 0:
                refine_one(k)
            k += 1
        state["eobrun"] -= 1


def _assemble_from_grids(frame, grids, qtables) -> np.ndarray:
    """Dequantize + IDCT the accumulated progressive coefficients and
    assemble the RGB image (same upsample/crop rules as baseline)."""
    fh, fw, comps = frame
    hmax = max(hs for _, hs, _, _ in comps)
    vmax = max(vs for _, _, vs, _ in comps)
    planes = []
    for ci, (_cid, hs, vs, tq) in enumerate(comps):
        if tq not in qtables:
            raise ValueError("jpeg component references undefined quant table")
        q = qtables[tq]
        g = grids[ci]
        bh, bw_ = g.shape[:2]
        coeff = (g.reshape(-1, 64) * q[ZIGZAG][None, :])[:, UNZIGZAG].reshape(-1, 8, 8)
        spatial = _idct2(coeff.astype(np.float64)) + 128.0
        plane = (
            spatial.reshape(bh, bw_, 8, 8).transpose(0, 2, 1, 3).reshape(bh * 8, bw_ * 8)
        )
        if hs != hmax:
            plane = np.repeat(plane, hmax // hs, axis=1)
        if vs != vmax:
            plane = np.repeat(plane, vmax // vs, axis=0)
        planes.append(plane[:fh, :fw])
    if len(planes) == 1:
        y = np.clip(planes[0].round(), 0, 255).astype(np.uint8)
        return np.stack([y, y, y], axis=-1)
    if len(planes) != 3:
        raise NotImplementedError(f"{len(planes)}-component jpeg unsupported")
    return _ycbcr_to_rgb(planes[0], planes[1], planes[2])
