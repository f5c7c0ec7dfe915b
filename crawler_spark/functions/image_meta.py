"""No-decode image stream metadata — the 100 TB triage path.

What a web-scale image pipeline does FIRST with a payload is not
decode it: it's sniff the format, read dimensions and structural
flags from fixed headers, and pull EXIF fields — all O(header bytes)
with zero entropy work, exactly like functions/mpeg_audio.py's
no-decode MP3 walk and functions/gif.py's length-prefix frame hops.
This module implements that layer for the whole image surface:

- format sniffing by magic bytes (jpeg/png/gif/bmp);
- JPEG: marker walk to SOF0/1/2 (dims, components, progressive flag,
  restart interval) without touching entropy-coded data, plus a real
  EXIF parser — the APP1 "Exif" payload is a TIFF structure (II/MM
  endianness, IFD entry tables, inline-vs-offset values) walked per
  the public TIFF 6.0 / EXIF specs for orientation, Make, Model,
  DateTime and the Exif sub-IFD's pixel dimensions;
- an EXIF APP1 *writer* (+ `attach_exif` splice after SOI) so tests
  and oracles exercise the IFD walk on both byte orders and both
  inline and offset value placements without any image library;
- PNG: IHDR fields (+ CRC check of the one chunk read);
- GIF: functions/gif.gif_frame_meta (block-grammar hop);
- BMP: DIB header fields.

Reference twin: the reference derives typed fields from the media
bytes the portals serve (src/advert.py:188-381); this is the
metadata-extraction analog, format-dispatched.
"""

from __future__ import annotations

import struct
import zlib

# The most pixels a decoder allocates for one image, the same guard as
# PIL's MAX_IMAGE_PIXELS: a header may claim 65535 x 65535 (12 GiB of
# RGB) in a few bytes, so dims are checked before any canvas exists.
MAX_PIXELS = 1 << 26


def check_pixels(w: int, h: int, fmt: str) -> None:
    if w * h > MAX_PIXELS:
        raise ValueError(f"{fmt} claims {w}x{h} pixels, over the {MAX_PIXELS} cap")

# EXIF/TIFF tag ids (public EXIF 2.x / TIFF 6.0 spec)
_TAG_MAKE = 0x010F
_TAG_MODEL = 0x0110
_TAG_ORIENTATION = 0x0112
_TAG_DATETIME = 0x0132
_TAG_EXIF_IFD = 0x8769
_TAG_PIXEL_X = 0xA002
_TAG_PIXEL_Y = 0xA003

_TYPE_SIZES = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 7: 1, 9: 4, 10: 8}


def sniff_format(data: bytes) -> str | None:
    head = bytes(data[:8])
    if head[:3] == b"\xff\xd8\xff":
        return "jpeg"
    if head == b"\x89PNG\r\n\x1a\n":
        return "png"
    if head[:6] in (b"GIF87a", b"GIF89a"):
        return "gif"
    if head[:2] == b"BM":
        return "bmp"
    if head[:4] == b"\x00\x00\x01\x00" and len(data) >= 6:
        return "ico"
    return None


# ----------------------------------------------------------------- exif
def _read_ifd(data: bytes, off: int, bo: str, want: dict[int, str]) -> dict:
    """One IFD entry table -> {name: value} for the wanted tags.
    Returns also '_exif_ifd' offset when tag 0x8769 is present."""
    out: dict = {}
    if off + 2 > len(data):
        raise ValueError("exif IFD offset out of range")
    (n,) = struct.unpack_from(bo + "H", data, off)
    base = off + 2
    if base + 12 * n + 4 > len(data):
        raise ValueError("exif IFD entry table truncated")
    for i in range(n):
        tag, typ, cnt = struct.unpack_from(bo + "HHI", data, base + 12 * i)
        size = _TYPE_SIZES.get(typ)
        if size is None:
            continue  # unknown type: skip per spec tolerance
        total = size * cnt
        voff = base + 12 * i + 8
        if total > 4:
            (voff,) = struct.unpack_from(bo + "I", data, base + 12 * i + 8)
            if voff + total > len(data):
                raise ValueError("exif value offset out of range")
        raw = data[voff : voff + total]
        if tag == _TAG_EXIF_IFD and typ == 4:
            (out["_exif_ifd"],) = struct.unpack_from(bo + "I", raw, 0)
            continue
        name = want.get(tag)
        if name is None:
            continue
        if typ == 2:  # ASCII, NUL-terminated
            out[name] = raw.split(b"\x00", 1)[0].decode("ascii", "replace")
        elif typ == 3:
            out[name] = struct.unpack_from(bo + "H", raw, 0)[0]
        elif typ == 4:
            out[name] = struct.unpack_from(bo + "I", raw, 0)[0]
    return out


def parse_exif(app1_payload: bytes) -> dict:
    """Parse an APP1 'Exif' payload (TIFF structure) for the triage
    fields: orientation, make, model, datetime, pixel_x/y."""
    if app1_payload[:6] != b"Exif\x00\x00":
        raise ValueError("not an Exif APP1 payload")
    t = app1_payload[6:]
    if t[:2] == b"II":
        bo = "<"
    elif t[:2] == b"MM":
        bo = ">"
    else:
        raise ValueError("exif TIFF byte-order mark invalid")
    magic, ifd0 = struct.unpack_from(bo + "HI", t, 2)
    if magic != 42:
        raise ValueError("exif TIFF magic != 42")
    want0 = {
        _TAG_MAKE: "make",
        _TAG_MODEL: "model",
        _TAG_ORIENTATION: "orientation",
        _TAG_DATETIME: "datetime",
    }
    out = _read_ifd(t, ifd0, bo, want0)
    sub = out.pop("_exif_ifd", None)
    if sub is not None:
        out.update(
            _read_ifd(t, sub, bo, {_TAG_PIXEL_X: "pixel_x", _TAG_PIXEL_Y: "pixel_y"})
        )
    return out


def _ascii_entry(tag: int, text: str) -> tuple[int, int, bytes]:
    return tag, 2, text.encode("ascii") + b"\x00"


def build_exif_app1(
    orientation: int = 1,
    make: str | None = None,
    model: str | None = None,
    datetime: str | None = None,
    pixel_x: int | None = None,
    pixel_y: int | None = None,
    big_endian: bool = False,
) -> bytes:
    """Assemble a spec-conformant APP1 'Exif' payload: IFD0 with the
    triage tags (+ Exif sub-IFD for pixel dims), exercising both the
    inline (<=4 bytes) and offset value placements and either byte
    order — the writer half that lets tests drive the parser on
    streams its own corpus would otherwise never contain."""
    bo = ">" if big_endian else "<"
    entries0: list[tuple[int, int, bytes]] = [
        (_TAG_ORIENTATION, 3, struct.pack(bo + "H", orientation))
    ]
    if make is not None:
        entries0.append(_ascii_entry(_TAG_MAKE, make))
    if model is not None:
        entries0.append(_ascii_entry(_TAG_MODEL, model))
    if datetime is not None:
        entries0.append(_ascii_entry(_TAG_DATETIME, datetime))
    sub_entries: list[tuple[int, int, bytes]] = []
    if pixel_x is not None:
        sub_entries.append((_TAG_PIXEL_X, 4, struct.pack(bo + "I", pixel_x)))
    if pixel_y is not None:
        sub_entries.append((_TAG_PIXEL_Y, 4, struct.pack(bo + "I", pixel_y)))

    n0 = len(entries0) + (1 if sub_entries else 0)
    ifd0_off = 8
    sub_off = ifd0_off + 2 + 12 * n0 + 4
    data_off = sub_off + (2 + 12 * len(sub_entries) + 4 if sub_entries else 0)
    tail = bytearray()

    def pack_entries(entries: list, cursor: int) -> bytes:
        nonlocal tail
        out = bytearray()
        for tag, typ, raw in sorted(entries, key=lambda e: e[0]):
            size = _TYPE_SIZES[typ]
            cnt = len(raw) // size
            out += struct.pack(bo + "HHI", tag, typ, cnt)
            if len(raw) <= 4:
                out += raw.ljust(4, b"\x00")
            else:
                out += struct.pack(bo + "I", cursor + len(tail))
                tail += raw
        return bytes(out)

    entries0_all = list(entries0)
    if sub_entries:
        entries0_all.append((_TAG_EXIF_IFD, 4, struct.pack(bo + "I", sub_off)))
    body = bytearray()
    body += struct.pack(bo + "H", n0)
    body += pack_entries(entries0_all, data_off)
    body += struct.pack(bo + "I", 0)  # next IFD
    if sub_entries:
        body += struct.pack(bo + "H", len(sub_entries))
        body += pack_entries(sub_entries, data_off)
        body += struct.pack(bo + "I", 0)
    tiff = (b"MM" if big_endian else b"II") + struct.pack(bo + "HI", 42, ifd0_off)
    return b"Exif\x00\x00" + tiff + bytes(body) + bytes(tail)


def attach_exif(jpeg: bytes, app1_payload: bytes) -> bytes:
    """Splice an APP1 segment right after SOI."""
    if bytes(jpeg[:3]) != b"\xff\xd8\xff":
        raise ValueError("not a JPEG")
    seg = struct.pack(">BBH", 0xFF, 0xE1, len(app1_payload) + 2) + app1_payload
    return jpeg[:2] + seg + jpeg[2:]


# ----------------------------------------------------- per-format meta
def jpeg_meta(data: bytes) -> dict:
    """Marker walk to SOF + APP1/Exif — never enters entropy data."""
    data = bytes(data)
    if data[:3] != b"\xff\xd8\xff":
        raise ValueError("not a JPEG (no SOI)")
    out: dict = {"fmt": "jpeg", "n_frames": 1}
    pos = 2
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError("jpeg marker desync in header walk")
        marker = data[pos + 1]
        if marker == 0xFF:  # fill byte before a marker (T.81 B.1.1.2)
            pos += 1
            continue
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        (seglen,) = struct.unpack_from(">H", data, pos + 2)
        if seglen < 2 or pos + 2 + seglen > len(data):
            raise ValueError("jpeg segment truncated")
        payload = data[pos + 4 : pos + 2 + seglen]
        if marker in (0xC0, 0xC1, 0xC2):
            prec, h, w, ncomp = struct.unpack_from(">BHHB", payload, 0)
            out.update(
                w=w, h=h, n_components=ncomp, bit_depth=prec,
                progressive=marker == 0xC2,
            )
            return out  # SOF reached: dims known, stop before SOS
        if marker == 0xE1 and payload[:6] == b"Exif\x00\x00":
            try:
                out["exif"] = parse_exif(payload)
            except ValueError:
                out["exif"] = None  # corrupt EXIF: triage keeps dims
        if marker == 0xDD and seglen >= 4:
            (out["restart_interval"],) = struct.unpack_from(">H", payload, 0)
        pos += 2 + seglen
    raise ValueError("jpeg has no SOF before end of data")


def png_meta(data: bytes) -> dict:
    data = bytes(data)
    if data[:8] != b"\x89PNG\r\n\x1a\n" or len(data) < 33:
        raise ValueError("not a PNG")
    (length,) = struct.unpack_from(">I", data, 8)
    if data[12:16] != b"IHDR" or length != 13:
        raise ValueError("png first chunk must be IHDR")
    w, h, depth, ctype, _comp, _filt, interlace = struct.unpack_from(">IIBBBBB", data, 16)
    (crc,) = struct.unpack_from(">I", data, 29)
    if zlib.crc32(data[12:29]) & 0xFFFFFFFF != crc:
        raise ValueError("png IHDR CRC mismatch")
    return {
        "fmt": "png", "w": w, "h": h, "bit_depth": depth,
        "color_type": ctype, "interlaced": interlace == 1, "n_frames": 1,
    }


def bmp_meta(data: bytes) -> dict:
    data = bytes(data)
    if data[:2] != b"BM" or len(data) < 54:
        raise ValueError("not a BMP")
    w, h, _planes, bpp, comp = struct.unpack_from("<iiHHI", data, 18)
    return {
        "fmt": "bmp", "w": w, "h": abs(h), "bit_depth": bpp,
        "compression": comp, "top_down": h < 0, "n_frames": 1,
    }


def image_meta(data: bytes) -> dict:
    """Sniff + per-format header walk. Raises ValueError on unknown or
    malformed payloads (callers map that to decode_ok=0 rows)."""
    fmt = sniff_format(data)
    if fmt == "jpeg":
        return jpeg_meta(data)
    if fmt == "png":
        return png_meta(data)
    if fmt == "gif":
        from crawler_spark.functions.gif import gif_frame_meta

        meta = gif_frame_meta(data)
        meta["fmt"] = "gif"
        return meta
    if fmt == "bmp":
        return bmp_meta(data)
    if fmt == "ico":
        from crawler_spark.functions.ico import ico_meta

        return ico_meta(data)
    raise ValueError("unrecognized image format")
