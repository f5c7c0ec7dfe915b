"""Decoder fuzz suite: malformed bytes may only raise ValueError.

Every input is built with the repo's own encoders, then truncated or
bit-flipped. A decoder may succeed, raise ``ValueError`` or raise
``NotImplementedError`` (a well-formed stream in a layout the codec
does not implement); any other exception escapes a row guard and
fails a task, and a stall past the deadline is a failure too.
"""

from __future__ import annotations

import gzip
import struct
import zlib
from functools import lru_cache

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from crawler_spark.functions import bmp, flac, gif, ico, image_meta, jpeg, mpeg_audio, video
from crawler_spark.functions.payload import decode_png, encode_png, pixels_for
from crawler_spark.operators.multimodal import decode_wav, encode_wav, synth_pcm
from crawler_spark.sources.sitemap_xml import parse_locs


def _px(w: int = 24, h: int = 16) -> np.ndarray:
    return pixels_for("fuzz", w, h)


def _pcm() -> np.ndarray:
    return np.frombuffer(synth_pcm("au_3", n_samples=600), dtype="<i2").reshape(-1, 2)


def _sitemap_gz() -> bytes:
    locs = "".join(f"<url><loc>https://a.example/p/{i}</loc></url>" for i in range(20))
    xml = f'<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">{locs}</urlset>'
    return gzip.compress(xml.encode())


def _recrc(data: bytes) -> bytes:
    """Recompute every PNG chunk CRC, so a flipped bit reaches the
    chunk parser and the inflater instead of stopping at the CRC."""
    buf, pos = bytearray(data), 8
    while pos + 12 <= len(buf):
        (n,) = struct.unpack_from(">I", buf, pos)
        if pos + 12 + n > len(buf):
            break
        struct.pack_into(">I", buf, pos + 8 + n, zlib.crc32(buf[pos + 4 : pos + 8 + n]))
        pos += 12 + n
    return bytes(buf)


def _avi_frames(data: bytes) -> list:
    meta = video.parse_avi_mjpeg(data)
    return [video.decode_video_frame(meta, i) for i in range(meta["n_frames"])]


# name -> (build valid bytes, decode them)
CASES = {
    "png": (lambda: encode_png(_px()), decode_png),
    "png_crc_fixed": (lambda: encode_png(_px()), lambda data: decode_png(_recrc(data))),
    "jpeg": (lambda: jpeg.encode_jpeg(_px(), quality=90), jpeg.decode_jpeg),
    "jpeg_progressive": (
        lambda: jpeg.encode_jpeg(_px(), quality=90, progressive=True, restart_interval=2),
        jpeg.decode_jpeg,
    ),
    "gif": (lambda: gif.encode_gif(gif.quantize_332(_px()), interlace=True), gif.decode_gif),
    "bmp": (lambda: bmp.encode_bmp(_px()), bmp.decode_bmp),
    "bmp_rle8": (lambda: bmp.encode_bmp_rle8(gif.quantize_332(_px())), bmp.decode_bmp),
    "ico": (lambda: ico.encode_ico([(_px(16, 16), "png"), (_px(8, 8), "bmp32")]), ico.decode_ico),
    "wav": (lambda: encode_wav(_pcm(), 8000), decode_wav),
    "flac": (lambda: flac.encode_flac(_pcm(), 8000, block_size=256), flac.decode_flac),
    "mp3": (
        lambda: mpeg_audio.encode_mp3_shell(
            6, with_xing=True, with_crc=True, id3v1=True, id3v2_frames={"TIT2": "fuzz"}
        ),
        mpeg_audio.parse_mp3,
    ),
    "image_meta_jpeg_exif": (
        lambda: image_meta.attach_exif(
            jpeg.encode_jpeg(_px(), quality=90),
            image_meta.build_exif_app1(orientation=6, make="Fuzz"),
        ),
        image_meta.image_meta,
    ),
    "image_meta_gif": (
        lambda: gif.encode_gif_animation([gif.quantize_332(_px())] * 2, [5, 5]),
        image_meta.image_meta,
    ),
    "avi_frames": (
        lambda: video.encode_avi_mjpeg([_px(16, 16), _px(16, 16)], fps=10, quality=90),
        _avi_frames,
    ),
    "sitemap_gz": (_sitemap_gz, parse_locs),
}


@lru_cache(maxsize=None)
def _valid(name: str) -> bytes:
    return CASES[name][0]()


@st.composite
def _mutation(draw, n: int):
    """('trunc', cut) or ('flip', bit positions): 1-3 flipped bits."""
    if draw(st.booleans()):
        return ("trunc", (draw(st.integers(0, n - 1)),))
    return ("flip", tuple(draw(st.lists(st.integers(0, 8 * n - 1), min_size=1, max_size=3))))


def mutate(data: bytes, mutation) -> bytes:
    kind, args = mutation
    if kind == "trunc":
        return data[: args[0]]
    buf = bytearray(data)
    for bit in args:
        buf[bit // 8] ^= 1 << (bit % 8)
    return bytes(buf)


@pytest.mark.parametrize("name", sorted(CASES))
def test_valid_input_decodes(name):
    CASES[name][1](_valid(name))


@pytest.mark.parametrize("name", sorted(CASES))
def test_malformed_input_raises_only_value_error(name):
    data = _valid(name)
    decode = CASES[name][1]

    @settings(
        max_examples=200,
        deadline=2000,
        derandomize=True,
        database=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(_mutation(len(data)))
    def run(mutation):
        try:
            decode(mutate(data, mutation))
        except (ValueError, NotImplementedError):
            pass

    run()
