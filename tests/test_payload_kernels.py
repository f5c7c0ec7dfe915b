"""Bit-identity pins for the payload hot-path kernels.

``pixels_for``, ``_resize_gray`` and ``phash64`` are the per-image cost of
the crawl. Their fast forms must return exactly what the straightforward
constructions return, for every size, or stored phashes and the fidelity
oracle drift. Two pins:

- literal golden values (pixel sha256 and phash) for fixed cases, taken
  from the straightforward constructions below;
- a property test against those constructions, frozen here verbatim,
  over dims 0-300, multiples of 32 up to 352 (the pooled path) and
  zero-size images, on ``pixels_for``, ``pixels_gradient`` and arbitrary
  pixels. Outcomes are compared as values or as exception types, so the
  error contract (e.g. phash 0 for 0x0, IndexError for 0x5) is pinned too.
"""

from __future__ import annotations

import hashlib
import warnings
import zlib

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from crawler_spark.functions.payload import (
    GLOBAL_SEED,
    _dct_matrix,
    _resize_gray,
    phash64,
    pixels_for,
    pixels_gradient,
)

# --------------------------------------------- frozen reference kernels


def ref_pixels_for(image_id: str, w: int, h: int) -> np.ndarray:
    seed = (GLOBAL_SEED << 32) ^ zlib.crc32(image_id.encode("utf-8"))
    rng = np.random.Generator(np.random.PCG64(seed))
    noise = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    yy = np.arange(h, dtype=np.uint32)[:, None]
    xx = np.arange(w, dtype=np.uint32)[None, :]
    grad = (
        (xx * np.uint32(seed % 7 + 1) + yy * np.uint32(seed % 5 + 1)) % np.uint32(256)
    ).astype(np.uint8)
    return ((noise.astype(np.uint16) + grad[..., None]) // 2).astype(np.uint8)


def ref_resize_gray(pixels: np.ndarray, size: int = 32) -> np.ndarray:
    h, w = pixels.shape[:2]
    if h % size == 0 and w % size == 0:
        small = pixels.reshape(size, h // size, size, w // size, 3).mean(axis=(1, 3))
    else:
        ri = (np.arange(size) * h) // size
        ci = (np.arange(size) * w) // size
        small = pixels[np.ix_(ri, ci)].astype(np.float64)
    return small @ np.array([0.299, 0.587, 0.114])


def ref_phash64(pixels: np.ndarray) -> int:
    g = ref_resize_gray(pixels, 32)
    c = _dct_matrix(32)
    d = c @ g @ c.T
    block = d[:8, :8].flatten()
    ac = block[1:]
    med = np.median(ac)
    bits = np.zeros(64, dtype=np.uint64)
    bits[1:] = (ac > med).astype(np.uint64)
    val = 0
    for b in bits:
        val = (val << 1) | int(b)
    return (val & ((1 << 63) - 1)) - (val & (1 << 63))


def outcome(fn, *args):
    """A kernel's result, or the type of the exception it raised.

    Zero-size pooling divides 0 by 0 (NaN, phash 0); the warning is part
    of the reference behaviour, not of the comparison."""
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", RuntimeWarning)
        try:
            return fn(*args)
        except Exception as e:  # noqa: BLE001 — the type is the outcome
            return type(e)


def assert_same_array(got, want):
    if isinstance(want, type):
        assert got is want
        return
    assert got.shape == want.shape and got.dtype == want.dtype
    assert got.tobytes() == want.tobytes()


# ------------------------------------------------------------ goldens

# (image_id, w, h, phash64, sha256 of the pixel bytes)
PIXELS_FOR_GOLDEN = [
    ("img_0", 256, 256, 6433635484049488234,
     "2d9c4bb20cdf72156901844ef64318e0efb6bcaaf205679eb66de7b1840459a6"),
    ("vid_3_f0", 32, 24, 2403692809892980095,
     "52ed5073faa12afebbdf0b7ccf3cb987e10367bb1fe78264764044c6032644e8"),
    ("odd_a", 37, 23, 3675598485314206200,
     "84396eefad51ee517e73cdaf579851ae450e5b32cf8ad1f23fa4ce51662ef1cf"),
    ("img_42", 64, 64, 1381859707636051390,
     "9e84135ef62dfdc01665482b518375a7cbf3450d5263c715fd52fe4a6e3281dc"),
    ("tall", 32, 8192, 1866455232067819490,
     "de90ebe02365bf96ca9cd9975786d76a6166333160a180a142cf57f1009491c8"),
    ("wide", 320, 96, 6408148748161442517,
     "1012cd256ae6ff08924447fc917eda12e8b8581ae2e3a8b765f57661764afc4e"),
    ("px_1", 1, 1, 5104312127961089577,
     "c4f1523d740eccbf4b7409119a07b5ad513c5a3cea93707933e3aa4aa6700bd8"),
    ("big_odd", 300, 257, 4026905814090733231,
     "f24af2e66b15d37be60dae1dc065a74c44c708a924e7eca6714065e51a13bb76"),
]
EMPTY_SHA = "e3b0c44298fc1c149afbf4c8996fb92427ae41e4649b934ca495991b7852b855"
PIXELS_GRADIENT_GOLDEN = [
    ("img_5", 256, 256, 9029835727390763201,
     "ca12ce6ded2ae8c2484bc106065c0d9ae0cb366194ac2e1e484a8636ce1d14ae"),
    ("img_12", 37, 23, 1309793971139332949,
     "40ac8147897a67574cf7d02eb7b2c1468be2ee80067f1dbe12ac02e91a73c48a"),
]


@pytest.mark.parametrize(
    "gen,iid,w,h,ph,sha",
    [(pixels_for, *case) for case in PIXELS_FOR_GOLDEN]
    + [(pixels_gradient, *case) for case in PIXELS_GRADIENT_GOLDEN],
    ids=lambda v: v.__name__ if callable(v) else None,
)
def test_golden_pixels_and_phash(gen, iid, w, h, ph, sha):
    px = gen(iid, w, h)
    assert px.shape == (h, w, 3) and px.dtype == np.uint8
    assert hashlib.sha256(px.tobytes()).hexdigest() == sha
    assert phash64(px) == ph


@pytest.mark.parametrize("w,h", [(0, 0), (0, 64), (64, 0), (0, 32 * 11), (32 * 11, 0)])
def test_zero_size_pooled_images_hash_to_zero(w, h):
    """0 x 32k images take the pooled path: the block means are 0/0 NaN,
    no AC coefficient exceeds a NaN median, so the phash is 0 — a value,
    not an IndexError escaping the payload UDF's error contract."""
    px = pixels_for("empty", w, h)
    assert px.shape == (h, w, 3)
    assert hashlib.sha256(px.tobytes()).hexdigest() == EMPTY_SHA
    assert outcome(phash64, px) == 0 == outcome(ref_phash64, px)


@pytest.mark.parametrize("shape", [(32 * 258, 32, 3), (32, 32 * 258, 3), (32 * 17, 32 * 17, 3)])
def test_pooled_block_sums_do_not_overflow(shape):
    """All-255 blocks of 258 rows (or columns) sum past 2^16: the pooled
    sums must stay exact where a 16-bit accumulator would wrap."""
    px = np.full(shape, 255, dtype=np.uint8)
    assert _resize_gray(px).tobytes() == ref_resize_gray(px).tobytes()
    assert phash64(px) == ref_phash64(px)


# ----------------------------------------------------------- property

dim_st = st.one_of(st.integers(0, 300), st.sampled_from(range(0, 353, 32)))


@settings(
    max_examples=150,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    iid=st.text(min_size=0, max_size=12),
    n=st.integers(0, 10**6),
    w=dim_st,
    h=dim_st,
    fill=st.sampled_from(["random", "zeros", "max"]),
)
def test_kernels_match_reference_constructions(iid, n, w, h, fill):
    px = outcome(pixels_for, iid, w, h)
    assert_same_array(px, outcome(ref_pixels_for, iid, w, h))
    other = {
        "random": lambda: np.random.default_rng(n).integers(0, 256, (h, w, 3), dtype=np.uint8),
        "zeros": lambda: np.zeros((h, w, 3), dtype=np.uint8),
        "max": lambda: np.full((h, w, 3), 255, dtype=np.uint8),
    }[fill]()
    for x in (px, pixels_gradient(f"img_{n}", w, h), other):
        assert_same_array(outcome(_resize_gray, x), outcome(ref_resize_gray, x))
        assert outcome(phash64, x) == outcome(ref_phash64, x)
