"""Payload codec / phash / PSNR tests (UDF family 2)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from crawler_spark.functions.payload import (
    decode_payload,
    encode_payload,
    make_fetch_parse_udf,
    phash64,
    pixels_for,
    psnr,
)


def test_roundtrip_raw():
    px = pixels_for("img_x", 64, 96)
    assert px.shape == (96, 64, 3) and px.dtype == np.uint8
    back = decode_payload(encode_payload(px), 64, 96)
    assert np.array_equal(px, back)


def test_decode_size_mismatch():
    with pytest.raises(ValueError):
        decode_payload(b"\x00" * 10, 64, 96)


def test_unsupported_codec_stubbed():
    # jpeg graduated to a real codec in round 4 (functions/jpeg.py);
    # formats with no env support still raise honestly
    with pytest.raises(NotImplementedError):
        encode_payload(pixels_for("a", 32, 32), "webp")
    with pytest.raises(NotImplementedError):
        decode_payload(b"", 32, 32, "webp")


def test_png_roundtrip_all_encoder_filters():
    from crawler_spark.functions.payload import decode_png, encode_png

    px = pixels_for("img_png", 37, 23)  # odd dims: no stride alignment luck
    for ft in (0, 1, 2):
        assert np.array_equal(decode_png(encode_png(px, filter_type=ft)), px), ft
    # payload API + fmt-invariant phash
    back = decode_payload(encode_payload(px, "png"), 37, 23, "png")
    assert np.array_equal(back, px)
    assert phash64(back) == phash64(px)


def test_png_decodes_average_and_paeth_filters():
    """Foreign-encoder coverage: scanlines filtered with types 3/4 by
    an independent forward filter (RFC 2083 definitions written out
    here, not shared with the decoder) must reconstruct exactly."""
    import struct
    import zlib as _zlib

    from crawler_spark.functions.payload import _PNG_SIG, _png_chunk, decode_png

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        return a if pa <= pb and pa <= pc else (b if pb <= pc else c)

    px = pixels_for("img_filters", 19, 11)
    h, w = px.shape[:2]
    flat = px.reshape(h, w * 3).astype(int)
    for ft in (3, 4):
        scan = np.zeros((h, 1 + w * 3), dtype=np.uint8)
        scan[:, 0] = ft
        for y in range(h):
            for x in range(w * 3):
                a = flat[y, x - 3] if x >= 3 else 0
                b = flat[y - 1, x] if y >= 1 else 0
                c = flat[y - 1, x - 3] if (y >= 1 and x >= 3) else 0
                pred = (a + b) // 2 if ft == 3 else paeth(a, b, c)
                scan[y, 1 + x] = (flat[y, x] - pred) % 256
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
        data = (
            _PNG_SIG
            + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", _zlib.compress(scan.tobytes()))
            + _png_chunk(b"IEND", b"")
        )
        assert np.array_equal(decode_png(data), px), ft


def test_png_rejects_corruption_and_bad_dims():
    from crawler_spark.functions.payload import encode_png

    px = pixels_for("img_corrupt", 16, 16)
    good = encode_png(px)
    bad = bytearray(good)
    bad[50] ^= 0xFF
    with pytest.raises(ValueError):  # CRC catches the flipped byte
        decode_payload(bytes(bad), 16, 16, "png")
    with pytest.raises(ValueError):  # header dims vs expected dims
        decode_payload(good, 17, 16, "png")
    with pytest.raises(ValueError):  # not a png at all
        decode_payload(b"\x89PNGnope" + b"\x00" * 40, 16, 16, "png")


def test_png_corrupt_deflate_with_valid_crc_is_value_error():
    """The CRC covers the chunk, not what it inflates to: a bad zlib
    stream under a matching CRC is a ValueError, not zlib.error."""
    import struct
    import zlib as _zlib

    from crawler_spark.functions.payload import decode_png, encode_png

    good = encode_png(pixels_for("img_deflate", 16, 16))
    at = good.find(b"IDAT")
    (n,) = struct.unpack(">I", good[at - 4 : at])
    body = bytearray(good[at + 4 : at + 4 + n])
    body[0] ^= 0xFF  # zlib header
    crc = struct.pack(">I", _zlib.crc32(b"IDAT" + body) & 0xFFFFFFFF)
    bad = good[: at + 4] + bytes(body) + crc + good[at + 8 + n :]
    with pytest.raises(ValueError, match="IDAT"):
        decode_png(bad)


def test_phash_deterministic_and_discriminative():
    a = phash64(pixels_for("img_1", 64, 64))
    assert a == phash64(pixels_for("img_1", 64, 64))
    others = [phash64(pixels_for(f"img_{i}", 64, 64)) for i in range(2, 12)]
    assert a not in others
    assert all(-(1 << 63) <= v < (1 << 63) for v in [a, *others])


def test_phash_robust_to_small_noise():
    px = pixels_for("img_stable", 96, 96).astype(np.int16)
    noisy = np.clip(px + np.random.default_rng(0).integers(-2, 3, px.shape), 0, 255).astype(
        np.uint8
    )
    h1, h2 = phash64(px.astype(np.uint8)), phash64(noisy)
    assert bin((h1 & ((1 << 64) - 1)) ^ (h2 & ((1 << 64) - 1))).count("1") <= 10


def test_psnr():
    px = pixels_for("img_p", 32, 32)
    assert psnr(px, px) == float("inf")
    other = pixels_for("img_q", 32, 32)
    assert psnr(px, other) < 40.0


def test_fetch_and_parse_udfs(spark):
    pdf = pd.DataFrame(
        {
            "image_id": [f"img_{i:08d}" for i in range(8)],
            "w": [32, 64, 96, 32, 64, 96, 32, 64],
            "h": [32, 32, 64, 64, 96, 96, 32, 32],
            "fmt": ["raw"] * 8,
        }
    )
    df = spark.createDataFrame(pdf)
    fetch_parse = make_fetch_parse_udf(store_bytes=True, validate=True)
    out = (
        df.withColumn("parsed", fetch_parse("image_id", "w", "h", "fmt"))
        .select("image_id", "w", "h", "parsed.*")
        .collect()
    )
    for r in out:
        assert r["decode_ok"] is True
        assert bytes(r["bytes"]) == encode_payload(pixels_for(r["image_id"], r["w"], r["h"]))
        assert r["psnr_db"] >= 40.0  # lossless raw -> sentinel 99.0
        local = phash64(pixels_for(r["image_id"], r["w"], r["h"]))
        assert r["phash"] == local


def test_png_frac_zero_leaves_corpus_byte_identical():
    """png_frac must not consume the corpus RNG stream: at 0.0 the
    generated corpus is byte-identical to one generated before the
    parameter existed (golden-pinned corpora depend on this)."""
    from crawler_spark.sources.synth import gen_corpus

    a = gen_corpus(n_pages=120, n_hosts=3, urlset_size=40)
    b = gen_corpus(n_pages=120, n_hosts=3, urlset_size=40, png_frac=0.0)
    for k in a:
        pd.testing.assert_frame_equal(a[k], b[k])


def test_engine_crawls_mixed_raw_png_corpus(spark, tmp_path_factory):
    """End-to-end: a corpus whose payloads are a raw/png mix crawls to
    the same stored set, and every stored phash equals the ground-truth
    pixels' phash regardless of wire format (fmt-invariance of the
    decode/validate stage)."""
    from crawler_spark.operators.frontier import CrawlEngine
    from crawler_spark.sources.synth import corpus_to_spark, gen_corpus
    from crawler_spark.storage import SnapshotCatalog

    pdfs = gen_corpus(
        n_pages=150, n_hosts=3, urlset_size=40, fault_frac=0.0, png_frac=0.5
    )
    fmts = set(pdfs["seed_pages"]["fmt"])
    assert fmts == {"raw", "png"}, fmts
    corpus = corpus_to_spark(spark, pdfs)
    eng = CrawlEngine(
        spark,
        SnapshotCatalog(spark, str(tmp_path_factory.mktemp("png_wh"))),
        seed_pages=corpus["seed_pages"],
        sitemap_entries=corpus["sitemap_entries"],
        robots_rules=corpus["robots_rules"],
        keywords=corpus["keywords"],
        round_duration=3600.0,
    )
    eng.bootstrap()
    eng.run(max_rounds=10)
    stored = eng.pages().select("image_id", "fmt", "phash", "w", "h").collect()
    assert eng.pending_count() == 0
    by_fmt = {"raw": 0, "png": 0}
    for r in stored:
        by_fmt[r["fmt"]] += 1
        assert r["phash"] == phash64(
            pixels_for(r["image_id"], int(r["w"]), int(r["h"]))
        ), r["image_id"]
    assert by_fmt["raw"] > 0 and by_fmt["png"] > 0, by_fmt


def test_engine_crawls_mixed_raw_png_jpeg_corpus(spark, tmp_path_factory):
    """End-to-end: payloads arrive as a raw/png/jpeg mix; every stored
    page decodes (its wire format notwithstanding) with phash within a
    few bits of the ground truth (jpeg is lossy at quality 98; raw and
    png are exact)."""
    from crawler_spark.operators.frontier import CrawlEngine
    from crawler_spark.sources.synth import corpus_to_spark, gen_corpus
    from crawler_spark.storage import SnapshotCatalog

    pdfs = gen_corpus(
        n_pages=120,
        n_hosts=3,
        urlset_size=40,
        fault_frac=0.0,
        png_frac=0.3,
        jpeg_frac=0.3,
    )
    assert set(pdfs["seed_pages"]["fmt"]) == {"raw", "png", "jpeg"}
    corpus = corpus_to_spark(spark, pdfs)
    eng = CrawlEngine(
        spark,
        SnapshotCatalog(spark, str(tmp_path_factory.mktemp("jpeg_wh"))),
        seed_pages=corpus["seed_pages"],
        sitemap_entries=corpus["sitemap_entries"],
        robots_rules=corpus["robots_rules"],
        keywords=corpus["keywords"],
        round_duration=3600.0,
    )
    eng.bootstrap()
    eng.run(max_rounds=10)
    assert eng.pending_count() == 0
    stored = eng.pages().select("image_id", "fmt", "phash", "w", "h", "bytes").collect()
    by_fmt = {"raw": 0, "png": 0, "jpeg": 0}
    for r in stored:
        by_fmt[r["fmt"]] += 1
        gt = phash64(pixels_for(r["image_id"], int(r["w"]), int(r["h"])))
        d = bin(r["phash"] ^ gt).count("1")
        if r["fmt"] == "jpeg":
            assert d <= 4, (r["image_id"], d)
            assert bytes(r["bytes"])[:2] == b"\xff\xd8"
        else:
            assert d == 0, (r["image_id"], r["fmt"])
    assert min(by_fmt.values()) > 0, by_fmt


def test_fetch_fn_seam_mock_fetcher_end_to_end(spark, tmp_path_factory):
    """VERDICT r3 #7: the real-HTTP insertion point. A stateful mock
    fetcher (cookie-jar analog: call-count header folded into the
    payload source) plugs into make_fetch_parse_udf via
    CrawlEngine(fetch_fn=...) and the whole crawl runs through it —
    the exact seam where requests.Session.get + cookie jar + referer +
    apparent_encoding re-decode land in production
    (src/harvester.py:412-442)."""
    from crawler_spark.operators.frontier import CrawlEngine
    from crawler_spark.sources.synth import corpus_to_spark, gen_corpus
    from crawler_spark.storage import SnapshotCatalog

    class MockFetcher:
        """Partition-local stateful fetcher: a session/cookie-jar
        stand-in. Counts calls (state persists across rows within a
        Python worker) and serves deterministic encoded payloads."""

        def __init__(self):
            self.cookie_jar = {"n": 0}  # per-worker session state

        def __call__(self, image_id, w, h, fmt):
            self.cookie_jar["n"] += 1
            return encode_payload(pixels_for(image_id, w, h), fmt)

    pdfs = gen_corpus(n_pages=80, n_hosts=2, urlset_size=40, fault_frac=0.0)
    corpus = corpus_to_spark(spark, pdfs)
    eng = CrawlEngine(
        spark,
        SnapshotCatalog(spark, str(tmp_path_factory.mktemp("seam_wh"))),
        seed_pages=corpus["seed_pages"],
        sitemap_entries=corpus["sitemap_entries"],
        robots_rules=corpus["robots_rules"],
        keywords=corpus["keywords"],
        round_duration=3600.0,
        fetch_fn=MockFetcher(),
    )
    eng.bootstrap()
    eng.run(max_rounds=10)
    assert eng.pending_count() == 0
    stored = eng.pages().select("image_id", "phash", "w", "h").collect()
    assert len(stored) == 80
    for r in stored:  # bytes flowed through the mock, not the builtin
        assert r["phash"] == phash64(
            pixels_for(r["image_id"], int(r["w"]), int(r["h"]))
        )


def test_fetch_fn_failure_routes_like_decode_failure(spark):
    """A fetcher raising ValueError (bad body / encoding garbage) maps
    to decode_ok=False — the row is counted, not crashed on."""
    from crawler_spark.functions.payload import make_fetch_parse_udf

    def flaky(image_id, w, h, fmt):
        if image_id.endswith("3"):
            raise ValueError("connection reset mid-body")
        return encode_payload(pixels_for(image_id, w, h), fmt)

    df = spark.createDataFrame(
        [(f"img_{i}", 16, 16, "raw") for i in range(6)],
        "image_id string, w int, h int, fmt string",
    )
    udf = make_fetch_parse_udf(store_bytes=False, validate=True, fetch_fn=flaky)
    rows = df.withColumn("p", udf("image_id", "w", "h", "fmt")).select(
        "image_id", "p.decode_ok", "p.psnr_db"
    ).collect()
    got = {r["image_id"]: r["decode_ok"] for r in rows}
    assert got == {f"img_{i}": (i != 3) for i in range(6)}
    assert all(r["psnr_db"] >= 99.0 for r in rows if r["decode_ok"])


def test_engine_drains_and_keeps_bytes_of_bodies_that_do_not_decode(spark, tmp_path_factory):
    """Real-web bodies can be malformed. A fetcher serving corrupt
    JPEGs (a DHT segment counting more codes than it holds values, which
    escaped the decoder as IndexError and failed the round) must not
    stop the crawl: those pages are stored with exactly the fetched
    bytes and a null phash, and the rest of their batch keeps exact
    phashes (a null used to turn the batch's phash column into float64)."""
    import zlib as _zlib

    from crawler_spark.operators.frontier import CrawlEngine
    from crawler_spark.sources.synth import corpus_to_spark, gen_corpus
    from crawler_spark.storage import SnapshotCatalog

    def corrupt(image_id, w, h):
        body = bytearray(encode_payload(pixels_for(image_id, w, h), "jpeg"))
        body[body.find(b"\xff\xc4") + 20] += 1
        return bytes(body)

    def is_bad(image_id, fmt):
        return fmt == "jpeg" and _zlib.crc32(image_id.encode()) % 3 == 0

    def fetch(image_id, w, h, fmt):
        if is_bad(image_id, fmt):
            return corrupt(image_id, w, h)
        return encode_payload(pixels_for(image_id, w, h), fmt)

    pdfs = gen_corpus(n_pages=80, n_hosts=2, urlset_size=40, fault_frac=0.0, jpeg_frac=0.5)
    corpus = corpus_to_spark(spark, pdfs)
    eng = CrawlEngine(
        spark,
        SnapshotCatalog(spark, str(tmp_path_factory.mktemp("corrupt_wh"))),
        seed_pages=corpus["seed_pages"],
        sitemap_entries=corpus["sitemap_entries"],
        robots_rules=corpus["robots_rules"],
        keywords=corpus["keywords"],
        round_duration=3600.0,
        fetch_fn=fetch,
    )
    eng.bootstrap()
    eng.run(max_rounds=10)
    assert eng.pending_count() == 0
    stored = eng.pages().select("image_id", "fmt", "w", "h", "bytes", "phash").collect()
    assert len(stored) == 80
    bad = [r for r in stored if is_bad(r["image_id"], r["fmt"])]
    assert len(bad) >= 5
    for r in stored:
        w, h = int(r["w"]), int(r["h"])
        if is_bad(r["image_id"], r["fmt"]):
            assert bytes(r["bytes"]) == corrupt(r["image_id"], w, h), r["image_id"]
            assert r["phash"] is None, r["image_id"]
        elif r["fmt"] == "raw":
            assert r["phash"] == phash64(pixels_for(r["image_id"], w, h)), r["image_id"]
        else:
            gt = phash64(pixels_for(r["image_id"], w, h))
            assert bin(r["phash"] ^ gt).count("1") <= 4, r["image_id"]
