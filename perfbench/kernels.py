"""Per-item timings of the payload, keyword and bloom kernels, in this
process, on a sample of the workload's own rows."""

from __future__ import annotations

import time

import numpy as np


def _median_us(fn, items) -> tuple[float, list]:
    out, ts = [], []
    for it in items:
        t = time.perf_counter_ns()
        out.append(fn(*it))
        ts.append(time.perf_counter_ns() - t)
    return float(np.median(ts)) / 1e3, out


def kernel_timings(images: list[tuple[str, int, int, str]], texts: list[str], keywords: list[tuple[int, str, bool]]) -> dict:
    """``images``: (image_id, w, h, fmt); ``texts``: captions or documents;
    ``keywords``: (id, regex, case_sensitive). Returns µs per item."""
    from crawler_spark.functions.keywords import compile_keywords, match_text
    from crawler_spark.functions.payload import decode_payload, encode_payload, phash64, pixels_for
    from crawler_spark.operators.seen import bloom_build, bloom_maybe_contains

    pixels_us, px = _median_us(pixels_for, [(i, w, h) for i, w, h, _ in images])
    encode_us, data = _median_us(encode_payload, [(p, f) for p, (_, _, _, f) in zip(px, images)])
    decode_us, dec = _median_us(decode_payload, [(d, w, h, f) for d, (_, w, h, f) in zip(data, images)])
    phash_us, _ = _median_us(phash64, [(p,) for p in dec])
    compiled = compile_keywords(keywords)
    match_us, _ = _median_us(match_text, [(t, compiled) for t in texts])
    rng = np.random.Generator(np.random.PCG64(len(texts)))
    fps = rng.integers(-(2**63), 2**63 - 1, size=20000, dtype=np.int64)
    bitmap = bloom_build(fps[:10000])
    t = time.perf_counter_ns()
    bloom_maybe_contains(fps, bitmap)
    bloom_us = (time.perf_counter_ns() - t) / 1e3 / len(fps)
    return {
        "payload.pixels_us": pixels_us,
        "payload.encode_us": encode_us,
        "payload.decode_us": decode_us,
        "payload.phash_us": phash_us,
        "keywords.match_us": match_us,
        "seen.bloom_probe_us": bloom_us,
    }


def crawl_sample(pdfs: dict, n: int, seed: int) -> dict:
    sp = pdfs["seed_pages"].sample(n=min(n, len(pdfs["seed_pages"])), random_state=seed)
    kw = [(int(i), s, bool(c)) for i, s, c in zip(pdfs["keywords"]["id"], pdfs["keywords"]["search"], pdfs["keywords"]["case_sensitive"])]
    return kernel_timings(
        list(zip(sp["image_id"], sp["w"].astype(int), sp["h"].astype(int), sp["fmt"])),
        [c for c in sp["caption"] if isinstance(c, str)],
        kw,
    )


def analytics_sample(doc_dir, n: int) -> dict:
    """The image queries decode 32x32 payloads named after documents; the
    keyword queries match the documents' text."""
    import pandas as pd

    import __spark_entry__ as entry

    docs = pd.read_parquet(f"{doc_dir}/documents.parquet").head(n)
    images = [(f"img_{i}", 32, 32, "raw") for i in docs["doc_id"]]
    return kernel_timings(images, docs["text"].tolist(), [tuple(k[:1]) + (k[2], k[3]) for k in entry.DOC_KEYWORDS])

