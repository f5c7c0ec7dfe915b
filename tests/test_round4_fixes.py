"""Regression tests for round-3 ADVICE findings.

- decode_png: truncation between a chunk payload and its CRC must be
  the documented ValueError, not struct.error
- connected_components: non-integral id columns must raise instead of
  silently casting to NULL and returning empty labels
- minhash_lsh_pairs / near_dedup_corpus: callable with id_col="id"
  (the members-side join used a bare F.col("id") that was ambiguous
  at analysis)
- lineage(): replay of a crash between the lineage append and the
  frontier commit must not double (round, host) metric rows
"""

import struct
import zlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from crawler_spark.functions.payload import decode_png, encode_png
from crawler_spark.operators.dedup import (
    connected_components,
    minhash_lsh_pairs,
    near_dedup_corpus,
)


def _png_bytes() -> bytes:
    img = (np.arange(12 * 9 * 3, dtype=np.uint32) * 37 % 256).astype(np.uint8)
    return encode_png(img.reshape(9, 12, 3))


def test_png_truncated_before_crc_is_valueerror():
    data = _png_bytes()
    # cut inside the IHDR chunk's CRC: signature(8) + len(4) + tag(4)
    # + payload(13) + 2 of the 4 CRC bytes
    cut = data[: 8 + 4 + 4 + 13 + 2]
    with pytest.raises(ValueError, match="truncated"):
        decode_png(cut)
    # also truncate mid-payload (the previously-covered case)
    with pytest.raises(ValueError, match="truncated"):
        decode_png(data[: 8 + 4 + 4 + 5])


def test_png_roundtrip_still_green():
    img = (np.arange(8 * 8 * 3, dtype=np.uint32) * 11 % 256).astype(np.uint8)
    img = img.reshape(8, 8, 3)
    assert np.array_equal(decode_png(encode_png(img)), img)


def test_connected_components_rejects_string_ids(spark):
    pairs = spark.createDataFrame(
        [("u1", "u2"), ("u2", "u3")], "id_a string, id_b string"
    )
    with pytest.raises(TypeError, match="integral"):
        connected_components(pairs)


def test_connected_components_still_works_on_ints(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a bigint, id_b bigint"
    )
    comp = {r["id"]: r["component"] for r in connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


@pytest.fixture()
def docs_named_id(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog " * 4),
        (2, "the quick brown fox jumps over the lazy dog " * 4),
        (3, "an entirely different document about spark shuffles " * 4),
        (4, "an entirely different document about spark shuffles " * 4),
        (5, "nothing like the others at all in any way whatsoever " * 4),
    ]
    return spark.createDataFrame(rows, "id bigint, text string")


def test_minhash_lsh_pairs_with_id_col_named_id(docs_named_id):
    pairs = minhash_lsh_pairs(
        docs_named_id, n=3, n_hashes=16, bands=8, text_col="text", id_col="id"
    )
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got and (3, 4) in got
    assert not any(5 in p for p in got)


def test_near_dedup_corpus_with_id_col_named_id(docs_named_id):
    kept = near_dedup_corpus(
        docs_named_id, n=3, n_hashes=16, bands=8, text_col="text", id_col="id"
    )
    ids = sorted(r["id"] for r in kept.collect())
    assert ids == [1, 3, 5]


def test_lineage_read_dedups_replayed_round(spark, tmp_path):
    """A crash between the lineage append and the frontier commit
    replays the round and re-appends identical (round, host) rows;
    the reader must collapse them."""
    import pandas as pd
    import pyarrow as pa

    from crawler_spark import schemas
    from crawler_spark.operators.frontier import CrawlEngine
    from crawler_spark.sources.synth import corpus_to_spark, gen_corpus
    from crawler_spark.storage import SnapshotCatalog, spark_schema_to_arrow

    corpus = corpus_to_spark(
        spark, gen_corpus(n_pages=60, n_hosts=2, urlset_size=30, fault_frac=0.0)
    )
    engine = CrawlEngine(
        spark,
        SnapshotCatalog(spark, str(tmp_path / "wh")),
        seed_pages=corpus["seed_pages"],
        sitemap_entries=corpus["sitemap_entries"],
        robots_rules=corpus["robots_rules"],
        keywords=corpus["keywords"],
        round_duration=3600.0,
        store_payload=False,
    )
    engine.bootstrap()
    engine.run_round()
    before = engine.lineage().toPandas()
    # simulate the replayed append: identical rows land a second time
    engine.catalog.append_arrow(
        "lineage",
        pa.Table.from_pandas(
            engine.catalog.read("lineage", schemas.LINEAGE).toPandas(),
            schema=spark_schema_to_arrow(schemas.LINEAGE),
            preserve_index=False,
        ),
    )
    after = engine.lineage().toPandas()
    assert len(after) == len(before)
    assert (
        after.sort_values(["round", "host"]).reset_index(drop=True)["scheduled"].sum()
        == before["scheduled"].sum()
    )


def test_bloom_expiry_rebuilds_partition_side(spark, tmp_path):
    """VERDICT r3 #4: expire_seen must rebuild only the
    affected sidecar buckets, partition-side — never a toPandas of the
    seen table — and the expired urls must be re-crawlable."""
    from unittest import mock

    from pyspark.sql import DataFrame

    from crawler_spark.operators import seen as seen_ops
    from crawler_spark.operators.frontier import CrawlEngine
    from crawler_spark.sources.synth import corpus_to_spark, gen_corpus
    from crawler_spark.storage import SnapshotCatalog

    corpus = corpus_to_spark(
        spark, gen_corpus(n_pages=120, n_hosts=3, urlset_size=40, fault_frac=0.0)
    )
    engine = CrawlEngine(
        spark,
        SnapshotCatalog(spark, str(tmp_path / "wh")),
        seed_pages=corpus["seed_pages"],
        sitemap_entries=corpus["sitemap_entries"],
        robots_rules=corpus["robots_rules"],
        keywords=corpus["keywords"],
        round_duration=3600.0,
        store_payload=False,
    )
    engine.bootstrap()
    engine.run(max_rounds=20)
    n0 = engine.pages().count()
    assert n0 > 0

    victims = [r["url"] for r in engine.pages().limit(5).collect()]
    sidecar_before = {
        int(r["host_hash"]): bytes(r["bitmap"])
        for r in engine.catalog.read("seen_bloom", seen_ops.BLOOM_SCHEMA).collect()
    }
    victim_hh = {
        int(r["host_hash"])
        for r in engine.seen()
        .filter(F.col("url").isin(victims))
        .select("host_hash")
        .collect()
    }

    with mock.patch.object(
        DataFrame,
        "toPandas",
        side_effect=AssertionError("expire_seen materialized a table on the driver"),
    ):
        n = engine.expire_seen(victims, drop_pages=True)
    assert n == 5
    assert engine.pages().count() == n0 - 5

    sidecar_after = {
        int(r["host_hash"]): bytes(r["bitmap"])
        for r in engine.catalog.read("seen_bloom", seen_ops.BLOOM_SCHEMA).collect()
    }
    # untouched buckets keep their exact bitmaps; affected ones changed
    for hh, bmp in sidecar_before.items():
        if hh not in victim_hh:
            assert sidecar_after.get(hh) == bmp, hh
    assert any(sidecar_after.get(hh) != sidecar_before.get(hh) for hh in victim_hh)

    # the expired urls re-crawl to a full table again, and ONLY they
    # are re-fetched: every other url stays skipped by the seen set
    engine.bootstrap()
    metrics = engine.run(max_rounds=20)
    assert engine.pending_count() == 0
    assert sum(m["stored"] for m in metrics) == len(victims)
    assert engine.pages().count() == n0
    assert engine.pages().select("url").distinct().count() == n0
