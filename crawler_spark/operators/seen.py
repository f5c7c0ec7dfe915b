"""Partitioned URL-seen set: exact anti-join + per-bucket bloom prefilter.

Replaces the reference's ``advertisement_exists`` probe against the
SQLite ``url UNIQUE`` index (src/harvester.py:133-166). Exactness is
required (bit-for-bit URL-seen equality per the north rule), so the
source of truth is a ``left_anti`` join on ``(fp, url)`` against the
``seen`` table. The per-``host_hash`` bloom sidecar is a PREFILTER:
rows whose fingerprint the bloom rejects are definitely unseen and
bypass the shuffle-heavy exact join. At 10^10 URLs with a high
revisit rate this turns the anti-join input from O(frontier) into
O(maybe-seen).

The sidecar is bounded by construction: one ``BLOOM_BITS`` bitmap
(16 KiB) per host bucket, ``urls.N_HOST_BUCKETS`` (1024) buckets, so
at most 16 MiB. It lives on the driver, is folded from each round's
inserts there, and ships to the probe as one Spark broadcast; the
probe is a scalar UDF over ``(host_hash, fp)`` only.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, IntegerType, StructField, StructType

BLOOM_SCHEMA = StructType(
    [
        StructField("host_hash", IntegerType(), False),
        StructField("bitmap", BinaryType(), False),
    ]
)

BLOOM_BITS = 1 << 17  # 16 KiB per host bucket
BLOOM_HASHES = 4


def _bloom_positions(fps: np.ndarray, n_bits: int = BLOOM_BITS, k: int = BLOOM_HASHES):
    """Double hashing from the two 32-bit halves of the 64-bit fp."""
    u = fps.astype(np.uint64)
    h1 = (u & np.uint64(0xFFFFFFFF)).astype(np.uint64)
    h2 = (u >> np.uint64(32)).astype(np.uint64) | np.uint64(1)
    return [((h1 + np.uint64(i) * h2) % np.uint64(n_bits)).astype(np.int64) for i in range(k)]


def bloom_build(fps: np.ndarray, base: bytes | None = None) -> bytes:
    bits = (
        np.unpackbits(np.frombuffer(base, dtype=np.uint8))
        if base
        else np.zeros(BLOOM_BITS, dtype=np.uint8)
    )
    for pos in _bloom_positions(fps):
        bits[pos] = 1
    return np.packbits(bits).tobytes()


def bloom_maybe_contains(fps: np.ndarray, bitmap: bytes) -> np.ndarray:
    bits = np.unpackbits(np.frombuffer(bitmap, dtype=np.uint8))
    out = np.ones(len(fps), dtype=bool)
    for pos in _bloom_positions(fps):
        out &= bits[pos].astype(bool)
    return out


def build_blooms(seen_fps: DataFrame) -> DataFrame:
    """groupBy(host_hash).applyInPandas rebuild of whole bloom buckets
    from the exact seen fingerprints. Expiry path: bloom bits cannot
    be cleared, so affected buckets rebuild from what remains — each
    bucket on its own partition, never a driver materialization of
    the seen table."""

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        hh = int(pdf["host_hash"].iloc[0])
        return pd.DataFrame(
            {
                "host_hash": [hh],
                "bitmap": [bloom_build(pdf["fp"].to_numpy(dtype=np.int64))],
            }
        )

    return (
        seen_fps.select("host_hash", "fp")
        .groupBy("host_hash")
        .applyInPandas(build, schema=BLOOM_SCHEMA)
    )


def prefilter_unseen_broadcast(
    frontier: DataFrame, bitmaps: dict[int, bytes] | None, spark, bc=None
) -> tuple[DataFrame, DataFrame]:
    """Split frontier into (definitely_unseen, maybe_seen) via the bloom.

    Only ``maybe_seen`` needs the exact anti-join. The per-bucket
    bitmap dict rides a Spark broadcast; the probe UDF touches only
    (host_hash, fp). Rows of a bucket with no bitmap count as
    definitely unseen, so the caller must hold a bitmap for every
    bucket that has seen rows.

    Pass ``bc`` (an existing Broadcast of the bitmap dict) to reuse one
    broadcast across rounds — creating a fresh broadcast per call and
    never unpersisting it accumulates unbounded driver/executor
    memory over a long crawl. The caller owns the handle's lifecycle
    (unpersist when the bitmaps change).
    """
    if bc is None:
        bc = spark.sparkContext.broadcast(bitmaps)

    @F.pandas_udf("int")
    def probe(host_hash: pd.Series, fp: pd.Series) -> pd.Series:
        blobs = bc.value
        out = np.zeros(len(fp), dtype=np.int32)
        fps = fp.to_numpy()
        hhs = host_hash.to_numpy()
        for hh in np.unique(hhs):
            blob = blobs.get(int(hh))
            if blob is None:
                continue  # no bitmap for the bucket: definitely unseen
            m = hhs == hh
            out[m] = bloom_maybe_contains(fps[m], blob).astype(np.int32)
        return pd.Series(out)

    probed = frontier.withColumn("maybe_seen", probe(F.col("host_hash"), F.col("fp")))
    return (
        probed.filter(F.col("maybe_seen") == 0).drop("maybe_seen"),
        probed.filter(F.col("maybe_seen") == 1).drop("maybe_seen"),
    )


def filter_unseen(
    frontier: DataFrame,
    seen: DataFrame,
    bloom_bitmaps: dict[int, bytes] | None = None,
    spark=None,
    bloom_bc=None,
) -> DataFrame:
    """Rows of ``frontier`` whose (fp, url) is not in ``seen``.

    Exact semantics of src/harvester.py:133-166 (only stored
    status-200 pages are "seen"; failures are refetchable). The bloom
    is a prefilter only — exactness always comes from the anti-join.
    Pass the per-bucket bitmaps, or ``bloom_bc`` (a live broadcast of
    them), plus the session.
    """
    definite, maybe = prefilter_unseen_broadcast(
        frontier, bloom_bitmaps, spark, bc=bloom_bc
    )
    checked = maybe.join(seen.select("fp", "url"), on=["fp", "url"], how="left_anti")
    return definite.unionByName(checked)
