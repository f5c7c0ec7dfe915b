"""Maintenance ops: re-analyze, backfill, keyword table management.

The reference's `analyze` command (src/analyzer.py:306-378 driving
213-304) re-matches keywords over stored ads and rewrites the bridge;
`update` (src/crawler.py:470-633) re-parses payloads to fill missing
fields. Both become single declarative jobs here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crawler_spark import schemas
from crawler_spark.functions.keywords import keywords_as_rows, make_keyword_matcher
from crawler_spark.operators.multimodal import image_features


def analyze(
    catalog,
    keywords: DataFrame,
    title_only: bool = True,
    min_id: int | None = None,
    max_id: int | None = None,
    reset: bool = True,
) -> DataFrame:
    """O-40: recompute keyword matches for an id range, rewrite bridge.

    Mirrors src/analyzer.py:213-304: the id-range predicate is pushed
    into the scan (O-15, src/analyzer.py:247-262 — Catalyst pushes the
    filter to parquet); the per-ad DELETE+INSERT loop
    (src/analyzer.py:175-211) becomes one overwrite (reset=True) or a
    merge of the re-analyzed range (reset=False / --no-reset).

    The analyze command's default is title_only=True
    (src/analyzer.py:150-173; CLI --include-description flips it,
    src/crawler.py:808-812).
    """
    pages = catalog.read("pages", schemas.PAGES)
    scoped = pages
    if min_id is not None:
        scoped = scoped.filter(F.col("id") >= min_id)
    if max_id is not None:
        scoped = scoped.filter(F.col("id") <= max_id)

    matcher = make_keyword_matcher(keywords_as_rows(keywords), title_only=title_only)
    new_bridge = (
        scoped.withColumn(
            "matched",
            matcher(F.col("caption"), F.lit(None).cast("string"), F.lit(None).cast("string")),
        )
        .select("portal", F.col("id").alias("page_id"), F.explode("matched").alias("keyword_id"))
        .select("keyword_id", "page_id", "portal")
    )

    if reset:
        catalog.overwrite("bridge", new_bridge)
    else:
        # keep rows outside the re-analyzed range, replace rows inside it
        old = catalog.read("bridge", schemas.BRIDGE)
        keep = old.join(
            scoped.select("portal", F.col("id").alias("page_id")),
            on=["portal", "page_id"],
            how="left_anti",
        )
        catalog.overwrite("bridge", keep.unionByName(new_bridge))
    return new_bridge


def backfill(catalog, force: bool = False) -> int:
    """O-39: re-derive payload fields, filling only missing ones.

    Mirrors src/crawler.py:470-633: select rows with any derived field
    missing unless --force (O-16, src/crawler.py:505-513), recompute
    from the stored payload, MERGE back with coalesce(old, new)
    (new-wins under force). For the image payload the derived field is
    the perceptual hash.
    """
    pages = catalog.read("pages", schemas.PAGES)
    needs = pages if force else pages.filter(F.col("phash").isNull())
    n = needs.count()
    if n == 0:
        return 0
    # the stored bytes are decoded as fetched, keyed by url (aliased
    # through image_features' id column); a payload that does not
    # decode leaves phash as it was
    upd = image_features(
        needs.filter(F.col("bytes").isNotNull()).select(
            F.col("url").alias("image_id"), "bytes", "w", "h", "fmt"
        )
    ).select(F.col("image_id").alias("url"), F.col("phash").alias("_new_phash"))
    merged = (
        pages.join(upd, on="url", how="left")
        # missing-only and --force both resolve to new-when-present:
        # under force every selected row recomputes, so new wins there too
        .withColumn("phash", F.coalesce(F.col("_new_phash"), F.col("phash")))
        .drop("_new_phash")
        .select(*[f.name for f in schemas.PAGES.fields])
    )
    catalog.overwrite("pages", merged)
    return n


def reset_keyword_tables(catalog) -> None:
    """O-41: DELETE FROM keyword_advertisement; DELETE FROM keywords
    (src/analyzer.py:96-116) — truncate both, FK order irrelevant
    under snapshot isolation."""
    spark = catalog.spark
    catalog.overwrite("bridge", spark.createDataFrame([], schemas.BRIDGE))
    catalog.overwrite("keywords", spark.createDataFrame([], schemas.KEYWORDS))


def upsert_keywords(catalog, keywords: DataFrame) -> None:
    """O-42: INSERT OR IGNORE on unique `search`
    (src/keyword_manager.py:62-77) — merge_insert keyed on search."""
    catalog.merge_insert("keywords", keywords, key="search", schema=schemas.KEYWORDS)
