"""Regression tests for round-2 engine fixes.

Each test pins one failure mode found in round-1 review:
- id bases advancing by routed counts instead of inserted counts
  (same-engine replay used to gap per-portal ids and write bridge
  rows pointing at phantom page ids)
- politeness inner-join silently deleting hosts with no robots entry
- expire_seen leaving bridge rows keyed by dropped page ids
"""

import json
import shutil

import pytest
from pyspark.sql import functions as F

from crawler_spark.operators import politeness
from crawler_spark.operators.frontier import CrawlEngine
from crawler_spark.sources.synth import corpus_to_spark, gen_corpus
from crawler_spark.storage import SnapshotCatalog


@pytest.fixture(scope="module")
def fix_corpus(spark):
    return corpus_to_spark(spark, gen_corpus(n_pages=300, n_hosts=4, urlset_size=50))


def _mk(spark, corpus, wh, **kw):
    return CrawlEngine(
        spark,
        SnapshotCatalog(spark, wh),
        seed_pages=corpus["seed_pages"],
        sitemap_entries=corpus["sitemap_entries"],
        robots_rules=corpus["robots_rules"],
        keywords=corpus["keywords"],
        round_duration=3600.0,
        store_payload=False,
        **kw,
    )


def test_same_engine_replay_keeps_ids_dense_and_bridge_consistent(
    spark, fix_corpus, tmp_path_factory
):
    """A replayed half-round on the SAME engine instance (driver-held id
    bases alive) must not gap ids or append phantom-id bridge rows."""
    wh = str(tmp_path_factory.mktemp("replay_wh"))
    engine = _mk(spark, fix_corpus, wh)
    engine.bootstrap()
    manifest = f"{wh}/frontier/_manifest.json"
    shutil.copy(manifest, manifest + ".bak")

    engine.run_round()
    # crash before the frontier commit; the same engine replays round 0
    shutil.copy(manifest + ".bak", manifest)
    engine.catalog.uncache()
    with open(manifest) as f:
        assert json.load(f)["properties"]["round"] == 0
    m = engine.run_round()
    assert m["stored"] == 0  # every row was already inserted
    engine.run(max_rounds=20)

    pages = engine.pages()
    pdf = pages.select("portal", "id").toPandas()
    for _, grp in pdf.groupby("portal"):
        ids = sorted(grp["id"])
        assert ids == list(range(1, len(ids) + 1))
    # every bridge row points at an existing page id
    orphans = (
        engine.bridge()
        .join(
            pages.select(F.col("id").alias("page_id"), "portal"),
            on=["page_id", "portal"],
            how="left_anti",
        )
        .count()
    )
    assert orphans == 0


def test_politeness_keeps_hosts_without_robots_entry(spark):
    """Hosts outside the robots table get a default budget; they must
    appear in admitted+leftover, never silently vanish."""
    pending = spark.createDataFrame(
        [(f"u{i}", i, 7777, 7777, 0, 0, i) for i in range(5)]
        + [(f"k{i}", 100 + i, 1, 1, 0, 0, i) for i in range(3)],
        "url string, fp long, host long, host_hash int, priority int, sitemap_seq int, loc_seq int",
    )
    robots = spark.createDataFrame(
        [(1, 60.0, None, 5)],
        "host long, requests_per_minute double, robots_crawl_delay double, retry_timeout_min int",
    )
    admitted, leftover, handle = politeness.admit_split(
        pending, robots, round_duration=120.0, n_salt=2
    )
    a, lo = admitted.collect(), leftover.collect()
    if handle is not None:
        handle.unpersist()
    assert len(a) + len(lo) == 8  # nothing dropped
    unknown_admitted = [r for r in a if r["host"] == 7777]
    # default budget: DEFAULT_RPM=1 req/min -> 2 tokens in 120 s
    assert len(unknown_admitted) == max(1, int(120.0 / 60.0))
    # retry_timeout_min defaulted, not null (routing needs it)
    assert all(r["retry_timeout_min"] is not None for r in a)


def test_expire_seen_removes_bridge_rows(spark, fix_corpus, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("expire_wh"))
    engine = _mk(spark, fix_corpus, wh)
    engine.bootstrap()
    engine.run(max_rounds=20)

    # pick a url that has bridge rows
    row = (
        engine.pages()
        .join(
            engine.bridge().select(F.col("page_id").alias("id"), "portal").distinct(),
            on=["id", "portal"],
        )
        .select("url", "id", "portal")
        .first()
    )
    n_expired = engine.expire_seen([row["url"]], drop_pages=True)
    assert n_expired == 1
    # the dropped id's bridge rows are gone
    left = (
        engine.bridge()
        .filter((F.col("page_id") == row["id"]) & (F.col("portal") == row["portal"]))
        .count()
    )
    assert left == 0
    # no orphans at all
    orphans = (
        engine.bridge()
        .join(
            engine.pages().select(F.col("id").alias("page_id"), "portal"),
            on=["page_id", "portal"],
            how="left_anti",
        )
        .count()
    )
    assert orphans == 0


def test_periodic_compaction_preserves_results(spark, fix_corpus, tmp_path_factory):
    """compact_every rewrites seen/bridge/lineage into one snapshot
    without changing any query result; append-only file sets stop
    accumulating."""
    import json

    wh_a = str(tmp_path_factory.mktemp("nocompact_wh"))
    eng_a = _mk(spark, fix_corpus, wh_a, compact_every=0)
    eng_a.bootstrap()
    eng_a.run(max_rounds=20)

    wh_b = str(tmp_path_factory.mktemp("compact_wh"))
    eng_b = _mk(spark, fix_corpus, wh_b, compact_every=2)
    eng_b.bootstrap()
    eng_b.run(max_rounds=20)

    for getter in ("pages", "seen"):
        a = {r["url"] for r in getattr(eng_a, getter)().select("url").collect()}
        b = {r["url"] for r in getattr(eng_b, getter)().select("url").collect()}
        assert a == b, getter
    assert eng_a.bridge().count() == eng_b.bridge().count()

    with open(f"{wh_b}/seen/_manifest.json") as f:
        compacted_paths = json.load(f)["paths"]
    with open(f"{wh_a}/seen/_manifest.json") as f:
        append_paths = json.load(f)["paths"]
    assert len(append_paths) > 1          # appends accumulate without it
    assert len(compacted_paths) <= 2      # at most one post-compaction append
