"""Seen-set expiry followed by a re-crawl: only the expired URLs come back."""


def test_expire_and_recrawl(spark, tmp_path_factory):
    """Expired URLs are re-fetched by a re-bootstrap, everything else stays
    skipped by the seen set."""
    from crawler_spark.operators.frontier import CrawlEngine
    from crawler_spark.sources.synth import corpus_to_spark, gen_corpus
    from crawler_spark.storage import SnapshotCatalog

    corpus = corpus_to_spark(
        spark, gen_corpus(n_pages=200, n_hosts=3, urlset_size=40, fault_frac=0.0)
    )
    eng = CrawlEngine(
        spark,
        SnapshotCatalog(spark, str(tmp_path_factory.mktemp("expire_wh"))),
        seed_pages=corpus["seed_pages"],
        sitemap_entries=corpus["sitemap_entries"],
        robots_rules=corpus["robots_rules"],
        keywords=corpus["keywords"],
        round_duration=3600.0,
        store_payload=False,
    )
    eng.bootstrap()
    eng.run(max_rounds=10)
    total = eng.pages().count()
    assert total == 200

    victims = [r["url"] for r in eng.pages().limit(10).select("url").collect()]
    n = eng.expire_seen(victims)
    assert n == 10
    assert eng.pages().count() == total - 10
    assert eng.seen().count() == total - 10

    rounds_before = eng.current_round()
    eng.bootstrap()  # re-run harvest over the same corpus
    metrics = eng.run(max_rounds=10)
    assert eng.pending_count() == 0
    stored_again = sum(m["stored"] for m in metrics)
    assert stored_again == 10  # ONLY the expired urls were re-fetched
    assert eng.pages().count() == total
    assert {r["url"] for r in eng.pages().select("url").collect()} >= set(victims)
    assert rounds_before >= 1
