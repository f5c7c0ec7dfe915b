"""Sitemap XML + robots.txt source tests (SURVEY O-1, O-2, O-3).

Fixture shapes mirror the reference's test corpus: a sitemapindex with
listings + decoy entries (src/harvester.py:1135), namespaced and
un-namespaced urlsets (1294-1299), empty/whitespace <loc> entries
(1303-1307), and a robots.txt with Crawl-delay + Sitemap lines
(test_data/example_robots.txt shape).
"""

import pandas as pd
from pyspark.sql import functions as F

from crawler_spark.sources.sitemap_xml import (
    RobotsRules,
    can_fetch,
    explode_sitemap_documents,
    filter_index_entries,
    parse_locs,
    parse_robots,
    robots_rules_rows,
)

NS_URLSET = """<?xml version="1.0" encoding="UTF-8"?>
<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
  <url><loc>https://h.example/jobs/1</loc></url>
  <url><loc>  https://h.example/jobs/2  </loc></url>
  <url><loc>   </loc></url>
  <url><loc>https://h.example/jobs/3</loc></url>
</urlset>"""

PLAIN_URLSET = """<urlset>
  <url><loc>https://h.example/a</loc></url>
  <url><loc></loc></url>
  <url><loc>https://h.example/b</loc></url>
</urlset>"""

SITEMAP_INDEX = """<?xml version="1.0"?>
<sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
  <sitemap><loc>https://h.example/sitemaps/listings-1.xml</loc></sitemap>
  <sitemap><loc>https://h.example/sitemaps/companies-1.xml</loc></sitemap>
  <sitemap><loc>https://h.example/sitemaps/listings-2.xml</loc></sitemap>
</sitemapindex>"""

ROBOTS = """# comment
User-agent: *
Disallow: /admin/
Allow: /admin/public
Crawl-delay: 10

User-agent: greedybot
Disallow: /

Sitemap: https://h.example/sitemap-jobs-1.xml
Sitemap: https://h.example/sitemap-geocity-1.xml
"""


def test_parse_locs_ns_order_and_empty_skip():
    assert parse_locs(NS_URLSET) == [
        "https://h.example/jobs/1",
        "https://h.example/jobs/2",
        "https://h.example/jobs/3",
    ]


def test_parse_locs_unnamespaced_fallback():
    assert parse_locs(PLAIN_URLSET) == ["https://h.example/a", "https://h.example/b"]


def test_parse_locs_malformed_xml():
    assert parse_locs("<urlset><loc>oops") == []


def test_parse_locs_gzipped_sitemap():
    import gzip

    gz = gzip.compress(NS_URLSET.encode("utf-8"))
    assert parse_locs(gz) == parse_locs(NS_URLSET)
    assert parse_locs(gzip.compress(SITEMAP_INDEX.encode())) == parse_locs(
        SITEMAP_INDEX
    )


def test_parse_locs_gzip_corrupt_and_bomb_rejected():
    import gzip

    gz = bytearray(gzip.compress(NS_URLSET.encode("utf-8")))
    gz[12] ^= 0xFF
    assert parse_locs(bytes(gz)) == []  # corrupt member: no entries
    # a > 50 MB decompression bomb is rejected, not inflated
    bomb = gzip.compress(b"<urlset>" + b" " * (51 * 1024 * 1024) + b"</urlset>")
    assert parse_locs(bomb) == []


def test_parse_locs_multi_member_gzip():
    import gzip

    # concatenated members inflate to the concatenated document
    doc = NS_URLSET.encode("utf-8")
    half = len(doc) // 2
    two = gzip.compress(doc[:half]) + gzip.compress(doc[half:])
    assert parse_locs(two) == parse_locs(NS_URLSET)
    # the 50 MB cap is on the total, not per member
    pad = b" " * (26 * 1024 * 1024)
    split_bomb = gzip.compress(b"<urlset>" + pad) + gzip.compress(pad + b"</urlset>")
    assert parse_locs(split_bomb) == []


def test_sitemapindex_regex_filter(spark):
    docs = spark.createDataFrame(
        pd.DataFrame(
            {"portal": ["p"], "sitemap_url": ["https://h.example/sitemap.xml"], "xml": [SITEMAP_INDEX]}
        )
    )
    entries = explode_sitemap_documents(docs)
    kept = filter_index_entries(entries, r".*listings-[0-9]+.*").orderBy("loc_seq")
    rows = [r["url"] for r in kept.collect()]
    assert rows == [
        "https://h.example/sitemaps/listings-1.xml",
        "https://h.example/sitemaps/listings-2.xml",
    ]


def test_explode_preserves_document_order(spark):
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "portal": ["p", "p"],
                "sitemap_url": ["s1", "s2"],
                "xml": [NS_URLSET, PLAIN_URLSET],
            }
        )
    )
    out = explode_sitemap_documents(docs).orderBy("sitemap_url", "loc_seq").collect()
    assert [(r["sitemap_url"], r["loc_seq"], r["url"]) for r in out] == [
        ("s1", 0, "https://h.example/jobs/1"),
        ("s1", 1, "https://h.example/jobs/2"),
        ("s1", 2, "https://h.example/jobs/3"),
        ("s2", 0, "https://h.example/a"),
        ("s2", 1, "https://h.example/b"),
    ]


def test_parse_robots_star_group():
    r = parse_robots(ROBOTS)
    assert r.crawl_delay == 10.0
    assert r.disallow == ["/admin/"]
    assert r.allow == ["/admin/public"]
    assert r.sitemaps == [
        "https://h.example/sitemap-jobs-1.xml",
        "https://h.example/sitemap-geocity-1.xml",
    ]


def test_parse_robots_specific_agent_wins():
    r = parse_robots(ROBOTS, user_agent="GreedyBot/1.0")
    assert r.disallow == ["/"]
    assert r.crawl_delay is None


def test_can_fetch_longest_match_allow_wins():
    r = RobotsRules(allow=["/admin/public"], disallow=["/admin/"])
    assert can_fetch(r, "https://h.example/jobs/1")
    assert not can_fetch(r, "https://h.example/admin/secret")
    assert can_fetch(r, "https://h.example/admin/public/page")


def test_can_fetch_wildcards():
    r = RobotsRules(disallow=["/*.pdf$", "/tmp/*"])
    assert not can_fetch(r, "https://h.example/docs/file.pdf")
    assert can_fetch(r, "https://h.example/docs/file.pdf?x=1")  # $ anchor
    assert not can_fetch(r, "https://h.example/tmp/x/y")
    assert can_fetch(r, "https://h.example/tmpx")


def test_robots_rules_rows_table_shape(spark):
    pdf = robots_rules_rows([("h.example", "p0", ROBOTS)])
    assert list(pdf.robots_crawl_delay) == [10.0]
    assert pdf.sitemap_urls[0][0].endswith("sitemap-jobs-1.xml")
    from crawler_spark import schemas

    df = spark.createDataFrame(pdf, schema=schemas.ROBOTS_RULES)
    assert df.filter(F.col("robots_crawl_delay") == 10.0).count() == 1
