"""Sitemap XML + robots.txt parsing — the real discovery sources.

Reproduces the reference's two discovery shapes from RAW bytes:

- StepStone (src/harvester.py:1118-1154): fetch ``sitemap.xml``, parse
  the ``<sitemapindex>``, keep nested sitemap ``<loc>``s matching
  ``.*listings-[0-9]+.*`` (line 1135), fetch each ``<urlset>`` and
  yield every ``<loc>`` in document order.
- Karriere (src/harvester.py:1206-1349): enumerate the sitemaps the
  robots.txt lists (1225), keep ``.*sitemap-jobs.*`` (1250), parse
  each with the namespace-aware ``.//sm:loc`` query falling back to
  un-namespaced ``.//loc`` (1294-1299), and skip None/empty/whitespace
  entries (1236-1245, 1303-1307).

The per-document parse runs as a pandas UDF over Arrow batches of XML
bytes (UDF family 1 of SURVEY §2.10): one sitemap document per row in,
an array of ordered ``<loc>`` strings out, then ``posexplode`` gives
the engine its ``(sitemap_seq, loc_seq)`` canonical order key — the
discovery shape `CrawlEngine.discover` consumes.

robots.txt parsing replaces Protego (src/harvester.py:405-410): the
subset the reference consumes is ``Crawl-delay``, ``Sitemap`` lines,
and Allow/Disallow matching for ``can_fetch``; matching follows the
REP longest-match rule with Allow winning ties, which is Protego's
behavior for the literal (non-wildcard) rules the fixtures use, plus
``*`` and ``$`` wildcard support.
"""

from __future__ import annotations

import re
import xml.etree.ElementTree as ET
import zlib
from dataclasses import dataclass, field
from urllib.parse import urlsplit

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType

SITEMAP_NS = "http://www.sitemaps.org/schemas/sitemap/0.9"

# ------------------------------------------------------------ XML parse


# sitemaps.org protocol: an uncompressed sitemap may not exceed 50 MB
# — also the decompression-bomb ceiling for gzipped payloads below
_SITEMAP_MAX_BYTES = 50 * 1024 * 1024


def parse_locs(xml_text: str | bytes) -> list[str]:
    """Ordered non-empty <loc> texts of a sitemapindex/urlset document.

    Gzipped payloads (sitemap.xml.gz — explicitly allowed by the
    sitemaps.org protocol and ubiquitous in the wild) are detected by
    magic bytes and inflated transparently, with the protocol's 50 MB
    uncompressed cap doubling as the decompression-bomb guard: an
    oversized or corrupt member yields no entries, like malformed XML.

    Namespace-aware first, un-namespaced fallback
    (src/harvester.py:1294-1299); empty/whitespace entries skipped
    (src/harvester.py:1303-1307). Malformed XML yields no entries
    (the reference logs and moves on).
    """
    if isinstance(xml_text, (bytes, bytearray)) and bytes(xml_text[:2]) == b"\x1f\x8b":
        # a .gz file may hold several concatenated members (RFC 1952
        # 2.2); inflate each in turn, the 50 MB cap applying to their
        # total. Bytes after the last member that do not start another
        # member are ignored.
        rest, parts, total = bytes(xml_text), [], 0
        try:
            while rest[:2] == b"\x1f\x8b":
                d = zlib.decompressobj(wbits=31)
                part = d.decompress(rest, _SITEMAP_MAX_BYTES - total + 1)
                total += len(part)
                if total > _SITEMAP_MAX_BYTES:  # exceeds the protocol cap: reject
                    return []
                parts.append(part)
                rest = d.unused_data
        except zlib.error:
            return []
        xml_text = b"".join(parts)
    try:
        root = ET.fromstring(xml_text)
    except ET.ParseError:
        return []
    locs = root.findall(f".//{{{SITEMAP_NS}}}loc")
    if not locs:
        locs = root.findall(".//loc")
    out = []
    for el in locs:
        if el.text and el.text.strip():
            out.append(el.text.strip())
    return out


@F.pandas_udf(ArrayType(StringType()))
def parse_locs_udf(xml_docs: pd.Series) -> pd.Series:
    return pd.Series([parse_locs(x) if x is not None else [] for x in xml_docs])


def explode_sitemap_documents(
    docs: DataFrame,
    xml_col: str = "xml",
    sitemap_url_col: str = "sitemap_url",
) -> DataFrame:
    """(portal, sitemap_url, xml) -> (portal, sitemap_url, loc_seq, url).

    One Arrow pass parses each document; ``posexplode`` assigns the
    document-order ``loc_seq`` the scheduler's ordering fidelity
    depends on (SURVEY O-36).
    """
    return docs.select(
        "portal",
        sitemap_url_col,
        F.posexplode(parse_locs_udf(F.col(xml_col))).alias("loc_seq", "url"),
    )


def filter_index_entries(index_entries: DataFrame, pattern: str) -> DataFrame:
    """Regex-filter nested sitemap names from a sitemapindex
    (src/harvester.py:1135 / 1250)."""
    return index_entries.filter(F.col("url").rlike(pattern))


# --------------------------------------------------------------- robots


@dataclass
class RobotsRules:
    crawl_delay: float | None = None
    sitemaps: list[str] = field(default_factory=list)
    allow: list[str] = field(default_factory=list)
    disallow: list[str] = field(default_factory=list)


def parse_robots(text: str, user_agent: str = "*") -> RobotsRules:
    """Parse the robots.txt subset the reference consumes.

    Group selection: rules from the longest user-agent token that
    prefixes ``user_agent`` (case-insensitive), else the ``*`` group.
    ``Sitemap`` and ``Crawl-delay`` lines are collected from the
    matching group; Sitemap lines are global per REP, so they are
    collected from every group too.
    """
    groups: dict[str, RobotsRules] = {}
    sitemaps: list[str] = []
    current: list[str] = []
    last_was_agent = False
    for raw in text.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, value = line.partition(":")
        key = key.strip().lower()
        value = value.strip()
        if key == "user-agent":
            agent = value.lower()
            if not last_was_agent:
                current = []
            current.append(agent)
            groups.setdefault(agent, RobotsRules())
            last_was_agent = True
            continue
        last_was_agent = False
        if key == "sitemap":
            if value:
                sitemaps.append(value)
            continue
        for agent in current:
            g = groups.setdefault(agent, RobotsRules())
            if key == "disallow" and value:
                g.disallow.append(value)
            elif key == "allow" and value:
                g.allow.append(value)
            elif key == "crawl-delay":
                try:
                    g.crawl_delay = float(value)
                except ValueError:
                    pass

    ua = user_agent.lower()
    chosen = None
    best_len = -1
    for agent, g in groups.items():
        if agent != "*" and agent in ua and len(agent) > best_len:
            chosen, best_len = g, len(agent)
    if chosen is None:
        chosen = groups.get("*", RobotsRules())
    chosen.sitemaps = sitemaps
    return chosen


def rule_regex(rule: str) -> str:
    """Start-anchored regex equivalent of a REP rule: ``*`` becomes
    ``.*``, a trailing ``$`` anchors the end, everything else literal.
    Shared by the Python can_fetch path and the engine's native
    (regexp_like) per-URL evaluation in CrawlEngine.discover."""
    pat = re.escape(rule).replace(r"\*", ".*")
    if pat.endswith(r"\$"):
        pat = pat[:-2] + "$"
    return "^" + pat


def _rule_matches(rule: str, path: str) -> int | None:
    """Longest-match length if ``rule`` matches ``path`` else None.
    Supports ``*`` wildcards and ``$`` end anchors per REP."""
    if "*" in rule or rule.endswith("$"):
        if re.match(rule_regex(rule), path):
            return len(rule)
        return None
    if path.startswith(rule):
        return len(rule)
    return None


def can_fetch(rules: RobotsRules, url: str) -> bool:
    """REP longest-match: the most specific matching rule wins; Allow
    wins length ties. No matching rule -> allowed."""
    parts = urlsplit(url)
    path = parts.path or "/"
    if parts.query:
        path += "?" + parts.query
    best_allow = max(
        (m for r in rules.allow if (m := _rule_matches(r, path)) is not None),
        default=-1,
    )
    best_disallow = max(
        (m for r in rules.disallow if (m := _rule_matches(r, path)) is not None),
        default=-1,
    )
    return best_allow >= best_disallow


def robots_rules_rows(
    robots_texts: list[tuple[str, str, str]],
    user_agent: str = "*",
    requests_per_minute: int = 60,
    retry_timeout_min: int = 5,
) -> pd.DataFrame:
    """[(host, portal, robots_text)] -> the engine's robots_rules table.

    Driver-side by design: one robots.txt per host (a few KB each) is
    dimension data even at 10^6 hosts; the parsed table broadcasts
    into the politeness stage (SURVEY O-37).
    """
    rows = []
    for host, portal, text in robots_texts:
        r = parse_robots(text, user_agent)
        rows.append(
            (
                host,
                portal,
                requests_per_minute,
                r.crawl_delay,
                retry_timeout_min,
                r.sitemaps,
                r.disallow,
                r.allow,
            )
        )
    return pd.DataFrame(
        rows,
        columns=[
            "host", "portal", "requests_per_minute", "robots_crawl_delay",
            "retry_timeout_min", "sitemap_urls", "disallow", "allow",
        ],
    )
