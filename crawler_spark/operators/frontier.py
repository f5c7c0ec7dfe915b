"""The crawl engine: discovery + round-based scheduling loop.

Replaces the reference's thread-per-portal pull pipeline
(src/crawler.py:65-131 driving src/harvester.py:187-366) with a
driver loop of SCHEDULING ROUNDS, all state in snapshot-committed
tables:

    discover (explode sitemaps, regex-filter, empty-skip, dedup)
      -> anti-join seen (exact + bloom prefilter)     [O-13]
      -> window-rank politeness admission             [O-37]
      -> fetch (vectorized synthetic fetch UDF)       [O-4]
      -> status routing: store / retry-once / drop    [O-14, O-38]
      -> parse+validate payload (decode, phash, PSNR) [O-19/O-20 analog]
      -> keyword match -> bridge rows                 [O-18, O-28]
      -> commit: pages, seen, bridge, lineage, frontier snapshots

Every round ends in one atomic snapshot per table; resume = read the
frontier manifest's round property and continue (north rule:
"resumable from checkpoint with per-partition lineage + metrics").
The frontier is a DELTA table of open work only: rows leave it when
stored, dropped, or found in the seen set, so the per-round snapshot
write is O(remaining) — at 10^10 URLs the closed rows live in
pages/seen/lineage and are never rewritten round over round.

Ordering fidelity: within a portal the admission order is strictly
(priority, sitemap_seq, loc_seq) — the reference's sitemap document
order (src/harvester.py:1132-1152, 1234-1311). Across portals the
reference interleaves by wall-clock thread scheduling, i.e. is itself
nondeterministic, so equality is asserted per portal exactly like the
reference's own tests (tests/test_harvester.py:301, 394).
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from crawler_spark import schemas
from crawler_spark.functions.keywords import keywords_as_rows, make_keyword_matcher
from crawler_spark.functions.payload import make_fetch_parse_udf
from crawler_spark.functions.urls import with_url_identity_native
from crawler_spark.operators import politeness, routing, seen as seen_ops
from crawler_spark.operators.ids import with_dense_ids
from crawler_spark.storage import SnapshotCatalog

# Which sitemap names each portal style walks:
# StepStone: sitemap-index entries matching listings-[0-9]+
#   (src/harvester.py:1135), Karriere: robots-listed sitemaps matching
#   sitemap-jobs (src/harvester.py:1250).
STYLE_SITEMAP_FILTER = {
    "stepstone": r".*listings-[0-9]+.*",
    "karriere": r".*sitemap-jobs.*",
}

_RULES_RE_TYPE = "array<struct<re:string,len:int>>"


def _rules_re_udf():
    """Compile REP rule strings to (anchored regex, rule length) structs.

    Runs ONCE per robots row (per host — dimension data), never per
    URL: the per-URL longest-match evaluation downstream is all native
    regexp_like over these precompiled patterns.
    """
    from crawler_spark.sources.sitemap_xml import rule_regex

    @F.pandas_udf(_RULES_RE_TYPE)
    def conv(rules: pd.Series) -> pd.Series:
        return pd.Series(
            [
                None
                if rs is None
                else [{"re": rule_regex(r), "len": len(r)} for r in rs]
                for rs in rules
            ]
        )

    return conv


def with_robots_regexes(robots_rules: DataFrame) -> DataFrame:
    """robots_rules + precompiled allow_re/disallow_re rule structs."""
    conv = _rules_re_udf()
    return robots_rules.withColumn("disallow_re", conv("disallow")).withColumn(
        "allow_re", conv(F.col("allow") if "allow" in robots_rules.columns else F.lit(None).cast("array<string>"))
    )


def _best_match_len(path_col, rules_re_col):
    """max rule length over matching rules, -1 if none match — the REP
    longest-match score, evaluated JVM-side (regexp_like over the
    per-host precompiled patterns)."""
    return F.aggregate(
        F.coalesce(rules_re_col, F.array().cast(_RULES_RE_TYPE)),
        F.lit(-1),
        lambda acc, r: F.greatest(
            acc, F.when(F.regexp_like(path_col, r["re"]), r["len"]).otherwise(F.lit(-1))
        ),
    )


def robots_allowed(url_col, allow_re_col, disallow_re_col):
    """Full REP admission (the reference delegates this to Protego,
    src/harvester.py:405-410, applied per candidate URL at 1079-1083):
    the most specific (longest) matching rule wins and Allow wins
    length ties — so ``Disallow: /`` + ``Allow: /jobs/`` admits
    /jobs/..., and ``*``/``$`` wildcard rules apply. Mirrors
    sources.sitemap_xml.can_fetch exactly (path includes the query
    string, empty path is '/')."""
    path = F.parse_url(url_col, F.lit("PATH"))
    query = F.parse_url(url_col, F.lit("QUERY"))
    path = F.when(path.isNull() | (path == ""), F.lit("/")).otherwise(path)
    path = F.when(query.isNotNull(), F.concat(path, F.lit("?"), query)).otherwise(path)
    return _best_match_len(path, allow_re_col) >= _best_match_len(path, disallow_re_col)


@dataclass
class CrawlEngine:
    spark: SparkSession
    catalog: SnapshotCatalog
    seed_pages: DataFrame
    sitemap_entries: DataFrame
    robots_rules: DataFrame
    keywords: DataFrame
    round_duration: float = 60.0
    n_salt: int = 8
    store_payload: bool = True
    validate_payload: bool = True
    # in-page link discovery: stored pages' outlinks enter the frontier
    # at depth+1 with priority driven by the parent's keyword score
    # (north rule: "priority = depth/keyword-score analog of the
    # reference's per-page keyword matcher")
    follow_links: bool = True
    max_depth: int = 3
    # the real-HTTP insertion point (payload.make_fetch_parse_udf):
    # (image_id, w, h, fmt) -> bytes, partition-local; None = the
    # sandbox's deterministic synthetic fetch. A production deployment
    # passes a requests.Session-backed callable here (cookie jar,
    # referer, apparent_encoding re-decode — src/harvester.py:412-442).
    fetch_fn: object = None
    # every N rounds, rewrite the append-only tables (seen, bridge,
    # lineage) into one snapshot: each round's append adds a file set,
    # and a month-long crawl would otherwise read thousands of tiny
    # parquet footers per probe. Iceberg calls this
    # rewrite_data_files; 0 disables. pages is deliberately excluded —
    # its payload bytes make rewrites O(corpus), which is a scheduled
    # maintenance job at cluster scale, not a per-round side effect.
    compact_every: int = 16
    _matcher: object = field(default=None, repr=False)
    _bloom_bitmaps: dict | None = field(default=None, repr=False)
    _bloom_bc: object = field(default=None, repr=False)
    _id_base: dict | None = field(default=None, repr=False)
    # static per-engine sub-plans, built once instead of per round —
    # expression-tree construction is driver-serial py4j time that a
    # bigger cluster cannot shrink
    _corpus_sel: DataFrame | None = field(default=None, repr=False)
    _rules_by_host: DataFrame | None = field(default=None, repr=False)

    # ------------------------------------------------------------ tables
    def frontier(self) -> DataFrame:
        return self.catalog.read("frontier", schemas.FRONTIER)

    def seen(self) -> DataFrame:
        return self.catalog.read("seen", schemas.SEEN)

    def pages(self) -> DataFrame:
        return self.catalog.read("pages", schemas.PAGES)

    def bridge(self) -> DataFrame:
        # distinct: replays of a partially-committed round may re-append
        return self.catalog.read("bridge", schemas.BRIDGE).distinct()

    def lineage(self) -> DataFrame:
        # dropDuplicates: a crash after the lineage append but before
        # the frontier commit replays the round, re-appending the SAME
        # (round, host) rows (the round is deterministic given the
        # frontier snapshot) — dedup at read makes the replay a no-op,
        # mirroring bridge's distinct() read.
        return self.catalog.read("lineage", schemas.LINEAGE).dropDuplicates(
            ["round", "host"]
        )

    # --------------------------------------------------------- discovery
    def discover(self) -> DataFrame:
        """Walk the sitemap structure into the initial frontier.

        Reproduces: regex filtering of sitemap names per portal style
        (src/harvester.py:1135, 1250), skipping empty/whitespace <loc>
        entries (src/harvester.py:1303-1307), full REP robots admission
        (longest-match, Allow wins ties, * and $ wildcards — the
        Protego semantics of src/harvester.py:405-410 / 1079-1083; see
        robots_allowed), and first-occurrence dedup of URLs listed in
        several sitemaps (the reference's seen-set makes later
        occurrences no-ops).
        """
        style = F.regexp_extract(F.col("portal"), r"^([a-z]+)_", 1)
        eligible = (
            with_robots_regexes(self.robots_rules)
            .select(
                "portal", "disallow_re", "allow_re",
                F.explode("sitemap_urls").alias("sitemap_url"),
            )
            .withColumn("style", style)
            .filter(
                (
                    (F.col("style") == "stepstone")
                    & F.col("sitemap_url").rlike(STYLE_SITEMAP_FILTER["stepstone"])
                )
                | (
                    (F.col("style") == "karriere")
                    & F.col("sitemap_url").rlike(STYLE_SITEMAP_FILTER["karriere"])
                )
            )
        )

        entries = (
            self.sitemap_entries.join(
                F.broadcast(eligible), on=["portal", "sitemap_url"], how="inner"
            )
            .filter(F.col("url").isNotNull() & (F.trim(F.col("url")) != ""))
            .withColumn("url", F.trim(F.col("url")))
            .filter(robots_allowed(F.col("url"), F.col("allow_re"), F.col("disallow_re")))
        )

        # first-occurrence-wins dedup across sitemaps
        w = Window.partitionBy("url").orderBy("portal", "sitemap_seq", "loc_seq")
        entries = (
            entries.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn", "disallow_re", "allow_re", "style", "sitemap_url")
        )

        return (
            with_url_identity_native(entries)
            .withColumn("depth", F.lit(0))
            .withColumn("priority", F.lit(0))
            .withColumn("attempt", F.lit(0))
            .withColumn("retry_round", F.lit(0))
            .select(*[f.name for f in schemas.FRONTIER.fields])
        )

    def bootstrap(self) -> None:
        self.catalog.overwrite("frontier", self.discover(), properties={"round": 0})

    # ------------------------------------------------------------ rounds
    def current_round(self) -> int:
        return int(self.catalog.properties("frontier").get("round", 0))

    def _bitmaps(self) -> dict[int, bytes]:
        """Driver-held bloom bitmaps, lazily restored from the catalog
        snapshot (resume path)."""
        if self._bloom_bitmaps is None:
            if not self.catalog.exists("seen_bloom"):
                # fresh bootstrap: no snapshot to restore — skip the
                # Spark collect (an empty-DF job still costs ~1s of
                # driver-blocking serial time per run)
                self._bloom_bitmaps = {}
                return self._bloom_bitmaps
            rows = self.catalog.read("seen_bloom", seen_ops.BLOOM_SCHEMA).collect()
            self._bloom_bitmaps = {int(r["host_hash"]): bytes(r["bitmap"]) for r in rows}
        return self._bloom_bitmaps

    def _bloom_broadcast(self):
        """One live broadcast of the bitmap dict, reused across rounds and
        unpersisted whenever the bitmaps change (a fresh broadcast per
        round would accumulate executor copies unboundedly)."""
        if self._bloom_bc is None:
            self._bloom_bc = self.spark.sparkContext.broadcast(self._bitmaps())
        return self._bloom_bc

    def _invalidate_bloom_broadcast(self) -> None:
        if self._bloom_bc is not None:
            self._bloom_bc.unpersist(blocking=False)
            self._bloom_bc = None

    def _snapshot_blobs(self, blobs: dict[int, bytes]) -> None:
        """Persist driver-resident bloom bitmaps for resume — a pyarrow
        direct write (the bitmaps live on the driver already; a Spark
        job for 16 rows is seconds of serial overhead per round)."""
        import pyarrow as pa

        self.catalog.overwrite_arrow(
            "seen_bloom",
            pa.table(
                {
                    "host_hash": pa.array(list(blobs), type=pa.int32()),
                    "bitmap": pa.array(list(blobs.values()), type=pa.binary()),
                }
            ),
        )

    def _commit_bloom(self, new_seen) -> None:
        """Fold a round's stored fingerprints into the bloom sidecar.

        The per-round insert set is collected (16 B/row) and folded on
        the driver, then snapshotted for resume. The sidecar is at most
        N_HOST_BUCKETS x 16 KiB = 16 MiB, so it always fits the driver
        and one broadcast.
        """
        import numpy as np

        blobs = dict(self._bitmaps())
        # Arrow transfer + vectorized per-bucket fold: the per-Row
        # Python loop this replaces cost seconds per round at 10^5
        # inserts — pure driver serial time that does not shrink
        # with executors.
        pdf = new_seen.select("host_hash", "fp").toPandas()
        for hh, grp in pdf.groupby("host_hash"):
            blobs[int(hh)] = seen_ops.bloom_build(
                grp["fp"].to_numpy(dtype=np.int64), blobs.get(int(hh))
            )
        self._bloom_bitmaps = blobs
        self._invalidate_bloom_broadcast()
        self._snapshot_blobs(blobs)

    def _portal_id_bases(self) -> dict[str, int]:
        """Per-portal max stored id, held on the driver between rounds
        and restored from the pages snapshot on resume."""
        if self._id_base is None:
            if not self.catalog.exists("pages"):
                # fresh bootstrap: no ids to continue from — skip the
                # empty-table aggregate (a driver-blocking Spark job)
                self._id_base = {}
                return self._id_base
            rows = (
                self.pages().groupBy("portal").agg(F.max("id").alias("m")).collect()
            )
            self._id_base = {r["portal"]: int(r["m"]) for r in rows}
        return self._id_base

    def _keyword_matcher(self):
        if self._matcher is None:
            # harvest path matches caption with title_only=False
            # (src/harvester.py:368-385 passes title_only=False)
            self._matcher = make_keyword_matcher(
                keywords_as_rows(self.keywords), title_only=False
            )
        return self._matcher

    def run_round(self) -> dict:
        """Execute one scheduling round; returns round metrics."""
        timing = os.environ.get("SPARK_GRAFT_TIMING") == "1"
        marks: list[tuple[str, float]] = [("start", time.time())]

        def mark(label: str) -> None:
            marks.append((label, time.time()))

        r = self.current_round()
        frontier = self.frontier()
        seen = self.seen()
        mark("read")

        # The frontier holds only open work: rows whose retry backoff
        # reaches into the future are deferred as-is; the rest are this
        # round's candidates.
        eligible = frontier.filter(F.col("retry_round") <= F.lit(r))
        deferred = frontier.filter(F.col("retry_round") > F.lit(r))

        # Exact URL-seen anti-join (+ bloom prefilter). Seen rows leave
        # the frontier permanently — this also reconciles rows a crashed
        # run stored but never removed (harvest re-run semantics,
        # src/harvester.py:133-177).
        unseen = seen_ops.filter_unseen(
            eligible, seen, spark=self.spark, bloom_bc=self._bloom_broadcast()
        )
        admitted, leftover, admit_handle = politeness.admit_split(
            unseen, self.robots_rules, self.round_duration, self.n_salt
        )
        mark("admit")

        # ---- fetch: join the corpus (the synthetic web) on url.
        if self._corpus_sel is None:
            self._corpus_sel = self.seed_pages.select(
                "url",
                "image_id",
                F.col("w").alias("w"),
                F.col("h").alias("h"),
                "fmt",
                "caption",
                F.col("http_status"),
                "transient",
                F.col("phash").alias("expected_phash"),
                *(["outlinks"] if "outlinks" in self.seed_pages.columns else []),
            )
        corpus = self._corpus_sel
        fetched = admitted.join(corpus, on="url", how="left").withColumn(
            "transient", F.coalesce(F.col("transient"), F.lit(False))
        )
        routed = routing.route(routing.effective_status(fetched)).cache()

        # ---- stored pages: materialize payload, decode+validate, match.
        # The url anti-join against the pages table runs BEFORE id
        # assignment: a replayed half-round (crash between the pages
        # and seen commits) or a prefilter false negative re-admits
        # URLs the table already holds, and assigning ids first would
        # leave permanent per-portal id gaps plus bridge rows whose
        # page_id never exists. Filtering first keeps the id sequence
        # dense over the rows that actually land (the AUTOINCREMENT
        # contract) and makes the commit a plain append.
        # The payload stage is the widest data in the pipeline (bytes
        # per row), so parallelism is forced to the core budget here —
        # upstream stages are narrow and AQE rightly coalesces them,
        # which would otherwise starve the decode of executors.
        # stored is cached: the two-phase id assignment below consults
        # it twice (group counts + probe side) and caching keeps the
        # pages-url anti-join scan to one execution per round.
        stored = (
            routed.filter(F.col("outcome") == routing.OUT_STORE)
            .join(self.pages().select("url"), on="url", how="left_anti")
        ).cache()
        fetch_parse = make_fetch_parse_udf(
            store_bytes=self.store_payload,
            validate=self.validate_payload,
            fetch_fn=self.fetch_fn,
        )

        # per-portal dense id continuation (reference AUTOINCREMENT analog,
        # src/harvester.py:63-79): bases are maintained on the driver
        # (restored from the pages snapshot on resume) — no per-round
        # rescan of the pages table. Two-phase assignment (ids.py): the
        # old row_number() over partitionBy(portal) funneled every
        # stored row of a portal — payload bytes included — through one
        # task; now ids land on the NARROW pre-decode relation with no
        # per-portal single-task sort, and the decode runs after, at
        # full core budget, with the bytes never crossing a shuffle.
        bases = self._portal_id_bases()
        mark("bases")
        payload = (
            with_dense_ids(
                stored,
                group_col="portal",
                rank_col="admit_rank",
                tiebreak_col="url",
                bases=bases,
            )
            .repartition(self.spark.sparkContext.defaultParallelism, "fp")
            .withColumn("parsed", fetch_parse("image_id", "w", "h", "fmt"))
        )
        new_pages = (
            payload
            .select(
                "id",
                "portal",
                "url",
                "fp",
                F.col("status").alias("http_status"),
                "image_id",
                F.col("parsed.bytes").alias("bytes"),
                "w",
                "h",
                "fmt",
                "caption",
                F.col("parsed.phash").alias("phash"),
                F.lit(r).cast("int").alias("round"),
                "attempt",
                F.lit(None).cast("string").alias("filename"),
            )
        ).cache()

        matcher = self._keyword_matcher()
        mark("matcher")
        new_bridge = (
            new_pages.withColumn(
                "matched",
                matcher(
                    F.col("caption"),
                    F.lit(None).cast("string"),
                    F.lit(None).cast("string"),
                ),
            )
            .select("portal", F.col("id").alias("page_id"), F.explode("matched").alias("keyword_id"))
            .select("keyword_id", "page_id", "portal")
        )

        # host_hash rides through from the admitted frontier rows, so
        # seen/bloom bucketing matches the politeness partitioning
        # exactly — no re-join against the frontier, no recompute of
        # the (uncached, payload-wide) decode chain.
        new_seen = (
            routed.filter(F.col("outcome") == routing.OUT_STORE)
            .select("fp", "url", "host_hash", F.lit(r).cast("int").alias("first_round"))
        )

        # ---- lineage metrics per host (the ads/min log analog,
        # src/harvester.py:318-326, as queryable rows).
        lineage = routed.groupBy("host").agg(
            F.lit(r).cast("int").alias("round"),
            F.count("*").alias("scheduled"),
            F.sum(F.when(F.col("status").isNotNull(), 1).otherwise(0)).alias("fetched"),
            F.sum(F.when(F.col("outcome") == routing.OUT_STORE, 1).otherwise(0)).alias("stored"),
            F.sum(F.when(F.col("outcome") == routing.OUT_RETRY, 1).otherwise(0)).alias("retried"),
            F.sum(F.when(F.col("outcome") == routing.OUT_DROP, 1).otherwise(0)).alias("dropped"),
            F.sum(F.when(F.col("status") != 200, 1).otherwise(0)).alias("errors"),
        ).select(*[f.name for f in schemas.LINEAGE.fields])

        # ---- next frontier = deferred retries + politeness leftover +
        # this round's 5xx-retry re-entries. Stored, dropped, and
        # seen-reconciled rows simply leave — no O(frontier) join, and
        # the snapshot write is O(open work).
        fcols = [f.name for f in schemas.FRONTIER.fields]
        retries = (
            routing.with_retry_round(
                routed.filter(F.col("outcome") == routing.OUT_RETRY),
                r,
                self.round_duration,
            )
            .withColumn("attempt", (F.col("attempt") + 1).cast("int"))
            .select(*fcols)
        )
        new_frontier = (
            deferred.select(*fcols)
            .unionByName(leftover.select(*fcols))
            .unionByName(retries)
        )

        # ---- in-page link discovery (north-rule priority queue):
        # stored pages' outlinks become depth+1 frontier rows, ordered
        # ahead of their peers when the discovering page matched more
        # keywords — the keyword-score analog of src/keyword_manager.py
        # as the priority signal. BFS across depths (priority grows
        # with depth), keyword-rich parents first within a depth.
        if self.follow_links and "outlinks" in routed.columns:
            matcher = self._keyword_matcher()
            parents = (
                routed.filter(
                    (F.col("outcome") == routing.OUT_STORE)
                    & (F.col("depth") < self.max_depth)
                    & (F.size(F.coalesce(F.col("outlinks"), F.array())) > 0)
                )
                .withColumn(
                    "kscore",
                    F.size(
                        matcher(
                            F.col("caption"),
                            F.lit(None).cast("string"),
                            F.lit(None).cast("string"),
                        )
                    ),
                )
            )
            children = (
                parents.select(
                    F.explode("outlinks").alias("url"),
                    "portal",
                    (F.col("depth") + 1).cast("int").alias("depth"),
                    (
                        (F.col("depth") + 1) * 1000 - F.least(F.col("kscore"), F.lit(999))
                    ).cast("int").alias("priority"),
                )
                # multiple parents may discover the same url: the
                # best-(priority, depth, portal) parent wins as ONE
                # struct min — deterministic even when parents from
                # different portals tie on priority (F.first here would
                # pick per partition order, a nondeterminism trap)
                .groupBy("url")
                .agg(F.min(F.struct("priority", "depth", "portal")).alias("_best"))
                .select(
                    "url",
                    F.col("_best.priority").alias("priority"),
                    F.col("_best.depth").alias("depth"),
                    F.col("_best.portal").alias("portal"),
                )
            )
            # discovered outlinks go through the same full REP robots
            # admission as sitemap entries (the reference evaluates
            # can_fetch per candidate link, src/harvester.py:1079-1083);
            # hosts without a robots entry are allowed (left join ->
            # null rule arrays -> no rule matches)
            if self._rules_by_host is None:
                self._rules_by_host = with_robots_regexes(self.robots_rules).select(
                    "host", "allow_re", "disallow_re"
                )
            rules_by_host = self._rules_by_host
            children = (
                with_url_identity_native(children)
                .join(F.broadcast(rules_by_host), on="host", how="left")
                .filter(
                    robots_allowed(F.col("url"), F.col("allow_re"), F.col("disallow_re"))
                )
                .withColumn("sitemap_seq", F.lit(0))
                .withColumn("loc_seq", F.lit(0))
                .withColumn("attempt", F.lit(0))
                .withColumn("retry_round", F.lit(r + 1).cast("int"))
                .select(*fcols)
                # not already pending and not already harvested
                .join(new_frontier.select("url"), on="url", how="left_anti")
                .join(seen.select("url"), on="url", how="left_anti")
                .select(*fcols)
            )
            new_frontier = new_frontier.unionByName(children)

        # ---- commit (order: bridge, then pages->seen->bloom with
        # lineage overlapped on a second thread, frontier last;
        # the pre-id url anti-join above makes a replayed half-round
        # idempotent, so pages is a plain append of guaranteed-new rows).
        # bridge MUST precede pages: a crash between the two then leaves
        # bridge rows whose pages arrive on replay with identical ids
        # (the round is deterministic given the frontier snapshot), and
        # the re-appended duplicates collapse in the distinct() read.
        # The reverse order would lose bridge rows silently — the replay's
        # url anti-join empties `stored`, so the already-committed pages
        # would permanently get no keyword matches.
        mark("plan")

        # The strict chain continues pages -> seen -> bloom (a crash
        # between seen and pages would orphan seen urls whose pages
        # never land — the frontier replay's seen anti-join drops them
        # forever). Lineage is OUTSIDE the chain: it derives from the
        # (now cached) routed relation, the round is deterministic
        # given the frontier snapshot, and the lineage() reader dedups
        # on (round, host) — so a replayed append is a no-op at read
        # time regardless of where in the chain the crash fell. That
        # independence lets the lineage collect+append overlap the
        # pages/seen/bloom commits: each commit is mostly fixed
        # driver/job overhead, pure serial time at any cluster size,
        # and running the two legs on concurrent threads removes one
        # leg's overhead from the round's critical path.
        import pyarrow as pa

        from crawler_spark.storage import spark_schema_to_arrow

        def _commit_pages_seen_bloom() -> None:
            # bridge heads this thread's chain (NOT a separate pool
            # task): the crash-ordering invariant is bridge-before-
            # pages, which a single thread preserves for free, while
            # the append itself overlaps the lineage collect and the
            # frontier stage running on the other two threads.
            self.catalog.append("bridge", new_bridge)
            mark("bridge")
            self.catalog.append("pages", new_pages)
            mark("pages")
            # merge_insert (not append): a crashed run that committed
            # seen but not the frontier replays the whole round — the
            # url-keyed merge makes the replayed insert a no-op instead
            # of doubling seen rows.
            self.catalog.merge_insert("seen", new_seen, key="url", schema=schemas.SEEN)
            mark("seen")
            self._commit_bloom(new_seen)
            mark("bloom")

        def _commit_lineage() -> pd.DataFrame:
            # lineage is O(hosts) rows: ONE Arrow collect feeds both
            # the commit (driver-direct parquet append — a Spark write
            # job for 16 rows is fixed serial time per round) and the
            # round metrics (which previously ran their own
            # groupBy(outcome) job).
            pdf = lineage.toPandas()
            self.catalog.append_arrow(
                "lineage",
                pa.Table.from_pandas(
                    pdf,
                    schema=spark_schema_to_arrow(schemas.LINEAGE),
                    preserve_index=False,
                ),
            )
            return pdf

        from concurrent.futures import ThreadPoolExecutor

        # The frontier overwrite's WRITE JOB is independent of the
        # chain (new_frontier's plan captures the round-r snapshots;
        # appends never delete old files), so it runs on a third
        # thread — but its manifest POINTER SWAP stays last: a crash
        # with the new frontier staged but the chain incomplete still
        # replays the whole round from the old frontier snapshot.
        with ThreadPoolExecutor(max_workers=3) as pool:
            chain_fut = pool.submit(_commit_pages_seen_bloom)
            lin_fut = pool.submit(_commit_lineage)
            frontier_fut = pool.submit(
                self.catalog.stage_overwrite, "frontier", new_frontier
            )
            chain_fut.result()
            lin_pdf = lin_fut.result()
            staged_frontier = frontier_fut.result()
        mark("lineage")
        self.catalog.commit_staged_overwrite(
            "frontier", staged_frontier, properties={"round": r + 1}
        )
        mark("frontier")
        if self.compact_every and (r + 1) % self.compact_every == 0:
            for tbl, schema in (
                ("seen", schemas.SEEN),
                ("bridge", schemas.BRIDGE),
                ("lineage", schemas.LINEAGE),
            ):
                self.catalog.compact(tbl, schema)
            mark("compact")

        counts: dict[str, int] = {
            routing.OUT_STORE: int(lin_pdf["stored"].sum()),
            routing.OUT_RETRY: int(lin_pdf["retried"].sum()),
            routing.OUT_DROP: int(lin_pdf["dropped"].sum()),
        }
        n_scheduled = int(lin_pdf["scheduled"].sum())
        # Advance id bases by the rows that actually landed (new_pages
        # is post-anti-join and cached): counting routed OUT_STORE rows
        # here would drift the bases whenever the url guard drops a
        # re-admitted duplicate, permanently gapping the id sequence.
        inserted = new_pages.groupBy("portal").agg(F.count("*").alias("n")).collect()
        bases = self._portal_id_bases()
        n_inserted = 0
        for row in inserted:
            bases[row["portal"]] = bases.get(row["portal"], 0) + row["n"]
            n_inserted += row["n"]
        counts[routing.OUT_STORE] = n_inserted
        mark("counts")
        spans = {
            label: round(t1 - t0, 2)
            for (_, t0), (label, t1) in zip(marks, marks[1:])
        }
        if timing:
            printable = ", ".join(f"{k}={v:.1f}s" for k, v in spans.items())
            print(f"[round {r}] {printable}")
        if admit_handle is not None:
            admit_handle.unpersist()
        routed.unpersist()
        stored.unpersist()
        new_pages.unpersist()
        return {
            "round": r,
            "scheduled": n_scheduled,
            "stored": counts.get(routing.OUT_STORE, 0),
            "retried": counts.get(routing.OUT_RETRY, 0),
            "dropped": counts.get(routing.OUT_DROP, 0),
            "spans": spans,
        }

    def expire_seen(self, urls, drop_pages: bool = True) -> int:
        """Forget URLs so a later (re-)bootstrap fetches them again.

        The re-crawl path the reference lacks (its URL dedup is
        permanent, src/harvester.py:133-166). Removes the URLs from
        the seen table; bloom bits cannot be cleared, so the AFFECTED
        sidecar buckets rebuild partition-side from the remaining seen
        rows (untouched buckets keep their bitmaps). ``drop_pages``
        also removes the stored rows AND their bridge rows (keyword
        counts over the bridge must not keep counting a dropped id,
        and the re-crawled copy gets a fresh id with fresh matches —
        append order, like a fresh harvest).

        With ``drop_pages=False`` the page row is intentionally kept
        authoritative: the re-fetch is admitted (lineage/metrics see
        it) but the url-guarded pages append discards the duplicate
        row, so content is NOT refreshed and no bridge rows double up.
        Use drop_pages=True when the point of the re-crawl is fresh
        content.

        ``urls``: DataFrame with a ``url`` column, or list of strings.
        Returns the number of URLs actually expired.
        """
        if not isinstance(urls, DataFrame):
            urls = self.spark.createDataFrame([(u,) for u in urls], "url string")
        urls = urls.select("url").distinct()

        seen = self.seen()
        expired = seen.join(urls, on="url", how="left_semi").select(
            "url", "fp", "host_hash"
        )
        rows = expired.collect()
        if not rows:
            return 0
        self.catalog.overwrite(
            "seen", seen.join(urls, on="url", how="left_anti")
        )
        # rebuild ONLY the buckets that lost fingerprints,
        # partition-side (groupBy(host_hash).applyInPandas over the
        # remaining rows of those hosts) — never a driver
        # materialization of the seen table. A bucket whose every url
        # expired simply vanishes from the sidecar; the prefilter
        # treats a missing bucket as definitely unseen, which is exact
        # because no seen row remains in it.
        affected = self.spark.createDataFrame(
            [(int(h),) for h in {int(r["host_hash"]) for r in rows}],
            "host_hash int",
        )
        sidecar = self.catalog.read("seen_bloom", seen_ops.BLOOM_SCHEMA)
        kept = sidecar.join(F.broadcast(affected), on="host_hash", how="left_anti")
        rebuilt = seen_ops.build_blooms(
            self.seen().join(F.broadcast(affected), on="host_hash", how="left_semi")
        )
        self._bloom_bitmaps = None
        self._invalidate_bloom_broadcast()
        self.catalog.overwrite("seen_bloom", kept.unionByName(rebuilt))
        if drop_pages:
            pages = self.pages()
            # bridge rows keyed by the dropped ids must go with them:
            # keyword counts over the bridge would otherwise keep
            # counting the dropped copy AND the re-crawled one.
            dropped_ids = pages.join(urls, on="url", how="left_semi").select(
                F.col("id").alias("page_id"), "portal"
            )
            bridge = self.catalog.read("bridge", schemas.BRIDGE)
            self.catalog.overwrite(
                "bridge",
                bridge.join(dropped_ids, on=["page_id", "portal"], how="left_anti"),
            )
            self.catalog.overwrite(
                "pages", pages.join(urls, on="url", how="left_anti")
            )
            self._id_base = None  # bases changed; recompute from the table
        return len(rows)

    def pending_count(self) -> int:
        """Open work remaining (the frontier holds only pending rows)."""
        return self.frontier().count()

    def run(self, max_rounds: int = 1000) -> list[dict]:
        """Run rounds until the frontier drains (or max_rounds).

        Each iteration starts with one cheap two-column aggregate over
        the frontier snapshot (O(open work), parquet-pruned to
        ``retry_round``): drained -> stop WITHOUT paying a full
        round's plan+commit machinery for zero rows; every pending row
        a future retry -> fast-forward the scheduler clock straight to
        the earliest retry_round with a metadata-only manifest commit
        (the reference's harvester sleeps this interval,
        src/harvester.py:420-434 — burning a no-op snapshot cycle per
        simulated round would be pure serial overhead at any scale).
        """
        metrics = []
        for _ in range(max_rounds):
            probe = self.frontier().agg(
                F.count("*").alias("n"), F.min("retry_round").alias("next_r")
            ).first()
            if int(probe["n"]) == 0:
                break
            r = self.current_round()
            if probe["next_r"] is not None and int(probe["next_r"]) > r:
                self.catalog.set_properties(
                    "frontier", {"round": int(probe["next_r"])}
                )
                continue
            metrics.append(self.run_round())
        return metrics
