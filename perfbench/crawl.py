"""Crawl workloads: inputs from a seed, one measured crawl per rep, output
checks, and the per-layer replay of a round.

A rep is a batch job driven as a closed loop from this process: build a
fresh warehouse, ``bootstrap()``, then ``run()`` until the frontier is
drained. Nothing else runs against the session meanwhile.
"""

from __future__ import annotations

import re
import shutil
import time
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pandas as pd

from common import CheckFailed, median, process_tree, tree_cpu_s
from spans import Tracer, force, stage_delta, stage_totals

N_SALT = 8
MAX_DEPTH = 3  # CrawlEngine.max_depth: links are followed from pages above this depth
STYLE_FILTER = {"stepstone": r".*listings-[0-9]+.*", "karriere": r".*sitemap-jobs.*"}


@dataclass(frozen=True)
class CrawlSpec:
    name: str
    n_pages: int
    img_size: int
    holdout_frac: float = 0.0  # > 0: bootstrap again over a warehouse that has the rest
    # politeness and faults; the defaults give a clean corpus that drains in one round
    round_duration: float = 3600.0
    rpms: tuple[int, ...] = (360000, 72000, 36000)
    robots_delay_every: int = 0
    fault_frac: float = 0.0
    deep_frac: float = 0.0

    def corpus(self, seed: int) -> dict[str, pd.DataFrame]:
        from crawler_spark.sources.synth import gen_corpus

        return gen_corpus(
            n_pages=self.n_pages,
            n_hosts=16,
            urlset_size=100,
            seed=seed,
            with_phash=False,
            rpms=self.rpms,
            img_sizes=(self.img_size,),
            fault_frac=self.fault_frac,
            robots_delay_every=self.robots_delay_every,
            deep_frac=self.deep_frac,
        )


COLD = CrawlSpec("cold_crawl", n_pages=5000, img_size=256)
RECRAWL = CrawlSpec("recrawl", n_pages=2000, img_size=32, holdout_frac=0.1)
# the generator's default rpm budgets (6000, 12, 2), a robots Crawl-delay
# on every fourth host and its 404/410/5xx/transient fault mix
POLITE = CrawlSpec(
    "polite_crawl", n_pages=2000, img_size=32, round_duration=600.0, rpms=(6000, 12, 2),
    robots_delay_every=4, fault_frac=1.0, deep_frac=0.1,
)
SPECS = {s.name: s for s in (COLD, RECRAWL, POLITE)}


# ------------------------------------------------------------ expectations
def discovered_urls(c: dict[str, pd.DataFrame]) -> pd.DataFrame:
    """The frontier ``discover()`` must build, derived in pandas: entries of
    the portal's own sitemaps, non-blank, robots-allowed, first occurrence."""
    from crawler_spark.sources.sitemap_xml import RobotsRules, can_fetch

    rb = c["robots_rules"].set_index("portal")
    se = c["sitemap_entries"].dropna(subset=["url"]).copy()
    se["url"] = se["url"].str.strip()
    se = se[se["url"] != ""]
    style = se["portal"].str.extract(r"^([a-z]+)_", expand=False)
    ok = [
        bool(re.fullmatch(STYLE_FILTER.get(st, r"(?!)"), sm)) and sm in rb.loc[p, "sitemap_urls"]
        for p, st, sm in zip(se["portal"], style, se["sitemap_url"])
    ]
    se = se[ok]
    rules = {
        p: RobotsRules(disallow=list(r["disallow"]), allow=list(r["allow"]))
        for p, r in rb.iterrows()
    }
    se = se[[can_fetch(rules[p], u) for p, u in zip(se["portal"], se["url"])]]
    return se.sort_values(["portal", "sitemap_seq", "loc_seq"]).drop_duplicates("url")


def storable(c: dict[str, pd.DataFrame], urls: pd.Series) -> set[str]:
    """The URLs among ``urls`` that end as pages, plus the deep pages their
    links reach: status 200, or transient (a 5xx that succeeds on retry);
    links are followed from stored pages above ``MAX_DEPTH`` when robots
    allow the target."""
    from crawler_spark.sources.sitemap_xml import RobotsRules, can_fetch

    sp = c["seed_pages"].set_index("url")
    ok = (sp["http_status"] == 200) | sp["transient"]
    rules = {
        h: RobotsRules(disallow=list(r["disallow"]), allow=list(r["allow"]))
        for h, r in c["robots_rules"].set_index("host").iterrows()
    }
    level = {u for u in urls if u in ok.index and ok[u]}
    stored = set(level)
    for _ in range(MAX_DEPTH):
        nxt = set()
        for u in level:
            for v in sp.at[u, "outlinks"]:
                if v not in stored and ok[v] and can_fetch(rules[sp.at[v, "host"]], v):
                    nxt.add(v)
        stored |= nxt
        level = nxt
    return stored


def hold_out(c: dict[str, pd.DataFrame], frac: float, seed: int):
    """Split the sitemap into the part crawled first and the held-out URLs."""
    urls = c["seed_pages"]["url"].to_numpy()
    rng = np.random.Generator(np.random.PCG64(seed + 7919))
    held = set(rng.choice(urls, size=int(len(urls) * frac), replace=False))
    prior = dict(c)
    se = c["sitemap_entries"]
    prior["sitemap_entries"] = se[~se["url"].isin(held)].reset_index(drop=True)
    return prior, held


def keyword_count(captions: list[str | None], keywords: pd.DataFrame) -> int:
    pats = [
        re.compile(s, 0 if cs else re.IGNORECASE)
        for s, cs in zip(keywords["search"], keywords["case_sensitive"])
    ]
    return sum(1 for t in captions if t for p in pats if p.search(t))


def dir_usage(path: Path) -> tuple[int, int]:
    n = b = 0
    for p in path.rglob("*"):
        if p.is_file():
            n += 1
            b += p.stat().st_size
    return b, n


def _expect(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


# ------------------------------------------------------------ round chain
LAYERS = ["seen.filter_unseen", "politeness.admit", "routing.route", "ids.dense_ids", "payload.fetch_parse", "keywords.bridge"]


class RoundChain:
    """The lazy chain of a round, rebuilt from a warehouse snapshot by
    calling each layer's public function in the order ``run_round`` does."""

    def __init__(self, spark, wh: Path, dfs: dict, round_duration: float):
        from pyspark.sql import functions as F

        from crawler_spark.functions.keywords import keywords_as_rows, make_keyword_matcher
        from crawler_spark.functions.payload import make_fetch_parse_udf
        from crawler_spark.storage import SnapshotCatalog

        self.spark, self.dfs, self.round_duration = spark, dfs, round_duration
        self.cat = cat = SnapshotCatalog(spark, str(wh))
        self.round = int(cat.properties("frontier").get("round", 0))
        self.corpus = dfs["seed_pages"].select(
            "url", "image_id", "w", "h", "fmt", "caption", "http_status", "transient",
            F.col("phash").alias("expected_phash"), "outlinks",
        )
        self.bitmaps = (
            {int(x["host_hash"]): bytes(x["bitmap"]) for x in cat.read("seen_bloom").collect()}
            if cat.exists("seen_bloom")
            else {}
        )
        self.bases = (
            {x["portal"]: int(x["m"]) for x in cat.read("pages").groupBy("portal").agg(F.max("id").alias("m")).collect()}
            if cat.exists("pages")
            else {}
        )
        self.bc = spark.sparkContext.broadcast(self.bitmaps)
        self.fetch_parse = make_fetch_parse_udf(store_bytes=False, validate=False)
        self.matcher = make_keyword_matcher(keywords_as_rows(dfs["keywords"]), title_only=False)
        self.handles = []

    def prefix(self, depth: int):
        """The chain through layer ``depth`` (1-based, see LAYERS) and its parts."""
        from pyspark.sql import functions as F

        from crawler_spark import schemas
        from crawler_spark.operators import politeness, routing
        from crawler_spark.operators import seen as seen_ops
        from crawler_spark.operators.ids import with_dense_ids

        cat, spark = self.cat, self.spark
        frontier = cat.read("frontier", schemas.FRONTIER)
        eligible = frontier.filter(F.col("retry_round") <= F.lit(self.round))
        unseen = seen_ops.filter_unseen(eligible, cat.read("seen", schemas.SEEN), spark=spark, bloom_bc=self.bc)
        out = {"eligible": eligible, "unseen": unseen}
        if depth < 2:
            return unseen, out
        admitted, leftover, h = politeness.admit_split(unseen, self.dfs["robots_rules"], self.round_duration, N_SALT)
        self.handles.append(h)
        out.update(admitted=admitted, leftover=leftover)
        if depth < 3:
            return admitted, out
        fetched = admitted.join(self.corpus, on="url", how="left").withColumn(
            "transient", F.coalesce(F.col("transient"), F.lit(False))
        )
        routed = out["routed"] = routing.route(routing.effective_status(fetched))
        if depth < 4:
            return routed, out
        pages_urls = cat.read("pages", schemas.PAGES).select("url")
        stored = out["stored"] = routed.filter(F.col("outcome") == routing.OUT_STORE).join(pages_urls, on="url", how="left_anti")
        ided = with_dense_ids(stored, group_col="portal", rank_col="admit_rank", tiebreak_col="url", bases=self.bases)
        if depth < 5:
            return ided, out
        new_pages = out["new_pages"] = (
            ided.repartition(spark.sparkContext.defaultParallelism, "fp")
            .withColumn("parsed", self.fetch_parse("image_id", "w", "h", "fmt"))
            .select("id", "portal", "caption", F.col("parsed.phash").alias("phash"))
        )
        if depth < 6:
            return new_pages, out
        # phash rides along so column pruning cannot drop the payload UDF
        bridge = out["bridge"] = new_pages.select(
            "phash",
            F.explode(self.matcher(F.col("caption"), F.lit(None).cast("string"), F.lit(None).cast("string"))).alias("k"),
        )
        return bridge, out

    def release(self) -> None:
        """Drop the politeness cache of the last prefix, so the next starts cold."""
        while self.handles:
            h = self.handles.pop()
            if h is not None:
                h.unpersist()

    def close(self) -> None:
        self.release()
        self.bc.unpersist(blocking=True)


# -------------------------------------------------------------- workload
class CrawlWorkload:
    def __init__(self, spec: CrawlSpec, spark, seed: int, work: Path, sampler):
        self.spec, self.spark, self.seed, self.work, self.sampler = spec, spark, seed, work, sampler

    # ---------------------------------------------------------- set-up
    def _load(self, pdfs: dict[str, pd.DataFrame]) -> dict:
        from crawler_spark.sources.synth import corpus_to_spark

        dfs = corpus_to_spark(self.spark, pdfs)
        for df in dfs.values():  # input generation is not billed to the engine
            df.cache()
            df.count()
        return dfs

    def _engine(self, wh: Path, dfs: dict):
        from crawler_spark.operators.frontier import CrawlEngine
        from crawler_spark.storage import SnapshotCatalog

        return CrawlEngine(
            spark=self.spark,
            catalog=SnapshotCatalog(self.spark, str(wh)),
            seed_pages=dfs["seed_pages"],
            sitemap_entries=dfs["sitemap_entries"],
            robots_rules=dfs["robots_rules"],
            keywords=dfs["keywords"],
            round_duration=self.spec.round_duration,
            store_payload=False,
            validate_payload=False,
        )

    def prepare(self) -> None:
        """One-time set-up before the first rep, counted once in ``setup_s``.

        Re-crawl: crawl the corpus minus the held-out URLs into a warehouse
        that every rep then copies; that crawl also warms the session. The
        other crawls have no set-up crawl: their first rep runs in the fresh
        session and pays the JIT and Python-worker start, as a crawl started
        in a new process does.
        """
        self.held, self.prior_urls = set(), set()
        if not self.spec.holdout_frac:
            return
        prior, self.held = hold_out(self.spec.corpus(self.seed), self.spec.holdout_frac, self.seed)
        dfs = self._load(prior)
        eng = self._engine(self.work / "prepared", dfs)
        eng.bootstrap()
        eng.run(max_rounds=100)
        self.prior_urls = {r[0] for r in eng.pages().select("url").collect()}
        for df in dfs.values():
            df.unpersist()

    def setup(self, rep: int) -> dict:
        """Everything a rep needs before ``bootstrap()``; timed as set-up."""
        t = time.perf_counter()
        pdfs = self.spec.corpus(self.seed)
        gen_s = time.perf_counter() - t
        wh = self.work / f"wh-{rep}"
        if self.spec.holdout_frac:
            shutil.copytree(self.work / "prepared", wh)
        state = {"pdfs": pdfs, "wh": wh, "gen_s": gen_s, "prior_urls": self.prior_urls, "held": self.held}
        state["dfs"] = self._load(pdfs)
        return state

    # ---------------------------------------------------------- measure
    def measure(self, state: dict, tracer: Tracer | None = None, snapshot: Path | None = None) -> dict:
        eng = self._engine(state["wh"], state["dfs"])
        rounds: list[float] = []
        if tracer is not None:
            tracer.wrap(eng, "bootstrap", "frontier.bootstrap")
            tracer.wrap(eng, "run", "frontier.run")
            tracer.wrap(eng, "run_round", "frontier.run_round")
        inner = eng.run_round

        def timed_round():
            if snapshot is not None and not rounds and not snapshot.exists():
                shutil.copytree(state["wh"], snapshot)  # start-of-round-0 warehouse
            t = time.perf_counter()
            out = inner()
            rounds.append(time.perf_counter() - t)
            return out

        eng.run_round = timed_round
        bytes0, files0 = dir_usage(state["wh"])
        pids = process_tree()
        cpu0 = tree_cpu_s(pids)
        self.sampler.mark()
        t0 = time.perf_counter()
        eng.bootstrap()
        eng.run(max_rounds=100)
        wall = time.perf_counter() - t0
        cpu = tree_cpu_s(process_tree()) - cpu0
        peak = self.sampler.peak_mb()
        if tracer is not None:
            tracer.unwrap_all()
        state["engine"] = eng
        bytes1, files1 = dir_usage(state["wh"])
        urls = {r[0] for r in eng.pages().select("url").collect()}
        new_pages = len(urls - state["prior_urls"])
        # sitemap URLs (fetched, or skipped as seen) plus the linked pages fetched
        resolved = len(urls | set(discovered_urls(state["pdfs"])["url"]))
        return {
            "wall_s": wall,
            "cpu_s": cpu,
            "peak_pss_mb": peak,
            "rounds": rounds,
            "resolved": resolved,
            "new_pages": new_pages,
            "bytes_written": bytes1 - bytes0,
            "files_written": files1 - files0,
        }

    # ----------------------------------------------------------- checks
    def check(self, state: dict) -> dict:
        """Output checks; raise CheckFailed. Returns the failure counts."""
        from crawler_spark.functions.payload import phash64, pixels_for

        eng, pdfs = state["engine"], state["pdfs"]
        _expect(eng.pending_count() == 0, "frontier not drained")
        pages = eng.pages().select("portal", "id", "url", "image_id", "w", "h", "phash", "caption").toPandas()
        n_seen = eng.seen().count()
        _expect(len(pages) == n_seen, f"pages {len(pages)} != seen {n_seen}")
        _expect(pages["url"].is_unique, "duplicate pages")
        sitemap_urls = discovered_urls(pdfs)["url"]
        expected = storable(pdfs, sitemap_urls)
        _expect(set(pages["url"]) == expected, "stored URL set differs from the corpus derivation")
        if self.spec.holdout_frac:
            added = set(pages["url"]) - state["prior_urls"]
            _expect(added == (expected & state["held"]), "re-crawl did not store exactly the held-out URLs")
        for portal, ids in pages.groupby("portal")["id"]:
            _expect(sorted(ids) == list(range(1, len(ids) + 1)), f"ids of {portal} are not dense")
        new = pages[~pages["url"].isin(state["prior_urls"])]
        null_phash = int(new["phash"].isna().sum())
        sample = pages.dropna(subset=["phash"]).sample(n=min(32, len(pages)), random_state=self.seed)
        for iid, w, h, ph in zip(sample["image_id"], sample["w"], sample["h"], sample["phash"]):
            _expect(phash64(pixels_for(iid, int(w), int(h))) == int(ph), f"phash of {iid} differs")
        n_bridge = eng.bridge().count()
        want = keyword_count(pages["caption"].tolist(), pdfs["keywords"])
        _expect(n_bridge == want, f"bridge rows {n_bridge} != regex count {want}")
        failed_tasks = stage_totals(self.spark)["failed_tasks"]
        return {
            "null_phash": null_phash,
            "failed_tasks": int(failed_tasks),
            "children_rows": int((~pages["url"].isin(sitemap_urls)).sum()),
            "new_bridge_rows": keyword_count(new["caption"].tolist(), pdfs["keywords"]),
        }

    def teardown(self, state: dict) -> None:
        for df in state["dfs"].values():
            df.unpersist()
        shutil.rmtree(state["wh"], ignore_errors=True)

    # ------------------------------------------------------------ replay
    def replay(self, state: dict, snap: Path) -> dict:
        """Re-run round 0 layer by layer from its start-of-round warehouse.

        Each prefix of the round's lazy chain is built afresh and forced
        with a ``noop`` write; a layer's self time is the difference
        between successive prefixes. Returns per-layer numbers and the
        Spark task metrics of each forced prefix.
        """
        from pyspark.sql import functions as F

        from crawler_spark.operators import routing
        from crawler_spark.operators import seen as seen_ops

        spark = self.spark
        chain = RoundChain(spark, snap, state["dfs"], self.spec.round_duration)
        prefix_s, per_call = [], {}
        eng = self._engine(snap, state["dfs"])
        s0 = stage_totals(spark)
        t = time.perf_counter()
        force(eng.discover())
        discover_s = time.perf_counter() - t
        per_call["frontier.discover"] = stage_delta(s0, stage_totals(spark))
        for depth, name in enumerate(LAYERS, start=1):
            df, _ = chain.prefix(depth)
            s0 = stage_totals(spark)
            t = time.perf_counter()
            force(df)
            prefix_s.append(time.perf_counter() - t)
            per_call[name] = stage_delta(s0, stage_totals(spark))
            chain.release()
        self_s = {name: prefix_s[i] - (prefix_s[i - 1] if i else 0.0) for i, name in enumerate(LAYERS)}

        # counts at the layer boundaries before the payload (untimed); the
        # payload and bridge counts come from the checked warehouse
        _, out = chain.prefix(len(LAYERS))
        cached = [out[k].cache() for k in ("unseen", "routed")]
        counts = {
            "frontier.discover_rows": eng.discover().count(),
            "seen.rows_in": out["eligible"].count(),
            "seen.rows_out": out["unseen"].count(),
            "politeness.admitted": out["admitted"].count(),
            "politeness.leftover": out["leftover"].count(),
        }
        outcomes = {row["outcome"]: row["n"] for row in out["routed"].groupBy("outcome").agg(F.count("*").alias("n")).collect()}
        counts.update({f"routing.{k}": int(outcomes.get(v, 0)) for k, v in (("store", routing.OUT_STORE), ("retry", routing.OUT_RETRY), ("drop", routing.OUT_DROP))})
        definite, _maybe = seen_ops.prefilter_unseen_broadcast(out["eligible"], None, spark, bc=chain.bc)
        n_definite = definite.count()
        counts["seen.prefilter_definite_frac"] = n_definite / counts["seen.rows_out"] if counts["seen.rows_out"] else 0.0
        # the driver-side bloom fold of this round's inserts, as _commit_bloom does it
        ins = out["stored"].select("host_hash", "fp").toPandas()
        for df in cached:
            df.unpersist()
        chain.close()
        t = time.perf_counter()
        for hh, grp in ins.groupby("host_hash"):
            seen_ops.bloom_build(grp["fp"].to_numpy(dtype=np.int64), chain.bitmaps.get(int(hh)))
        counts["seen.bloom_build_s"] = time.perf_counter() - t
        return {"discover_s": discover_s, "self_s": self_s, "counts": counts, "per_call": per_call}

    # ---------------------------------------------------------- summary
    @staticmethod
    def summarize(reps: list[dict]) -> dict:
        rounds = [x for rep in reps for x in rep["rounds"]]
        walls = [rep["wall_s"] for rep in reps]
        pages = sum(rep["new_pages"] for rep in reps)
        return {
            "wall_s": median(walls),
            "urls_per_s": median([rep["resolved"] / rep["wall_s"] for rep in reps]),
            "pages_per_s": median([rep["new_pages"] / rep["wall_s"] for rep in reps]),
            "round_s": rounds,
            "cpu_s": median([rep["cpu_s"] for rep in reps]),
            "peak_pss_mb": median([rep["peak_pss_mb"] for rep in reps]),
            "warehouse_bytes_per_page": (
                sum(rep["bytes_written"] for rep in reps) / pages if pages else None
            ),
            "attempted": sum(rep["resolved"] for rep in reps),
        }
