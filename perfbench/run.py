"""Benchmark of the crawl engine: named workloads, checked outputs, one JSON result.

    python3 perfbench/run.py --workload cold_crawl --seed 1 --seconds 10 --trace 0

Workloads: ``cold_crawl``, ``recrawl``, ``polite_crawl``, ``analytics``
(see README.md; ``BENCHMARK.json`` gates ``cold_crawl`` and ``analytics``).
The inputs are generated from ``--seed``. Reps of the workload run until
``--seconds`` of measured time have passed, each rep from a fresh
warehouse and an empty Spark cache; every rep's outputs are checked
outside the timed region. The last line of standard output is the
result object; the lines before it are the full record (every metric,
per-rep values, steal and nproc). ``--trace 1`` adds an untraced
reference rep, one traced rep and a layer-by-layer replay, and reports
the per-layer metrics instead.

Exits 1 when an output check fails and 2 when the engine sources are
missing next to this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from pathlib import Path

from common import (
    ROOT,
    CheckFailed,
    TreeSampler,
    configure_environment,
    median,
    nproc,
    reap_children,
    start_spark,
    steal_ticks,
    stop_spark,
    tail,
)

WORKLOADS = ("cold_crawl", "recrawl", "polite_crawl", "analytics")

# what each workload was chosen for, checked against the per-layer table
PREDICTIONS = {
    "cold_crawl": (
        "payload.fetch_parse is the largest self time",
        lambda t, lm: max(t, key=t.get) == "payload.fetch_parse",
    ),
    "recrawl": (
        "seen.filter_unseen + frontier.discover exceed payload.fetch_parse",
        lambda t, lm: t["seen.filter_unseen"] + t["frontier.discover"] > t["payload.fetch_parse"],
    ),
    "polite_crawl": (
        "storage inside the rounds + run_round driver time exceed half of the summed round_s",
        lambda t, lm: lm["frontier.round_storage_s"] + lm["frontier.round_driver_s"] > 0.5 * lm["frontier.round_s_sum"],
    ),
}
REP_BUDGET_S = 110.0  # no new rep starts after this much of the run has passed


def make_workload(name: str, spark, seed: int, work: Path, sampler):
    if name == "analytics":
        from analytics import AnalyticsWorkload

        return AnalyticsWorkload(spark, seed, work, sampler)
    from crawl import SPECS, CrawlWorkload

    return CrawlWorkload(SPECS[name], spark, seed, work, sampler)


def run_reps(wl, spark, seconds: float, t_start: float) -> tuple[list[dict], list[float], list[dict], str | None]:
    """Untraced reps until ``seconds`` of measured time; never drops a rep."""
    reps, setups, checks = [], [], []
    while True:
        spark.catalog.clearCache()
        t = time.perf_counter()
        state = wl.setup(len(reps))
        setups.append(time.perf_counter() - t)
        m = wl.measure(state)
        try:
            checks.append(wl.check(state))
        except CheckFailed as e:
            return reps + [m], setups, checks, str(e)
        m["gen_s"] = state["gen_s"]
        m["cached_after"] = state.get("cached_after")
        wl.teardown(state)
        reps.append(m)
        done = sum(r["wall_s"] for r in reps)
        per_rep = (time.perf_counter() - t_start) / len(reps)
        if done >= seconds or time.perf_counter() - t_start + per_rep > REP_BUDGET_S:
            return reps, setups, checks, None


def traced_rep(wl, spark, work: Path, name: str) -> tuple[dict, dict, str | None]:
    """An untraced reference rep, one rep with spans around the public entry
    points, then the replay. The reference rep runs in the same warm session
    as the traced one, so their difference is the tracing overhead."""
    import kernels
    from spans import Tracer, stage_delta, stage_totals

    spark.catalog.clearCache()
    state = wl.setup(10_000)
    ref = wl.measure(state)
    try:
        wl.check(state)
    except CheckFailed as e:
        return ref, {}, str(e)
    wl.teardown(state)
    spark.catalog.clearCache()
    state = wl.setup(10_001)
    tracer = Tracer()
    tracer.wrap_catalog()
    snap = work / "round0"
    s0 = stage_totals(spark)
    try:
        m = wl.measure(state, tracer=tracer, snapshot=snap)
    finally:
        tracer.unwrap_all()
    spark_run = stage_delta(s0, stage_totals(spark))
    try:
        checked = wl.check(state)
    except CheckFailed as e:
        return m, {}, str(e)
    out: dict = {f"spark.{k}": v for k, v in spark_run.items()}
    for op in ("read", "append", "merge_insert", "overwrite", "stage_overwrite", "commit_staged_overwrite",
               "append_arrow", "overwrite_arrow", "set_properties", "compact"):
        s, n = tracer.totals(f"storage.{op}")
        out[f"storage.{op}.s"], out[f"storage.{op}.calls"] = s, n
    table: dict[str, float] = {}
    replay = None
    if name == "analytics":
        for q in m["per_query"]:
            out[f"analytics.{q}.s"] = tracer.totals(f"analytics.{q}")[0]
            table[f"analytics.{q}"] = out[f"analytics.{q}.s"]
        out["dedup.cached_relations_after"] = state["cached_after"]
        out.update(kernels.analytics_sample(state["dir"], 64))
    else:
        replay = wl.replay(state, snap)
        lazy = sum(replay["self_s"].values()) + replay["discover_s"]
        out.update(replay["counts"])
        out["frontier.discover_s"] = replay["discover_s"]
        for layer, v in replay["self_s"].items():
            out[f"{layer}_s"] = v
        # the traced wall split into disjoint parts: driver time in
        # bootstrap/run/run_round, and wall covered by storage calls
        boot = tracer.named("frontier.bootstrap")
        run_spans = tracer.named("frontier.run")
        rounds = tracer.named("frontier.run_round")
        storage_wall = sum(tracer.covered("storage.", s["start"], s["end"]) for s in boot + rounds)
        out["frontier.bootstrap_self_s"] = sum(s["end"] - s["start"] - tracer.covered("storage.", s["start"], s["end"]) for s in boot)
        out["frontier.round_driver_s"] = sum(s["end"] - s["start"] - tracer.covered("storage.", s["start"], s["end"]) for s in rounds)
        out["frontier.drain_probe_s"] = sum(s["end"] - s["start"] for s in run_spans) - sum(s["end"] - s["start"] for s in rounds)
        out["frontier.rounds"] = len(m["rounds"])
        out["frontier.children_rows"] = checked["children_rows"]
        out["payload.rows"] = m["new_pages"]
        out["payload.decode_fail"] = checked["null_phash"]
        out["keywords.bridge_rows"] = checked["new_bridge_rows"]
        out["storage.self_s"] = storage_wall - lazy
        out["frontier.round_storage_s"] = sum(tracer.covered("storage.", s["start"], s["end"]) for s in rounds) - sum(replay["self_s"].values())
        out["frontier.round_s_sum"] = sum(m["rounds"])
        out["storage.bytes_written"] = m["bytes_written"]
        out["storage.files_written"] = m["files_written"]
        out.update(kernels.crawl_sample(state["pdfs"], 64, wl.seed))
        table["frontier.bootstrap (driver)"] = out["frontier.bootstrap_self_s"]
        table["frontier.discover"] = replay["discover_s"]
        for layer, v in replay["self_s"].items():
            table[layer] = v
        table["storage (commit wall minus replayed layers)"] = out["storage.self_s"]
        table["frontier.run_round (driver)"] = out["frontier.round_driver_s"]
        table["frontier.run (drain probes)"] = out["frontier.drain_probe_s"]
    tracer.write(
        ROOT / ".perfbench_work" / "traces" / f"{name}-seed{wl.seed}.json",
        {"replay_per_call": replay["per_call"] if replay else None, "run_stage_metrics": spark_run},
    )
    wl.teardown(state)
    shutil.rmtree(snap, ignore_errors=True)
    m["ref_wall_s"] = ref["wall_s"]
    return m, {"metrics": out, "table": table}, None


def crawl_record(wl, reps: list[dict], checks: list[dict]) -> dict:
    s = wl.summarize(reps)
    failures = sum(c.get("null_phash", 0) for c in checks) + (checks[-1].get("failed_tasks", 0) if checks else 0)
    return {
        "wall_s": s["wall_s"],
        "urls_per_s": s["urls_per_s"],
        "pages_per_s": s["pages_per_s"],
        "round_s.p50": median(s["round_s"]),
        "round_s.tail": tail(s["round_s"]),
        "cpu_s": s["cpu_s"],
        "peak_pss_mb": s["peak_pss_mb"],
        "warehouse_bytes_per_page": s["warehouse_bytes_per_page"],
        "fail_frac": failures / s["attempted"],
        "items_per_s": s["urls_per_s"],
        "attempted": s["attempted"],
        "failed": failures,
    }


def analytics_record(wl, reps: list[dict], checks: list[dict]) -> dict:
    s = wl.summarize(reps)
    failures = sum(c["failed_queries"] for c in checks)
    return {
        "wall_s": s["wall_s"],
        "urls_per_s": None,
        "pages_per_s": None,
        "round_s.p50": None,
        "round_s.tail": None,
        "query_s.p50": median(s["round_s"]),
        "query_s": {q: median([r["per_query"][q] for r in reps]) for q in reps[0]["per_query"]},
        "query_s.tail": tail(s["round_s"]),
        "cpu_s": s["cpu_s"],
        "peak_pss_mb": s["peak_pss_mb"],
        "warehouse_bytes_per_page": None,
        "fail_frac": failures / s["attempted"],
        "items_per_s": s["queries_per_s"],
        "dedup.cached_relations_after": reps[-1]["cached_after"],
        "attempted": s["attempted"],
        "failed": failures,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from {WORKLOADS}", file=sys.stderr)
        return 2
    if not (ROOT / "crawler_spark" / "__init__.py").is_file() or not (ROOT / "__spark_entry__.py").is_file():
        print(f"perfbench: no crawler_spark sources under {ROOT}", file=sys.stderr)
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    sys.path.insert(1, str(ROOT))

    t_start = time.perf_counter()
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    configure_environment(work)
    sampler = TreeSampler().start()
    steal0 = steal_ticks()
    spark = None
    error = None
    traced = None
    try:
        t = time.perf_counter()
        spark = start_spark(work)
        session_s = time.perf_counter() - t
        wl = make_workload(args.workload, spark, args.seed, work, sampler)
        t = time.perf_counter()
        wl.prepare()
        prepare_s = time.perf_counter() - t
        reps, setups, checks, error = run_reps(wl, spark, args.seconds, t_start)
        if error is None and args.trace:
            traced_m, traced, error = traced_rep(wl, spark, work, args.workload)
    finally:
        if spark is not None:
            stop_spark(spark)
        sampler.stop()
        reap_children()
        shutil.rmtree(work, ignore_errors=True)

    record_fn = analytics_record if args.workload == "analytics" else crawl_record
    rec = record_fn(wl, reps, checks) if reps else {}
    rec["setup_s"] = session_s + prepare_s + median(setups)
    header = {
        "workload": args.workload,
        "seed": args.seed,
        "nproc": nproc(),
        "master": f"local[{nproc()}]",
        "steal_s": (steal_ticks() - steal0) / os.sysconf("SC_CLK_TCK"),
        "reps": len(reps),
        "rep_wall_s": [r["wall_s"] for r in reps],
        "rep_setup_s": setups,
        "session.start_s": session_s,
        "prepare_s": prepare_s,
        "synth.gen_s": median([r["gen_s"] for r in reps if "gen_s" in r] or [0.0]),
        "error": error,
    }
    print(json.dumps({"record": header | rec}, default=float))

    correct = error is None
    if args.trace and traced:
        lm = traced["metrics"]
        lm["session.start_s"] = session_s
        lm["synth.gen_s"] = header["synth.gen_s"]
        lm["trace.overhead_s"] = traced_m["wall_s"] - traced_m["ref_wall_s"]
        lm["trace.unattributed_s"] = traced_m["wall_s"] - sum(traced["table"].values())
        print(json.dumps({"per_layer": lm}, default=float))
        print(f"per-layer self time, traced rep (wall {traced_m['wall_s']:.3f} s, untraced reference {traced_m['ref_wall_s']:.3f} s):")
        for layer, v in sorted(traced["table"].items(), key=lambda kv: -kv[1]):
            print(f"  {layer:45s} {v:9.3f} s")
        print(f"  {'unattributed':45s} {lm['trace.unattributed_s']:9.3f} s")
        print(f"  {'tracing overhead':45s} {lm['trace.overhead_s']:9.3f} s")
        if args.workload in PREDICTIONS:
            text, holds = PREDICTIONS[args.workload]
            print(f"prediction: {text}: {'holds' if holds(traced['table'], lm) else 'does NOT hold'}")
        metrics = {m["name"]: {"value": float(lm.get(m["name"], 0.0) or 0.0), "unit": m["unit"]} for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": float(rec.get(m["name"]) or 0.0), "unit": m["unit"]} for m in spec["end_to_end"]}
    result = {
        "correct": correct,
        "attempted": int(rec.get("attempted", 0)) or 1,
        "failed": int(rec.get("failed", 0)) + (0 if correct else 1),
        "metrics": metrics,
    }
    print(json.dumps(result))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
