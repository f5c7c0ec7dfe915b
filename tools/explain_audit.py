"""Plan audit: capture physical plans for the headline queries and
check the properties that matter at 100 TB (core logic in
crawler_spark.plans.audit).

- parquet scans carry PushedFilters / a pruned ReadSchema,
- small dimensions broadcast (BroadcastHashJoin), big sides shuffle,
- relational glue stays inside whole-stage codegen,
- no Python evaluation nodes outside the intended UDF stages.

Writes EXPLAIN.md. Usage: python tools/explain_audit.py [sf_dir]
"""

from __future__ import annotations

import sys

sys.path.insert(0, ".")

from crawler_spark.plans.audit import CODEGEN, audit_plan  # noqa: E402

AUDITS = {
    # query name -> (checks that must appear, forbidden patterns)
    "id_range_scan": (
        [r"PushedFilters: \[.*GreaterThanOrEqual\(doc_id,100\)", CODEGEN],
        [r"ArrowEvalPython", r"BatchEvalPython"],
    ),
    # AQE-wrapped plans don't annotate codegen ids before execution;
    # assert the operator shapes + python-free instead.
    "tpch_q1": (
        [r"PushedFilters: \[.*LessThanOrEqual\(l_shipdate", r"HashAggregate"],
        [r"ArrowEvalPython", r"BatchEvalPython"],
    ),
    "semi_join": ([r"LeftSemi"], [r"ArrowEvalPython"]),
    "keyword_titles": ([r"BroadcastHashJoin"], []),
    "text_analysis": (
        [CODEGEN],
        [r"ArrowEvalPython", r"BatchEvalPython"],  # all-native text ops
    ),
    # hash-keyed partial-agg representative selection + left-semi join
    # back on the id: no Window, no full-text shuffle key
    "exact_dedup": (
        [r"HashAggregate", r"xxhash64", r"LeftSemi"],
        [r"ArrowEvalPython", r"BatchEvalPython"],
    ),
    # the full query localCheckpoints the bucket relation (the chunk
    # self-join must not re-run the signature pipeline), truncating
    # the visible plan to an ExistingRDD scan — the xxhash64 pin
    # lives on the pre-checkpoint banded relation (see main())
    "minhash_lsh": ([], [r"ArrowEvalPython", r"BatchEvalPython"]),
    # native bit-vote: explode + xxhash64 + 64-column conditional-sum
    # HashAggregate — zero Python in the fingerprint plan
    "simhash": (
        [r"xxhash64", r"HashAggregate", r"Generate"],
        [r"ArrowEvalPython", r"BatchEvalPython"],
    ),
    # the bucketize UDF is the one INTENDED Arrow stage; the bucket
    # join must broadcast the (tiny) query side
    "cosine_topk_lsh": ([r"ArrowEvalPython", r"BroadcastHashJoin", r"Window"], []),
    "cosine_topk_ivf": ([r"ArrowEvalPython", r"BroadcastHashJoin", r"Window"], []),
    "politeness_admission": ([r"Window"], []),
    # exact dedup is a LeftAnti join; the bloom prefilter is the
    # broadcast probe, a scalar Arrow UDF over (host_hash, fp)
    "seen_anti_join": ([r"LeftAnti", r"ArrowEvalPython"], []),
    "cosine_topk": ([r"Window", r"BroadcastNestedLoopJoin"], [r"ArrowEvalPython"]),
}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    import __spark_entry__ as entrymod
    from crawler_spark.session import get_spark

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()

    sections = ["# EXPLAIN — physical-plan audit (auto-written by tools/explain_audit.py)", ""]
    failures = []
    for name, (required, forbidden) in AUDITS.items():
        res = audit_plan(name, qs[name](spark, sf_dir), required, forbidden)
        print(f"{name}: {res.summary}")
        if not res.ok:
            failures.append(name)
        sections += [f"## {name} — {res.summary}", "", "```", res.compact_plan, "```", ""]

    # minhash signature pipeline, audited PRE-checkpoint (the full
    # query's plan starts at the checkpointed bucket relation)
    from crawler_spark.operators.dedup import _lsh_banded

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    banded = _lsh_banded(docs, n=3, n_hashes=64, bands=16, text_col="text", id_col="doc_id")
    res = audit_plan(
        "minhash_banded (signature pipeline, pre-checkpoint)",
        banded,
        [r"xxhash64"],
        [r"ArrowEvalPython", r"BatchEvalPython"],
    )
    print(f"minhash_banded: {res.summary}")
    if not res.ok:
        failures.append("minhash_banded")
    sections += [f"## {res.name} — {res.summary}", "", "```", res.compact_plan, "```", ""]

    # two-phase dense-id assignment (round 4): the row_number window
    # must partition on (portal, admit_rank) — `portal` alone is the
    # single-task-per-portal funnel the two-phase design removed
    from crawler_spark.operators.ids import with_dense_ids

    narrow = docs.selectExpr(
        "concat('p', doc_id % 4) AS portal",
        "CAST(doc_id % 50 AS int) AS admit_rank",
        "concat('u', doc_id) AS url",
    )
    # (the cumulative-offset window legitimately partitions on bare
    # portal — but it runs over the GROUP-level relation, one row per
    # (portal, rank); the forbidden shape is the ROW-level row_number
    # on bare portal)
    res = audit_plan(
        "dense_ids (two-phase id assignment)",
        with_dense_ids(narrow),
        [r"row_number\(\) windowspecdefinition\(portal#\d+, admit_rank#\d+, url#\d+ ASC"],
        [r"row_number\(\) windowspecdefinition\(portal#\d+, admit_rank#\d+L? ASC"],
    )
    print(f"dense_ids: {res.summary}")
    if not res.ok:
        failures.append("dense_ids")
    sections += [f"## {res.name} — {res.summary}", "", "```", res.compact_plan, "```", ""]

    with open("EXPLAIN.md", "w") as f:
        f.write("\n".join(sections))
    print("\nwrote EXPLAIN.md;", ("FAILURES: " + ", ".join(failures)) if failures else "all checks pass")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
