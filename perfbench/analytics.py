"""Analytics workload: the ``__spark_entry__.queries()`` contract queries
whose modules the crawls never run, over tables generated from the seed,
each checked against its ``oracle_sql()`` DuckDB twin.
"""

from __future__ import annotations

import shutil
import time
from pathlib import Path

import numpy as np

from common import CheckFailed, median, process_tree, tree_cpu_s
from spans import Tracer, cached_relations

# module under test -> contract queries that exercise it. One or two per
# module keep a run short; the slowest near-duplicate variants (minhash_lsh,
# simhash, cosine_topk_ivf) are left to the oracle suite. Every multimodal
# codec stays, since multimodal.py is the module most likely to be rewritten.
QUERIES = {
    "functions.text": ["text_analysis"],
    "operators.dedup": ["exact_dedup", "ngram_jaccard"],
    "operators.similarity": ["cosine_topk"],
    "functions.urls": ["url_canonicalize"],
    "operators.export": ["export_csv_shape"],
    "sources.sitemap_xml": ["sitemap_parse"],
    "operators.multimodal": [
        "image_features",
        "jpeg_fidelity",
        "gif_features",
        "bmp_features",
        "image_stream_meta",
        "audio_features",
        "flac_features",
        "mp3_id3_tags",
    ],
}
QUERY_NAMES = [q for qs in QUERIES.values() for q in qs]
N_DOCS = 1000
N_VECS = 300
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]


def write_tables(seed: int, out: Path) -> None:
    """``documents`` and ``embeddings`` in the shape of the contract tables.

    Every 20th document is a near-copy of an earlier one with one token
    appended, the case the simhash and n-gram queries are built around.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.Generator(np.random.PCG64(seed))
    texts: list[str] = []
    for i in range(N_DOCS):
        if i % 20 == 7 and i > 20:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
            continue
        n = int(rng.integers(8, 90))
        texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), n)))
    langs = rng.choice(LANGS, size=N_DOCS, p=[0.4, 0.15, 0.15, 0.15, 0.15])
    out.mkdir(parents=True, exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
                "text": pa.array(texts, pa.string()),
                "lang": pa.array(langs.tolist(), pa.string()),
                "source": pa.array([f"src{i % 20}" for i in range(N_DOCS)], pa.string()),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        out / "documents.parquet",
    )
    vecs = rng.standard_normal((N_VECS, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(np.arange(N_VECS), pa.int64()),
                "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
                "label": pa.array(rng.integers(0, 10, N_VECS), pa.int32()),
            }
        ),
        out / "embeddings.parquet",
    )


class AnalyticsWorkload:
    def __init__(self, spark, seed: int, work: Path, sampler):
        self.spark, self.seed, self.work, self.sampler = spark, seed, work, sampler

    def prepare(self) -> None:
        """Nothing: the suite is measured from a fresh session, first query
        included. An untimed warm-up suite would add about 25 s to a run
        without narrowing the spread between runs, which follows the load
        of other tenants on the machine (see README.md)."""

    def setup(self, rep: int) -> dict:
        t = time.perf_counter()
        data = self.work / f"tables-{rep}"
        write_tables(self.seed, data)
        return {"dir": data, "gen_s": time.perf_counter() - t}

    def measure(self, state: dict, tracer: Tracer | None = None, snapshot: Path | None = None) -> dict:
        import __spark_entry__ as entry

        qs = entry.queries()
        data = str(state["dir"])

        def run(q):  # a query is lazy until collected, so its span covers the collect
            return qs[q](self.spark, data).toPandas()

        results, per_query, errors = {}, {}, {}
        cpu0 = tree_cpu_s(process_tree())
        self.sampler.mark()
        t0 = time.perf_counter()
        for q in QUERY_NAMES:
            tq = time.perf_counter()
            try:
                results[q] = run(q) if tracer is None else tracer.span(f"analytics.{q}", run, q)
            except Exception as e:  # noqa: BLE001 - a raising query is a counted failure
                errors[q] = f"{type(e).__name__}: {e}"
            per_query[q] = time.perf_counter() - tq
        wall = time.perf_counter() - t0
        cpu = tree_cpu_s(process_tree()) - cpu0
        state.update(results=results, errors=errors, cached_after=cached_relations(self.spark))
        return {
            "wall_s": wall,
            "cpu_s": cpu,
            "peak_pss_mb": self.sampler.peak_mb(),
            "rounds": list(per_query.values()),
            "per_query": per_query,
            "resolved": len(QUERY_NAMES),
        }

    def check(self, state: dict) -> dict:
        """Compare each result with its DuckDB twin the way tools/check_oracle.py does."""
        import duckdb

        import __spark_entry__ as entry
        from tools.check_oracle import frame_hash

        oracles = entry.oracle_sql()
        con = duckdb.connect()
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{state['dir']}/{t}.parquet'")
        mismatched = dict(state["errors"])
        for q, spdf in state["results"].items():
            dpdf = con.execute(oracles[q]).df()
            if len(spdf) != len(dpdf):
                mismatched[q] = f"rows {len(spdf)} vs {len(dpdf)}"
            elif sorted(spdf.columns) != sorted(dpdf.columns):
                mismatched[q] = "columns differ"
            elif frame_hash(spdf) != frame_hash(dpdf):
                mismatched[q] = "value-hash mismatch"
        con.close()
        if mismatched:
            raise CheckFailed(f"queries differ from their oracle: {mismatched}")
        return {"failed_queries": 0}

    def teardown(self, state: dict) -> None:
        shutil.rmtree(state["dir"], ignore_errors=True)

    @staticmethod
    def summarize(reps: list[dict]) -> dict:
        return {
            "wall_s": median([rep["wall_s"] for rep in reps]),
            "queries_per_s": median([rep["resolved"] / rep["wall_s"] for rep in reps]),
            "round_s": [x for rep in reps for x in rep["rounds"]],
            "cpu_s": median([rep["cpu_s"] for rep in reps]),
            "peak_pss_mb": median([rep["peak_pss_mb"] for rep in reps]),
            "attempted": sum(rep["resolved"] for rep in reps),
        }
