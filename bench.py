#!/usr/bin/env python
"""Round benchmark: headline relational/pipeline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) + the inverted-index
engine's build & query throughput on the synthetic transcript corpus.

Every measurement is the MIN over $SPARK_GRAFT_BENCH_TRIALS (default 2)
INTERLEAVED trials — this host's wall noise is ±2× between identical
runs (CLAUDE.md / BENCH.md), so single-trial round-over-round deltas are
weather, not code; interleaving puts every trial pair in the same noise
window and the per-trial 1-min loadavg is recorded so a reader can judge
the window.

Prints ONE JSON line:
  {"metric": ..., "value": total_sec, "unit": "sec",
   "queries": {name: min_sec, ...}, "sf": ...,
   "trials": N, "per_trial": {name: [sec, ...]},
   "loadavg_per_trial": [l1, ...], "engine": {...}}
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from deusu_spark import pipelines, synth  # noqa: E402
from deusu_spark.session import get_spark  # noqa: E402

HEADLINE = [
    "pricing_summary",
    "region_revenue",
    "customers_without_orders",
    "top3_orders_per_customer",
    "filter_topk",
    "events_hourly",
    "user_sessions",
    "term_df",
    "bm25_topk",
    "dedup_exact",
    # uncapped MinHash-LSH (16 hashes, 4x4 bands, whole documents table)
    # — the scale path; the capped 4-hash demo stays a driver query only
    "minhash_lsh16",
    "embedding_cosine_topk",
]

ENGINE_QUERIES = [
    "linux",
    "w0042",
    "linux ubuntu",
    "linux -google",
    "intitle:assistant linux",
    "host:conv00000017",
    "google java",
    "w0100 w0005 linux",
]


def _engine_trial(spark, sdf, n_convs: int) -> tuple[dict, dict]:
    """One full engine trial: fresh build + fresh-engine query paths.
    Returns (times, stats) for this trial."""
    from deusu_spark.build import build_index
    from deusu_spark.query import SearchEngine
    from deusu_spark.query_local import LocalSearcher, ShardedSearcher

    times: dict[str, float] = {}
    stats: dict = {}
    idx_dir = tempfile.mkdtemp(prefix="deusu_bench_idx_")
    try:
        t0 = time.time()
        metrics = build_index(
            spark,
            sdf,
            idx_dir,
            fancy_threshold=max(1000, n_convs // 4),
        )
        build_s = time.time() - t0
        times["fts_build"] = round(build_s, 3)
        stats["n_docs"] = metrics["n_docs"]
        stats["n_postings"] = metrics["n_postings"]
        stats["postings_per_s"] = round(metrics["n_postings"] / build_s, 1)
        stats["compressed_bytes"] = metrics["compressed_bytes"]

        # distributed (batch) query path: search_many amortizes the whole
        # set into one metadata job + one union plan per pass — the
        # throughput shape of an offline retrieval workload
        eng = SearchEngine(spark, idx_dir)
        t0 = time.time()
        eng.search_many(ENGINE_QUERIES[:4], k=10)
        qs = time.time() - t0
        times["fts_query_distributed"] = round(qs, 3)
        stats["queries_per_s_distributed"] = round(4 / qs, 3)
        # single-query latency on the same path (the old per-query loop)
        t0 = time.time()
        eng.search(ENGINE_QUERIES[0], k=10)
        stats["single_query_s_distributed"] = round(time.time() - t0, 3)

        # serving path (LocalSearcher = the searchservernew analog:
        # numpy sidecars + pyarrow segment reads, no Spark jobs per query)
        ls = LocalSearcher(idx_dir)
        # warm lexicon/segment caches with a query OUTSIDE the measured set
        # (warming with a headline query would seed the Q14 result cache and
        # contaminate the cold measurement)
        ls.search("w4999", k=10)
        # cold = every query computed (distinct keys); cached = repeats
        # served from the Q14 result cache (the reference's cache behaves
        # the same — report both so the compute number stays honest)
        t0 = time.time()
        for q in ENGINE_QUERIES:
            ls.search(q, k=10)
        cold_s = time.time() - t0
        reps = 20
        t0 = time.time()
        for _ in range(reps):
            for q in ENGINE_QUERIES:
                ls.search(q, k=10)
        warm_s = time.time() - t0
        times["fts_query_serving"] = round(cold_s, 3)
        stats["queries_per_s_serving_cold"] = round(
            len(ENGINE_QUERIES) / cold_s, 3
        )
        stats["queries_per_s_serving_cached"] = round(
            reps * len(ENGINE_QUERIES) / warm_s, 1
        )

        # sharded serving tier: 2 doc-range shards, parallel thread-pool
        # fan-out, cold caches (fresh searcher) — the beyond-one-node shape
        sh = ShardedSearcher(idx_dir, n_shards=2)
        sh.search("w4999", k=10)
        t0 = time.time()
        for q in ENGINE_QUERIES:
            sh.search(q, k=10)
        stats["queries_per_s_serving_sharded2"] = round(
            len(ENGINE_QUERIES) / (time.time() - t0), 3
        )
    finally:
        shutil.rmtree(idx_dir, ignore_errors=True)
    return times, stats


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]
    n_convs = int(os.environ.get("SPARK_GRAFT_BENCH_CONVS", "20000"))
    n_trials = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_TRIALS", "2")))
    spark = get_spark(app="deusu-bench")
    spark.sparkContext.setLogLevel("ERROR")

    corpus_path = os.path.join(
        tempfile.gettempdir(), f"deusu_bench_corpus_{n_convs}.parquet"
    )
    if not os.path.exists(corpus_path):
        synth.write_parquet(synth.gen_transcripts(n_convs), corpus_path)
    sdf = spark.read.parquet(corpus_path)

    per_trial: dict[str, list[float]] = {}
    loads: list[float] = []
    engine_stats_trials: list[dict] = []
    engine_error: str | None = None
    for _tr in range(n_trials):
        loads.append(round(os.getloadavg()[0], 2))
        for name in HEADLINE:
            fn = pipelines.QUERIES[name]
            t0 = time.time()
            fn(spark, sf_dir).collect()
            per_trial.setdefault(name, []).append(
                round(time.time() - t0, 3)
            )
        # engine build + query paths, fresh index/engines per trial so
        # every trial measures the same cold state
        try:
            etimes, estats = _engine_trial(spark, sdf, n_convs)
            for name, s in etimes.items():
                per_trial.setdefault(name, []).append(s)
            engine_stats_trials.append(estats)
        except Exception as e:  # keep the bench line emitting even on failure
            engine_error = repr(e)

    times = {name: min(ts) for name, ts in per_trial.items()}
    # engine stats from the best (min build wall) trial; throughput fields
    # take the max across trials (min time) per field
    engine_stats: dict = {}
    if engine_stats_trials:
        engine_stats = dict(engine_stats_trials[0])
        for st in engine_stats_trials[1:]:
            for k, v in st.items():
                if k.endswith("_per_s") or k.startswith("queries_per_s"):
                    engine_stats[k] = max(engine_stats[k], v)
                elif k.startswith("single_query"):
                    engine_stats[k] = min(engine_stats[k], v)
    if engine_error is not None:
        engine_stats["error"] = engine_error

    total = round(sum(times.values()), 3)
    print(
        json.dumps(
            {
                "metric": "bench_total_seconds",
                "value": total,
                "unit": "sec",
                "queries": times,
                "sf": sf,
                "trials": n_trials,
                "per_trial": per_trial,
                # host-noise context: this sandbox has noisy neighbors with
                # ±2-3x wall swings (BENCH.md); the per-trial 1-min load
                # average is the window signal for each trial
                "loadavg_per_trial": loads,
                "engine": engine_stats,
                "loadavg": [round(x, 2) for x in os.getloadavg()],
            }
        )
    )


if __name__ == "__main__":
    main()


