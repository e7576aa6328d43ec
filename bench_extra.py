#!/usr/bin/env python
"""Extra (non-frozen) benchmarks per spark_optimization_guide §1.4:
noop-sink isolation of individual headline queries + .explain("formatted")
capture. bench.py itself is FROZEN for measurement; numbers quoted in
OPTIMIZATION_r06.md come from here unless stated otherwise.

Usage: python bench_extra.py <query> [<query> ...]
  env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf1.0)
       SPARK_GRAFT_EXTRA_TRIALS (default 2)
       SPARK_GRAFT_EXTRA_PLAN_DIR (write <query>.txt explain dumps there)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from deusu_spark import pipelines  # noqa: E402
from deusu_spark.session import get_spark  # noqa: E402


def serving_percentiles() -> None:
    """Serving-tier per-query latency distribution (p50/p95/p99) at the
    bench corpus scale — the reference's one published number is a 250 ms
    AVERAGE; this keeps the rebuild's latency claim distribution-honest
    (round-5 verdict item #8). Cold = fresh searcher first pass over a
    60-query Zipf-mixed stream; warm = new query strings over the same
    term population (decoded-term cache hits, result-cache misses)."""
    import statistics
    import tempfile

    from deusu_spark.build import build_index
    from deusu_spark.query_local import LocalSearcher, ShardedSearcher

    n_convs = int(os.environ.get("SPARK_GRAFT_BENCH_CONVS", "20000"))
    spark = get_spark(app="deusu-bench-extra")
    spark.sparkContext.setLogLevel("ERROR")
    corpus = os.path.join(
        tempfile.gettempdir(), f"deusu_bench_corpus_{n_convs}.parquet"
    )
    if not os.path.exists(corpus):
        from deusu_spark import synth

        synth.write_parquet(synth.gen_transcripts(n_convs), corpus)
    idx = tempfile.mkdtemp(prefix="deusu_p99_idx_")
    build_index(
        spark, spark.read.parquet(corpus), idx,
        fancy_threshold=max(1000, n_convs // 4),
    )
    hot = ["linux", "google", "java", "python", "ubuntu", "firefox"]
    cold_q, warm_q = [], []
    for i in range(60):
        r = i % 5
        if r in (0, 3):
            cold_q.append(hot[i % len(hot)])
            warm_q.append(f"{hot[i % len(hot)]} {hot[(i + 1) % len(hot)]}")
        elif r == 1:
            cold_q.append(f"w{(i * 83) % 5000:04d}")
            warm_q.append(f"w{(i * 83) % 5000:04d} {hot[i % len(hot)]}")
        else:
            cold_q.append(f"{hot[(i + 2) % len(hot)]} w{(i * 29) % 3000:04d}")
            warm_q.append(f"w{(i * 29) % 3000:04d} -{hot[(i + 2) % len(hot)]}")

    def pcts(lat):
        q = statistics.quantiles(lat, n=100)
        return {"p50_ms": round(q[49] * 1e3, 2),
                "p95_ms": round(q[94] * 1e3, 2),
                "p99_ms": round(q[98] * 1e3, 2),
                "mean_ms": round(sum(lat) / len(lat) * 1e3, 2)}

    out: dict = {"n_convs": n_convs}
    for name, mk in [("unsharded", lambda: LocalSearcher(idx)),
                     ("sharded4", lambda: ShardedSearcher(
                         idx, n_shards=4, parallel=True))]:
        s = mk()
        lat = []
        for q in cold_q:
            t0 = time.time()
            s.search(q, k=10)
            lat.append(time.time() - t0)
        out[f"{name}_cold"] = pcts(lat)
        lat = []
        for q in warm_q:
            t0 = time.time()
            s.search(q, k=10)
            lat.append(time.time() - t0)
        out[f"{name}_warm"] = pcts(lat)
    out["loadavg"] = [round(x, 2) for x in os.getloadavg()]
    print(json.dumps(out))
    import shutil

    shutil.rmtree(idx, ignore_errors=True)


def main() -> None:
    if sys.argv[1:2] == ["--serving-percentiles"]:
        serving_percentiles()
        return
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0")
    trials = int(os.environ.get("SPARK_GRAFT_EXTRA_TRIALS", "2"))
    plan_dir = os.environ.get("SPARK_GRAFT_EXTRA_PLAN_DIR", "")
    names = sys.argv[1:] or ["minhash_lsh16"]
    spark = get_spark(app="deusu-bench-extra")
    spark.sparkContext.setLogLevel("ERROR")

    out: dict[str, list[float]] = {}
    for name in names:
        fn = pipelines.QUERIES[name]
        if plan_dir:
            df = fn(spark, sf_dir)
            os.makedirs(plan_dir, exist_ok=True)
            with open(os.path.join(plan_dir, f"{name}.txt"), "w") as fh:
                fh.write(df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"))
        for _ in range(trials):
            spark.sparkContext.setJobDescription(f"bench_extra: {name}")
            t0 = time.time()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            out.setdefault(name, []).append(round(time.time() - t0, 3))
            spark.sparkContext.setJobDescription(None)
    print(json.dumps({"sf_dir": sf_dir, "noop_s": out,
                      "min": {k: min(v) for k, v in out.items()},
                      "loadavg": [round(x, 2) for x in os.getloadavg()]}))


if __name__ == "__main__":
    main()
