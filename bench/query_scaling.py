#!/usr/bin/env python
"""QUERY-path scaling harness (the north rule names queries/sec alongside
postings/sec): run the SAME batch retrieval workload at two parallelism
levels (default local[2] vs local[8], same host caveats as bench/scaling.py)
over ONE shared prebuilt index, and report qps at both plus the scaling
efficiency.

Design choices mirroring the build harness (see BENCH.md):
  - the index builds ONCE (untimed) into a /tmp cache keyed by corpus size;
    queries are read-only, so both levels see identical bytes;
  - each level runs in a FRESH process, @8 measured before @2 inside each
    trial pair, minimum-of-trials per level filters host noise;
  - the LocalSearcher serving qps doubles as the independent host-load
    signal (driver-side numpy, unaffected by the Spark parallelism knob):
    a contended window shows up there first;
  - the measured unit is ONE search_many plan over a 24-query batch — the
    offline-retrieval shape where the distributed path is the right tool;
    fixed per-pass driver costs amortize across the batch, the remaining
    wall is decode + score + top-k, which is what should scale.

Usage: python bench/query_scaling.py            (pairs, writes
       bench/BENCH_QUERY.md — merge minima into BENCH.md by hand)
Env:   SPARK_GRAFT_QSCALE_CONVS (default 100000)
       SPARK_GRAFT_QSCALE_TRIALS (default 2)
       SPARK_GRAFT_SCALE_LEVELS  (default "2,8")
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# 24 queries spanning the engine surface: hot single terms, cold terms,
# multi-term WAND paths, NOT, host:, intitle:, and mixed-df pairs.
QUERY_BATCH = [
    "linux",
    "google",
    "java",
    "python",
    "w0001",
    "w0042",
    "w0100",
    "w0500",
    "w1000",
    "w2500",
    "linux w0001",
    "google w0005",
    "java w0100",
    "linux google",
    "linux -google",
    "java -w0042",
    "intitle:assistant linux",
    "intitle:assistant google",
    "host:conv00000017",
    "host:conv00000042",
    "w0100 w0005 linux",
    "w0007 w0011 google",
    "linux java google",
    "w0002 w0003",
]


def _batch120() -> list[str]:
    """Deterministic 120-query batch (the round-4 '100+-query batch'
    target shape): hot singles, cold singles, hot+cold pairs, NOT,
    cold-cold pairs, intitle — the mix a training pipeline's offline
    retrieval workload sees."""
    hot = ["linux", "google", "java", "ubuntu", "firefox"]
    out = []
    for i in range(120):
        r = i % 6
        if r == 0:
            out.append(hot[i % 5])
        elif r == 1:
            out.append(f"w{(i * 37) % 5000:04d}")
        elif r == 2:
            out.append(f"{hot[(i + 1) % 5]} w{(i * 13) % 3000:04d}")
        elif r == 3:
            out.append(f"{hot[i % 5]} -{hot[(i + 2) % 5]}")
        elif r == 4:
            out.append(f"w{(i * 7) % 2000:04d} w{(i * 11) % 2000:04d}")
        else:
            out.append(f"intitle:assistant {hot[i % 5]}")
    return out


QUERY_BATCH_120 = _batch120()


def _index_dir(n_convs: int) -> str:
    return os.path.join(tempfile.gettempdir(), f"deusu_qscale_idx_{n_convs}")


def ensure_index(n_convs: int) -> str:
    """Build the shared read-only index once (untimed, any parallelism)."""
    idx = _index_dir(n_convs)
    marker = os.path.join(idx, "_QSCALE_READY")
    if os.path.exists(marker):
        return idx
    from deusu_spark import synth
    from deusu_spark.build import build_index, current_index_dir
    from deusu_spark.session import get_spark

    spark = get_spark(app="deusu-qscale-build")
    spark.sparkContext.setLogLevel("ERROR")
    corpus_path = os.path.join(
        tempfile.gettempdir(), f"deusu_scale_corpus_{n_convs}.parquet"
    )
    if not os.path.exists(corpus_path):
        synth.write_parquet(synth.gen_transcripts(n_convs), corpus_path)
    sdf = spark.read.parquet(corpus_path)
    build_index(
        spark, sdf, idx, fancy_threshold=max(1000, n_convs // 4)
    )
    assert current_index_dir(idx)
    with open(marker, "w") as f:
        f.write("ready\n")
    spark.stop()
    return idx


def run_level(cores: int, n_convs: int) -> dict:
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    from deusu_spark.query import SearchEngine
    from deusu_spark.query_local import LocalSearcher
    from deusu_spark.session import get_spark

    idx = _index_dir(n_convs)
    spark = get_spark(
        app=f"deusu-qscale-{cores}",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
    )
    spark.sparkContext.setLogLevel("ERROR")
    eng = SearchEngine(spark, idx)
    # warm-up OUTSIDE the measured set: JVM, parquet footers, session init
    eng.search("w4999", k=10)
    best = None
    for _ in range(2):  # in-process repeats; min filters scheduler jitter
        t0 = time.time()
        res = eng.search_many(QUERY_BATCH, k=10)
        wall = time.time() - t0
        n_hits = sum(len(v) for v in res)
        best = wall if best is None or wall < best else best
    best120 = None
    for _ in range(2):
        t0 = time.time()
        res120 = eng.search_many(QUERY_BATCH_120, k=10)
        wall = time.time() - t0
        best120 = wall if best120 is None or wall < best120 else best120
    # independent host-load signal: driver-side numpy serving path
    ls = LocalSearcher(idx)
    ls.search("w4999", k=10)
    t0 = time.time()
    for q in QUERY_BATCH[:8]:
        ls.search(q, k=10)
    serve_qps = 8 / (time.time() - t0)
    return {
        "cores": cores,
        "batch_wall_s": round(best, 2),
        "batch_qps": round(len(QUERY_BATCH) / best, 2),
        "batch120_wall_s": round(best120, 2),
        "batch120_qps": round(len(QUERY_BATCH_120) / best120, 2),
        "n_queries": len(QUERY_BATCH),
        "n_hits": n_hits,
        "serving_qps_signal": round(serve_qps, 1),
    }


def main() -> None:
    if len(sys.argv) == 3 and sys.argv[1] == "--level":
        print(
            "RESULT "
            + json.dumps(run_level(int(sys.argv[2]), int(os.environ["_QSCALE_CONVS"])))
        )
        return

    n_convs = int(os.environ.get("SPARK_GRAFT_QSCALE_CONVS", "100000"))
    trials = int(os.environ.get("SPARK_GRAFT_QSCALE_TRIALS", "2"))
    levels = tuple(
        int(x)
        for x in os.environ.get("SPARK_GRAFT_SCALE_LEVELS", "2,8").split(",")
    )
    ensure_index(n_convs)
    results: dict[int, dict] = {}
    for _ in range(trials):
        for cores in sorted(levels, reverse=True):  # @8 first (protocol)
            env = dict(os.environ, _QSCALE_CONVS=str(n_convs), PYTHONPATH=REPO)
            out = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--level", str(cores)],
                capture_output=True,
                text=True,
                env=env,
            )
            line = [
                ln for ln in out.stdout.splitlines() if ln.startswith("RESULT ")
            ]
            if not line:
                sys.stderr.write(out.stdout[-2000:] + out.stderr[-4000:])
                raise SystemExit(f"level {cores} failed")
            res = json.loads(line[-1][7:])
            if (
                cores not in results
                or res["batch_wall_s"] < results[cores]["batch_wall_s"]
            ):
                results[cores] = res

    lo, hi = results[levels[0]], results[levels[-1]]
    speedup = lo["batch_wall_s"] / hi["batch_wall_s"]
    eff = speedup / (levels[-1] / levels[0])
    summary = {
        "low": lo,
        "high": hi,
        "query_speedup": round(speedup, 3),
        "query_scaling_efficiency": round(eff, 3),
        "n_convs": n_convs,
    }
    print(json.dumps(summary, indent=1))
    md = f"""# BENCH — query-path scaling (local[{levels[0]}] vs local[{levels[-1]}] proxy)

One prebuilt index ({n_convs} conversations), identical bytes at both
levels; measured unit = ONE search_many plan over the {len(QUERY_BATCH)}-query
batch (hot/cold/WAND/NOT/host/intitle mix), min of {trials} interleaved
@{levels[-1]}-first trial pairs, 2 in-process repeats each.

| parallelism | batch wall (s) | batch qps | 120-batch wall (s) | 120-batch qps | serving qps (load signal) |
|---|---|---|---|---|---|
| local[{levels[0]}]  | {lo['batch_wall_s']} | {lo['batch_qps']} | {lo['batch120_wall_s']} | {lo['batch120_qps']} | {lo['serving_qps_signal']} |
| local[{levels[-1]}] | {hi['batch_wall_s']} | {hi['batch_qps']} | {hi['batch120_wall_s']} | {hi['batch120_qps']} | {hi['serving_qps_signal']} |

Query speedup {levels[0]}→{levels[-1]} cores (4x resources): **{speedup:.2f}x**
→ scaling efficiency **{eff:.2f}** (1.0 = linear).

The 120-query batch is the round-4 '100+-query' throughput target
(offline retrieval for a training pipeline): one search_many call,
fused decode+score, signature-deduped shared terms, concurrent
fancy/full passes.
"""
    with open(os.path.join(REPO, "bench", "BENCH_QUERY.md"), "w") as f:
        f.write(md)


if __name__ == "__main__":
    main()
