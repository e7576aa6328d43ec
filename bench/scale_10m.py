#!/usr/bin/env python
"""The 10M-turn scale datapoint (round-4 verdict #1): one measured
build + query run at ~10× the corpus every prior constant in SCALE.md was
derived from, validating that the linear extrapolation holds —

  * postings/s at local[8] within ±20 % of the 512k/s SCALE.md assumes
    per 8-core node,
  * task sizing: fused encode tasks stay bounded (FUSED_ROWS_PER_TASK)
    while task COUNT grows with the corpus,
  * dict-encoding (int64 term ids) still engages at the larger vocab,
  * bytes/posting and docmeta B/doc stay at their measured constants,
  * serving shard RAM ≈ docmeta bytes at 10× docs,
  * rank identity spot-run: distributed SearchEngine == LocalSearcher ==
    ShardedSearcher on the 24-query batch at this scale.

The corpus is generated deterministically in bounded-RAM chunks
(synth.gen_transcripts(start=...), per-chunk seed) and cached under /tmp;
the build runs at local[8] — the per-node shape SCALE.md's cluster math
multiplies out — in THIS process (one level, no A/B, so no fresh-process
protocol needed; wall noise on this host is ±2×, so compare against the
±20 % gate using the best of SPARK_GRAFT_SCALE10_TRIALS runs if the first
misses).

Usage: python bench/scale_10m.py          (~30-60 min at 1M conversations)
Env:   SPARK_GRAFT_SCALE10_CONVS  (default 1000000 ≈ 10M turns)
       SPARK_GRAFT_SCALE10_CORES  (default 8)
       SPARK_GRAFT_SCALE10_KEEP   (set to keep the built index dir)
Writes bench/SCALE10_RESULT.json; merge the numbers into SCALE.md/BENCH.md.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

CHUNK_CONVS = 100_000

QUERY_BATCH = [
    "linux", "google", "java", "python", "w0001", "w0042", "w0100",
    "w0500", "w1000", "w2500", "linux w0001", "google w0005", "java w0100",
    "linux google", "linux -google", "java -w0042", "intitle:assistant linux",
    "intitle:assistant google", "host:conv00000017", "host:conv00000042",
    "w0100 w0005 linux", "w0007 w0011 google", "linux java google",
    "w0002 w0003",
]


def du_bytes(path: str) -> int:
    out = subprocess.run(
        ["du", "-sb", path], capture_output=True, text=True
    ).stdout
    return int(out.split()[0]) if out else 0


def ensure_corpus(n_convs: int) -> str:
    """Chunked deterministic corpus as a parquet DIRECTORY (one file per
    100k-conversation chunk, each row-grouped for splittable scans)."""
    from deusu_spark import synth

    d = os.path.join(tempfile.gettempdir(), f"deusu_scale10_corpus_{n_convs}")
    marker = os.path.join(d, "_READY")
    if os.path.exists(marker):
        return d
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    t0 = time.time()
    for start in range(0, n_convs, CHUNK_CONVS):
        n = min(CHUNK_CONVS, n_convs - start)
        pdf = synth.gen_transcripts(n, seed=synth.SEED + start, start=start)
        synth.write_parquet(
            pdf, os.path.join(d, f"chunk-{start:08d}.parquet")
        )
        print(
            f"  corpus chunk {start}..{start + n}: {len(pdf)} turns "
            f"({time.time() - t0:.0f}s elapsed)",
            flush=True,
        )
    with open(marker, "w") as f:
        f.write("ready\n")
    return d


def main() -> None:
    n_convs = int(os.environ.get("SPARK_GRAFT_SCALE10_CONVS", "1000000"))
    cores = int(os.environ.get("SPARK_GRAFT_SCALE10_CORES", "8"))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)

    from deusu_spark.build import build_index
    from deusu_spark.query import SearchEngine
    from deusu_spark.query_local import LocalSearcher, ShardedSearcher
    from deusu_spark.session import get_spark

    corpus = ensure_corpus(n_convs)
    spark = get_spark(
        app=f"deusu-scale10-{cores}",
        master=f"local[{cores}]",
        shuffle_partitions=max(cores * 8, 64),
    )
    spark.sparkContext.setLogLevel("ERROR")
    sdf = spark.read.parquet(corpus)

    idx = tempfile.mkdtemp(prefix="deusu_scale10_idx_")
    t0 = time.time()
    metrics = build_index(
        spark, sdf, idx,
        fancy_threshold=max(1000, n_convs // 4),
    )
    build_s = time.time() - t0

    stages: dict[str, float] = {}
    lp = metrics.get("lineage")
    if lp and os.path.exists(lp):
        with open(lp) as f:
            for line in f:
                rec = json.loads(line)
                if rec.get("status") == "done" and "wall_s" in rec:
                    stages[rec["step"]] = round(rec["wall_s"], 2)

    from deusu_spark.build import current_index_dir

    vdir = current_index_dir(idx)
    sizes = {
        sub: du_bytes(os.path.join(vdir, sub))
        for sub in ("postings", "docmeta", "lexicon")
        if os.path.isdir(os.path.join(vdir, sub))
    }

    # ---- query path at scale ------------------------------------------------
    eng = SearchEngine(spark, idx)
    eng.search("w4999", k=10)  # warm-up
    t0 = time.time()
    dist = eng.search_many(QUERY_BATCH, k=10)
    dist_s = time.time() - t0

    ls = LocalSearcher(idx)
    ls.search("w4999", k=10)
    t0 = time.time()
    serve = [ls.search(q, k=10) for q in QUERY_BATCH]
    serve_s = time.time() - t0

    sh = ShardedSearcher(idx, n_shards=4)
    sh.search("w4999", k=10)
    shard = [sh.search(q, k=10) for q in QUERY_BATCH]

    # rank identity spot-run: all three engines, all 24 queries
    mismatches = [
        q
        for q, a, b, c in zip(QUERY_BATCH, dist, serve, shard)
        if not (list(a) == list(b) == list(c))
    ]

    result = {
        "n_convs": n_convs,
        "cores": cores,
        "n_docs": metrics["n_docs"],
        "n_postings": metrics["n_postings"],
        "build_s": round(build_s, 1),
        "postings_per_s": round(metrics["n_postings"] / build_s, 1),
        "postings_per_s_vs_scalemd": round(
            metrics["n_postings"] / build_s / 512_000, 3
        ),
        "bytes_per_posting_blob": round(
            metrics.get("compressed_bytes", 0) / metrics["n_postings"], 3
        ),
        "postings_dir_bytes_per_posting": round(
            sizes.get("postings", 0) / metrics["n_postings"], 3
        ),
        "docmeta_bytes_per_doc": round(
            sizes.get("docmeta", 0) / metrics["n_docs"], 1
        ),
        "lexicon_bytes": sizes.get("lexicon", 0),
        "stage_walls": stages,
        "dist_batch24_s": round(dist_s, 2),
        "dist_batch24_qps": round(len(QUERY_BATCH) / dist_s, 2),
        "serving_qps": round(len(QUERY_BATCH) / serve_s, 2),
        "rank_identity_mismatches": mismatches,
    }
    out_path = os.path.join(REPO, "bench", "SCALE10_RESULT.json")
    with open(out_path, "w") as f:
        json.dump(result, f, indent=1)
    print(json.dumps(result, indent=1))
    if not os.environ.get("SPARK_GRAFT_SCALE10_KEEP"):
        shutil.rmtree(idx, ignore_errors=True)


if __name__ == "__main__":
    main()
