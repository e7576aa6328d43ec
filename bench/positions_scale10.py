#!/usr/bin/env python
"""Round-5 verdict item #3: the positions paths (phrase / NEAR/w /
proximity-ranked) measured AT the 10M-doc scale point — the rebuild's own
feature (the reference is positionless), so it needs its own scale
evidence: sidecar build wall + size, then a mixed phrase/near/proximity
batch through all three engine tiers with per-tier walls and the
candidate-range pruning stats (how many of the 420M postings' worth of
position segments the verify stage actually decodes).

Usage:  python bench/positions_scale10.py   (needs the kept scale_10m
        index AND its corpus; builds the sidecar if absent)
Env:    SPARK_GRAFT_S10_IDX, SPARK_GRAFT_S10_CORES (default 8),
        SPARK_GRAFT_P10_TRIALS (default 2)
Writes bench/POSITIONS_SCALE10.json.
"""

from __future__ import annotations

import glob
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from query_scale10 import find_index  # noqa: E402

PHRASE_QUERIES = [
    "linux kernel", "google search", "java virtual machine",
    "python code", "ubuntu linux", "w0042 w0100",
]
NEAR_QUERIES = [  # (query, window)
    ("linux google", 8), ("java python", 8), ("linux w0042", 12),
    ("google w0100", 12), ("ubuntu firefox", 8), ("linux kernel", 4),
]
PROX_QUERIES = ["linux google", "java python code", "linux ubuntu"]


def main() -> None:
    cores = int(os.environ.get("SPARK_GRAFT_S10_CORES", "8"))
    trials = int(os.environ.get("SPARK_GRAFT_P10_TRIALS", "2"))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)

    from deusu_spark import positions as posmod
    from deusu_spark.build import current_index_dir
    from deusu_spark.query import SearchEngine
    from deusu_spark.query_local import LocalSearcher, ShardedSearcher
    from deusu_spark.session import get_spark

    idx = find_index()
    vdir = current_index_dir(idx)
    with open(os.path.join(vdir, "meta.json")) as f:
        meta = json.load(f)
    spark = get_spark(
        app=f"deusu-p10-{cores}", master=f"local[{cores}]",
        shuffle_partitions=max(cores * 8, 64),
    )
    spark.sparkContext.setLogLevel("ERROR")

    result: dict = {
        "index": idx, "n_docs": meta["n_docs"],
        "n_postings": meta["n_postings"], "cores": cores,
        "loadavg_start": round(os.getloadavg()[0], 2),
    }

    if not posmod.has_positions(vdir):
        corpus_dirs = sorted(glob.glob("/tmp/deusu_scale10_corpus_*"))
        if not corpus_dirs:
            raise SystemExit("no scale-10m corpus under /tmp")
        sdf = spark.read.parquet(corpus_dirs[-1])
        t0 = time.time()
        posmod.build_positions(
            spark, sdf, idx, seg_size=meta["seg_size"], n_salts=8
        )
        result["positions_build_s"] = round(time.time() - t0, 1)
    pos_dir = os.path.join(vdir, "positions")
    pbytes = sum(
        os.path.getsize(os.path.join(r, f))
        for r, _, fs in os.walk(pos_dir)
        for f in fs if f.endswith(".parquet")
    )
    with open(os.path.join(pos_dir, "_POSMETA.json")) as f:
        pm = json.load(f)
    result["sidecar_bytes"] = pbytes
    result["sidecar_bytes_per_posting"] = round(
        pbytes / meta["n_postings"], 3
    )
    result["sidecar_segments"] = pm["n_segments"]

    eng = SearchEngine(spark, idx)
    eng.search("w4999", k=10)  # warm metadata/session
    ls = LocalSearcher(idx)
    ls.search("w4999", k=10)
    sh = ShardedSearcher(idx, n_shards=4, parallel=True)
    sh.search("w4999", k=10)

    def run(tier_name, obj):
        per: list[dict] = []
        for _t in range(trials):
            tr = {"loadavg": round(os.getloadavg()[0], 2)}
            t0 = time.time()
            pres = [obj.search_phrase(q, k=10) for q in PHRASE_QUERIES]
            tr["phrase_s"] = round(time.time() - t0, 4)
            t0 = time.time()
            nres = [
                obj.search_near(q, k=10, window=w) for q, w in NEAR_QUERIES
            ]
            tr["near_s"] = round(time.time() - t0, 4)
            t0 = time.time()
            xres = [obj.search_proximity(q, k=10) for q in PROX_QUERIES]
            tr["prox_s"] = round(time.time() - t0, 4)
            per.append(tr)
        return per, pres, nres, xres

    tiers = {}
    ref = {}
    for name, obj in (
        ("distributed", eng), ("serving", ls), ("sharded4", sh)
    ):
        per, pres, nres, xres = run(name, obj)
        tiers[name] = {
            "per_trial": per,
            "phrase_s": min(t["phrase_s"] for t in per),
            "near_s": min(t["near_s"] for t in per),
            "prox_s": min(t["prox_s"] for t in per),
            "phrase_qps": round(
                len(PHRASE_QUERIES) / max(min(t["phrase_s"] for t in per), 1e-9), 2
            ),
            "near_qps": round(
                len(NEAR_QUERIES) / max(min(t["near_s"] for t in per), 1e-9), 2
            ),
            "prox_qps": round(
                len(PROX_QUERIES) / max(min(t["prox_s"] for t in per), 1e-9), 2
            ),
        }
        if name == "distributed":
            ref = {"p": pres, "n": nres, "x": xres}
        else:  # three-tier identity at 10M docs
            mism = sum(
                1
                for a, b in zip(
                    ref["p"] + ref["n"] + ref["x"], pres + nres + xres
                )
                if list(a) != list(b)
            )
            tiers[name]["mismatches_vs_distributed"] = mism
    result["tiers"] = tiers

    # candidate-range pruning effectiveness: fraction of the sidecar's
    # segments the serving verify actually reads for a representative
    # phrase (hot+hot) and a tail phrase
    import numpy as np

    import pyarrow.dataset as pads

    from deusu_spark.queryplan import coarsen_intervals, merge_intervals

    ds = pads.dataset(pos_dir, partitioning="hive")
    total_segs = pm["n_segments"]
    prune = {}
    for q in ("linux kernel", "w0042 w0100"):
        pat = posmod.phrase_pattern(q)
        rows = ls.search(" ".join(t for _, t in pat), k=256)
        cand = np.asarray(sorted(d for d, _ in rows), dtype=np.int64)
        if len(cand) == 0:
            prune[q] = {"segments_read": 0, "of_total": total_segs,
                        "fraction": 0.0, "note": "no AND candidates"}
            continue
        iv = coarsen_intervals(merge_intervals(np.stack([cand, cand], axis=1)), 64)
        read = 0
        for _, t in pat:
            from zlib import crc32

            flt = (pads.field("bucket") == (crc32(t.encode()) % 64)) & (
                pads.field("term") == t
            )
            sub = ds.to_table(filter=flt, columns=["first_doc", "last_doc"])
            fd = sub["first_doc"].to_numpy()
            ld = sub["last_doc"].to_numpy()
            for lo, hi in iv:
                read += int(((fd <= hi) & (ld >= lo)).sum())
        prune[q] = {
            "segments_read": read,
            "of_total": total_segs,
            "fraction": round(read / max(total_segs, 1), 6),
        }
    result["candidate_pruning"] = prune
    result["loadavg_end"] = round(os.getloadavg()[0], 2)

    out = os.path.join(REPO, "bench", "POSITIONS_SCALE10.json")
    with open(out, "w") as f:
        json.dump(result, f, indent=1)
    print(json.dumps(result, indent=1))


if __name__ == "__main__":
    main()
