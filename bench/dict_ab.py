#!/usr/bin/env python
"""Interleaved A/B of the segment shuffle's two row layouts — int64 dict
term ids (default when the vocab fits build.DICT_VOCAB_MAX) vs term
strings (the child process sets build.DICT_VOCAB_MAX = 0) — at ONE
parallelism level, same input, fresh process per build, min-of-trials
per mode. Cross-window comparisons are invalid on a noisy host (wall
noise +-2-3x), so the modes alternate inside one window.

    SPARK_GRAFT_AB_CORES=8 SPARK_GRAFT_AB_TRIALS=3 python bench/dict_ab.py
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

MODES = ("dict", "string")


def run_one(cores: int, n_convs: int, mode: str) -> dict:
    """One build in this process; ``mode == "string"`` forces the string
    layout by setting the dict cap below any vocabulary."""
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    from deusu_spark import build, synth
    from deusu_spark.session import get_spark

    if mode == "string":
        build.DICT_VOCAB_MAX = 0
    spark = get_spark(
        app=f"deusu-ab-{mode}",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
    )
    spark.sparkContext.setLogLevel("ERROR")
    corpus_path = os.path.join(
        tempfile.gettempdir(), f"deusu_scale_corpus_{n_convs}.parquet"
    )
    if not os.path.exists(corpus_path):
        synth.write_parquet(synth.gen_transcripts(n_convs), corpus_path)
    sdf = spark.read.parquet(corpus_path)
    idx_dir = tempfile.mkdtemp(prefix=f"deusu_ab_{mode}_")
    t0 = time.time()
    metrics = build.build_index(
        spark, sdf, idx_dir, fancy_threshold=max(1000, n_convs // 4)
    )
    build_s = time.time() - t0
    stages: dict[str, float] = {}
    with open(metrics["lineage"]) as f:
        for line in f:
            rec = json.loads(line)
            if rec.get("status") == "done" and "wall_s" in rec:
                stages[rec["step"]] = round(rec["wall_s"], 2)
    shutil.rmtree(idx_dir, ignore_errors=True)
    return {
        "build_s": round(build_s, 2),
        "postings_per_s": round(metrics["n_postings"] / build_s, 1),
        "stages": stages,
    }


def main() -> None:
    if len(sys.argv) == 4 and sys.argv[1] == "--one":
        print(
            "RESULT "
            + json.dumps(
                run_one(int(sys.argv[2]), int(os.environ["_AB_CONVS"]), sys.argv[3])
            )
        )
        return

    cores = int(os.environ.get("SPARK_GRAFT_AB_CORES", "8"))
    trials = int(os.environ.get("SPARK_GRAFT_AB_TRIALS", "3"))
    n_convs = int(os.environ.get("SPARK_GRAFT_AB_CONVS", "100000"))
    best: dict[str, dict] = {}
    seen: dict[str, list] = {m: [] for m in MODES}
    for trial in range(trials):
        order = list(MODES) if trial % 2 == 0 else list(reversed(MODES))
        for mode in order:
            env = dict(os.environ, _AB_CONVS=str(n_convs), PYTHONPATH=REPO)
            out = subprocess.run(
                [
                    sys.executable,
                    os.path.abspath(__file__),
                    "--one",
                    str(cores),
                    mode,
                ],
                capture_output=True,
                text=True,
                env=env,
            )
            line = [
                ln
                for ln in out.stdout.splitlines()
                if ln.startswith("RESULT ")
            ]
            if not line:
                sys.stderr.write(out.stdout[-2000:] + out.stderr[-4000:])
                raise SystemExit(f"{mode} failed")
            res = json.loads(line[-1][7:])
            res["mode"] = mode
            seen[mode].append(res["build_s"])
            if mode not in best or res["build_s"] < best[mode]["build_s"]:
                best[mode] = res
            print(
                f"trial {trial} {mode}: {res['build_s']} s", file=sys.stderr
            )
    print(
        json.dumps(
            {
                "cores": cores,
                "n_convs": n_convs,
                "all_walls": seen,
                "best": best,
                "string_over_dict": round(
                    best["string"]["build_s"] / best["dict"]["build_s"], 3
                ),
                "loadavg": list(os.getloadavg()),
            },
            indent=1,
        )
    )


if __name__ == "__main__":
    main()
