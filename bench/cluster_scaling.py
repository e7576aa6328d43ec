#!/usr/bin/env python
"""REAL-cluster scaling harness: the north rule's deployment shape, measured.

Boots a Spark STANDALONE cluster on localhost (one master + N worker JVMs,
2 cores / 6g each) and `spark-submit --py-files deusu_spark.zip`s the SAME
index build at two cluster sizes — N=1 executor vs 4N=4 executors — on
identical parquet input. Executors are real separate JVMs with network
shuffle between them, scheduled by a real master: the closest a single
sandbox host can get to "N and 4N executor clusters" (tests/test_cluster.py
pins the rank-identity of this deployment shape; this harness measures its
throughput).

Caveat stays the caveat (BENCH.md): all worker JVMs share this ONE host's
memory bus and its ~0.3 GB/s fresh-page ceiling, so the absolute efficiency
here carries the same host bound as the local[2]-vs-local[8] proxy — the
added signal is that the measurement now includes real executor scheduling,
cross-JVM (network) shuffle and per-executor memory pools, i.e. every piece
of the multi-executor story except separate memory buses.

Each (level, trial) boots a FRESH cluster (master + workers + app JVMs die
between trials); levels are interleaved and the minimum wall per level is
kept, per the host-noise methodology in BENCH.md.
"""

from __future__ import annotations

import json
import os
import shutil
import socket
import subprocess
import sys
import tempfile
import textwrap
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# the timed job, submitted via spark-submit --py-files (imports must resolve
# from the zip). Times ONLY the build (session + corpus staging untimed),
# mirrors bench/scaling.py run_level, and reports the executor count the
# master actually granted so a mis-sized cluster can never masquerade as a
# scaling result.
JOB = textwrap.dedent(
    """
    import json, os, sys, tempfile, time

    import deusu_spark
    assert ".zip" in deusu_spark.__file__, deusu_spark.__file__
    from deusu_spark.build import build_index
    from deusu_spark.session import get_spark

    master_url, corpus_path, n_exec = sys.argv[1], sys.argv[2], int(sys.argv[3])
    exec_mem = os.environ.get("SPARK_GRAFT_CSCALE_EXEC_MEM", "4g")
    spark = get_spark(
        app=f"deusu-cscale-{n_exec}",
        master=master_url,
        shuffle_partitions=2 * n_exec,
        extra={
            "spark.executor.cores": "2",
            "spark.executor.memory": exec_mem,
            "spark.cores.max": str(2 * n_exec),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    sdf = spark.read.parquet(corpus_path)
    idx_dir = tempfile.mkdtemp(prefix=f"deusu_cscale_{n_exec}_")
    t0 = time.time()
    metrics = build_index(
        spark, sdf, idx_dir,
        fancy_threshold=max(1000, int(sys.argv[4]) // 4),
    )
    build_s = time.time() - t0
    # executors granted (exclude the driver entry)
    execs = spark.sparkContext._jsc.sc().getExecutorMemoryStatus().size() - 1
    stages = {}
    lp = metrics.get("lineage")
    if lp and os.path.exists(lp):
        with open(lp) as f:
            for line in f:
                rec = json.loads(line)
                if rec.get("status") == "done" and "wall_s" in rec:
                    stages[rec["step"]] = round(rec["wall_s"], 2)
    import shutil as _sh
    _sh.rmtree(idx_dir, ignore_errors=True)
    print("RESULT " + json.dumps({
        "executors": execs,
        "build_s": round(build_s, 2),
        "postings": metrics["n_postings"],
        "postings_per_s": round(metrics["n_postings"] / build_s, 1),
        "stages": stages,
    }))
    """
)


def _spark_home() -> str | None:
    sub = shutil.which("spark-submit")
    if not sub:
        return None
    home = os.path.dirname(os.path.dirname(os.path.realpath(sub)))
    cls = os.path.join(home, "bin", "spark-class")
    return home if os.path.exists(cls) else None


def _free_port() -> int:
    s = socket.socket()
    s.bind(("127.0.0.1", 0))
    port = s.getsockname()[1]
    s.close()
    return port


def _wait_for(pred, timeout_s: float, what: str) -> None:
    t0 = time.time()
    while time.time() - t0 < timeout_s:
        if pred():
            return
        time.sleep(1.0)
    raise RuntimeError(f"timed out waiting for {what}")


def run_level(
    home: str, zpath: str, jobpath: str, corpus: str, n_workers: int,
    n_convs: int,
) -> dict:
    """Boot master + n_workers fresh, submit the timed job, tear down."""
    spark_class = os.path.join(home, "bin", "spark-class")
    tmp = tempfile.mkdtemp(prefix=f"deusu_cscale_cluster_{n_workers}_")
    mport = _free_port()
    env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1",
               PYSPARK_PYTHON=sys.executable)
    mlog_path = os.path.join(tmp, "master.log")
    mlog = open(mlog_path, "wb")
    procs = []
    try:
        procs.append(subprocess.Popen(
            [spark_class, "org.apache.spark.deploy.master.Master",
             "--host", "127.0.0.1", "--port", str(mport),
             "--webui-port", str(_free_port())],
            stdout=mlog, stderr=subprocess.STDOUT, env=env,
        ))

        def _master_up():
            try:
                socket.create_connection(("127.0.0.1", mport), 1).close()
                return True
            except OSError:
                return False

        _wait_for(_master_up, 60, "master RPC port")
        for i in range(n_workers):
            procs.append(subprocess.Popen(
                [spark_class, "org.apache.spark.deploy.worker.Worker",
                 f"spark://127.0.0.1:{mport}",
                 "--cores", "2",
                 "--memory", os.environ.get("SPARK_GRAFT_CSCALE_WORKER_MEM", "6g"),
                 "--webui-port", str(_free_port()),
                 "--work-dir", os.path.join(tmp, f"work{i}")],
                stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, env=env,
            ))

        def _registered():
            with open(mlog_path, "rb") as f:
                return f.read().decode(errors="replace").count(
                    "Registering worker") >= n_workers

        _wait_for(_registered, 90, f"{n_workers} workers to register")
        out = subprocess.run(
            [os.path.join(home, "bin", "spark-submit"),
             "--master", f"spark://127.0.0.1:{mport}",
             "--driver-memory", "6g",
             "--py-files", zpath, jobpath,
             f"spark://127.0.0.1:{mport}", corpus, str(n_workers),
             str(n_convs)],
            cwd=tmp, capture_output=True, text=True, timeout=1800, env=env,
        )
        lines = [ln for ln in out.stdout.splitlines()
                 if ln.startswith("RESULT ")]
        if not lines:
            raise RuntimeError(
                out.stdout[-2000:] + out.stderr[-4000:]
            )
        res = json.loads(lines[-1][7:])
        res["workers"] = n_workers
        return res
    finally:
        for p in reversed(procs):
            p.terminate()
        for p in procs:
            try:
                p.wait(timeout=20)
            except subprocess.TimeoutExpired:
                p.kill()
        mlog.close()
        shutil.rmtree(tmp, ignore_errors=True)


def main() -> None:
    home = _spark_home()
    if home is None:
        raise SystemExit("no full Spark distribution (spark-class) on PATH")
    n_convs = int(os.environ.get("SPARK_GRAFT_CSCALE_CONVS", "100000"))
    trials = int(os.environ.get("SPARK_GRAFT_CSCALE_TRIALS", "2"))
    levels = tuple(int(x) for x in os.environ.get(
        "SPARK_GRAFT_CSCALE_LEVELS", "1,4").split(","))

    from deusu_spark import synth
    corpus = os.path.join(
        tempfile.gettempdir(), f"deusu_scale_corpus_{n_convs}.parquet")
    if not os.path.exists(corpus):
        synth.write_parquet(synth.gen_transcripts(n_convs), corpus)

    stage_dir = tempfile.mkdtemp(prefix="deusu_cscale_job_")
    zpath = os.path.join(stage_dir, "deusu_spark.zip")
    subprocess.run(
        [sys.executable, "-m", "zipfile", "-c", zpath, "deusu_spark/"],
        cwd=REPO, check=True,
    )
    jobpath = os.path.join(stage_dir, "job.py")
    with open(jobpath, "w") as f:
        f.write(JOB)

    results: dict[int, dict] = {}
    for trial in range(trials):
        for n_workers in levels:
            res = run_level(home, zpath, jobpath, corpus, n_workers, n_convs)
            print(f"trial {trial} workers={n_workers}: "
                  f"{res['build_s']} s ({res['executors']} executors)",
                  flush=True)
            if (n_workers not in results
                    or res["build_s"] < results[n_workers]["build_s"]):
                results[n_workers] = res
    shutil.rmtree(stage_dir, ignore_errors=True)

    lo, hi = results[levels[0]], results[levels[-1]]
    speedup = lo["build_s"] / hi["build_s"]
    eff = speedup / (levels[-1] / levels[0])
    out = {
        "low": lo, "high": hi,
        "build_speedup": round(speedup, 3),
        "scaling_efficiency": round(eff, 3),
        "n_convs": n_convs,
    }
    print(json.dumps(out, indent=1))

    md = f"""# BENCH — REAL standalone-cluster scaling ({levels[0]} vs {levels[-1]} executors)

Same build job, `spark-submit --py-files deusu_spark.zip` at a real
standalone master, {levels[0]} vs {levels[-1]} worker JVMs (2 cores / 4g
executor each), fresh cluster per trial, interleaved, min-of-{trials}
per level. Input: {n_convs} conversations ({lo["postings"]} postings).

| cluster size | executors granted | build wall (s) | postings/s |
|---|---|---|---|
| {levels[0]} worker | {lo["executors"]} | {lo["build_s"]} | {lo["postings_per_s"]} |
| {levels[-1]} workers | {hi["executors"]} | {hi["build_s"]} | {hi["postings_per_s"]} |

Build speedup {levels[0]}→{levels[-1]} executors ({levels[-1] // levels[0]}×
resources): **{speedup:.2f}×** → scaling efficiency **{eff:.2f}**.

All executor JVMs share this one host's memory bus and page-fault ceiling
(BENCH.md), so this number carries the same host bound as the local[2]
vs local[8] proxy — what it adds is real executor scheduling, cross-JVM
shuffle and per-executor memory pools.
"""
    if lo.get("stages") and hi.get("stages"):
        md += (
            "\n## Per-stage walls (min trial per level)\n\n"
            "| stage | %d exec | %d exec | speedup | efficiency |\n"
            "|---|---|---|---|---|\n" % (levels[0], levels[-1])
        )
        for step in lo["stages"]:
            b = hi["stages"].get(step)
            if not b:
                continue
            a = lo["stages"][step]
            sp = a / b
            md += "| %s | %.1f s | %.1f s | %.2fx | %.2f |\n" % (
                step, a, b, sp, sp / (levels[-1] / levels[0]))
    with open(os.path.join(REPO, "bench", "BENCH_CLUSTER.md"), "w") as f:
        f.write(md)


if __name__ == "__main__":
    main()
