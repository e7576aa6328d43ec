#!/usr/bin/env python3
"""Benchmark of the search engine's index and serving paths.

    python3 perfbench/run.py --workload serve_zipf --seed 1 --seconds 10 --trace 0

Run from the repository root. The engine (``deusu_spark``) is imported from
the directory above this file; Spark runs in this process at
``local[nproc]``. Inputs are generated from ``--seed`` (perfbench/gen.py).

Workloads:

- ``serve_zipf``: user-facing traffic. The base index is built in set-up;
  one closed-loop client then requests rendered pages
  (``serving.search_render`` over one ``LocalSearcher``) drawn Zipf-wise from
  16,384 distinct queries, for ``--seconds``. Caches are warm.
- ``churn``: writes beside reads on the same kind of base index. An
  ``incremental_update`` appends new conversations and
  ``delete_conversations`` takes some down; after each write a fresh
  ``LocalSearcher`` opens the new CURRENT version and serves the same kind
  of stream for ``--seconds / 2`` (and at least 100 pages). Every window
  starts on cold caches.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``, as listed in BENCHMARK.json). The line
before it records the run's context (Spark master, nproc, load average).
Correctness checks run after the timed regions and count into ``failed``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import resource
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
WORKLOADS = ("serve_zipf", "churn")

# Build arguments shared by every index the benchmark builds (bench.py's).
FANCY_THRESHOLD = 1000
BUCKET_GROUPS = 2
SHOWCOUNT = 10
# Requests served before the timed serve_zipf window starts.
WARMUP_REQUESTS = 20
# A run serves at least 200 timed requests, so its p95 always has at least
# ten samples beyond it; churn splits them over its two windows. p95 sits
# inside the new-heavy tenth of the request schedule; p90 would sit on its
# boundary with the cheaper page-2/3 heavy requests.
MIN_TIMED_REQUESTS = 200
ORACLE_SAMPLE = 32
BATCH_SAMPLE = 16
STREAM_LEN = 20_000


@dataclass(frozen=True)
class Sizes:
    base_convs: int = 500
    delta_convs: int = 50
    delete_convs: int = 10
    population: int = 16_384


@dataclass
class Outcome:
    """What a run measured and which operations failed."""

    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    e2e: dict[str, float] = field(default_factory=dict)
    layer: dict[str, float] = field(default_factory=dict)
    latencies: list[float] = field(default_factory=list)
    serve_s: float = 0.0
    # (query, startwith, doc ids shown) per served page
    served: list[tuple[str, int, list[int]]] = field(default_factory=list)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.problems) < 20:
                self.problems.append(what)


E2E_UNITS = {
    "setup_s": "s",
    "build_postings_per_s": "1/s",
    "index_bytes_per_text_byte": "B/B",
    "render_p95_ms": "ms",
    "serve_qps": "1/s",
    "driver_peak_rss_mb": "MB",
}

LAYER_UNITS = {
    "build.docs_s": "s",
    "build.docmeta_s": "s",
    "build.lexicon_s": "s",
    "build.segments_s": "s",
    "build.publish_s": "s",
    "build.tokenize_s": "s",
    "build.spark_jobs": "count",
    "codec.bytes_per_posting": "B",
    "codec.decode_postings_per_s": "1/s",
    "query.open_s": "s",
    "query.search_many_s": "s",
    "query.spark_jobs_per_batch": "count",
    "queryplan.compile_ms": "ms",
    "query_local.open_s": "s",
    "query_local.search_ms": "ms",
    "query_local.term_cache_hit_ratio": "ratio",
    "query_local.term_cache_evictions": "count",
    "query_local.result_cache_hit_ratio": "ratio",
    "rerank.fetch_ms": "ms",
    "rerank.adjust_ms": "ms",
    "rerank.post_process_ms": "ms",
    "rerank.rows_fetched_per_row_shown": "ratio",
    "highlight.ms": "ms",
    "serving.render_self_ms": "ms",
    "serving.render_p50_ms": "ms",
    "incremental.append_s": "s",
    "incremental.delete_s": "s",
    "incremental.append_visible_s": "s",
    "incremental.delete_visible_s": "s",
    "trace.spans": "count",
    "trace.render_p95_ms": "ms",
    "trace.overhead_ms_per_request": "ms",
}


# ---------------------------------------------------------------------------
# Spark session lifetime
# ---------------------------------------------------------------------------


# Environment variables start_spark sets for the JVM and its Python workers.
SPARK_ENV = ("PYTHONPATH", "SPARK_LOCAL_DIRS", "TMPDIR", "SPARK_LAUNCHER_OPTS")


def start_spark(work: str):
    """Spark at local[nproc], with every scratch file inside ``work``."""
    from deusu_spark.session import get_spark

    nproc = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    # Python workers import the engine from the checkout root.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # the JVMs write no hsperfdata file under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    tempfile.tempdir = tmp
    spark = get_spark(
        app="perfbench",
        master=f"local[{nproc}]",
        shuffle_partitions=nproc,
        extra={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def parquet_frame(spark, pdf, path: str):
    """Hand a generated table to Spark the way transcripts arrive: as a
    parquet file."""
    from deusu_spark import synth

    synth.write_parquet(pdf, path)
    return spark.read.parquet(path)


def job_count(spark, group: str) -> int:
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


# ---------------------------------------------------------------------------
# Tracing
# ---------------------------------------------------------------------------


def install_tracing(tracer) -> None:
    """Wrap the engine's public entry points (the layers) in spans."""
    from deusu_spark import build, highlight, incremental, query, query_local, serving

    LS = query_local.LocalSearcher
    tracer.wrap(build, "build_index", "build.build_index")
    tracer.wrap(query.SearchEngine, "__init__", "query.open")
    tracer.wrap(query.SearchEngine, "search_many", "query.search_many")
    tracer.wrap(LS, "__init__", "query_local.open")
    tracer.wrap(LS, "search", "query_local.search")
    tracer.wrap(query_local, "compile_query", "queryplan.compile")
    tracer.wrap(LS, "fetch_results", "rerank.fetch", count=lambda a, r: len(a[1]))
    tracer.wrap(serving, "adjust_ranking", "rerank.adjust")
    tracer.wrap(serving, "post_process", "rerank.post_process")
    tracer.wrap(highlight, "highlight_results", "highlight")
    tracer.wrap(serving, "search_render", "serving.search_render",
                count=lambda a, r: len(r))
    tracer.wrap(incremental, "incremental_update", "incremental.append")
    tracer.wrap(incremental, "delete_conversations", "incremental.delete")


# ---------------------------------------------------------------------------
# Serving
# ---------------------------------------------------------------------------


def serve(out: Outcome, searcher, stream, pos: int, until: float,
          min_requests: int, tracer, deleted: frozenset = frozenset()) -> int:
    """Closed loop, one client: request the next page once the previous one
    has rendered, until ``until`` (perf_counter) has passed and at least
    ``min_requests`` were sent, stopping on a whole turn of the request
    schedule so the mix is exact. Returns the next stream position."""
    from deusu_spark import serving
    from perfbench.gen import SCHEDULE

    sent = 0
    t_start = time.perf_counter()
    while (sent < min_requests or time.perf_counter() < until
           or sent % len(SCHEDULE)):
        q, startwith = stream[pos % len(stream)]
        pos += 1
        sent += 1
        if tracer is not None:
            tracer.request = pos
        t0 = time.perf_counter()
        try:
            page = serving.search_render(
                searcher, q, startwith=startwith, showcount=SHOWCOUNT, highlight=True
            )
        except Exception:
            out.check(False, f"search_render({q!r}) raised: {traceback.format_exc(limit=2)}")
            continue
        out.latencies.append(time.perf_counter() - t0)
        ids = [r.doc_id for r in page]
        out.served.append((q, startwith, ids))
        out.check(
            len(ids) <= SHOWCOUNT and not deleted.intersection(ids),
            f"bad page for {q!r} at {startwith}: {ids}",
        )
    if tracer is not None:
        tracer.request = None
    out.serve_s += time.perf_counter() - t_start
    return pos


def cache_counters(searchers) -> dict[str, float]:
    th = sum(s.term_cache_hits for s in searchers)
    tm = sum(s.term_cache_misses for s in searchers)
    rh = sum(s.cache_hits for s in searchers)
    rm = sum(s.cache_misses for s in searchers)
    return {
        "query_local.term_cache_hit_ratio": th / max(th + tm, 1),
        "query_local.term_cache_evictions": float(
            sum(s.term_cache_evictions for s in searchers)
        ),
        "query_local.result_cache_hit_ratio": rh / max(rh + rm, 1),
    }


# ---------------------------------------------------------------------------
# Index facts
# ---------------------------------------------------------------------------


def published_bytes(index_dir: str) -> int:
    from deusu_spark.build import current_index_dir

    vdir = current_index_dir(index_dir)
    total = 0
    for sub in ("docmeta", "lexicon", "postings"):
        for root, _dirs, files in os.walk(os.path.join(vdir, sub)):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def text_bytes(*frames) -> int:
    return sum(int(df["text"].str.encode("utf-8").str.len().sum()) for df in frames)


def lineage_walls(lineage_path: str) -> dict[str, float]:
    walls: dict[str, float] = {}
    with open(lineage_path) as f:
        for line in f:
            rec = json.loads(line)
            walls[rec["step"]] = float(rec.get("wall_s", 0.0))
    return walls


def decode_all(index_dir: str) -> tuple[int, int, float]:
    """Decode every published posting blob. Returns (postings decoded,
    postings the segment metadata declares, seconds)."""
    import pyarrow.dataset as pads

    from deusu_spark import codec
    from deusu_spark.build import current_index_dir

    vdir = current_index_dir(index_dir)
    t = pads.dataset(os.path.join(vdir, "postings"), partitioning="hive").to_table(
        columns=["blob", "n"]
    )
    blobs = t["blob"].to_pylist()
    t0 = time.perf_counter()
    decoded = sum(len(codec.decode(b)[0]) for b in blobs)
    return decoded, int(t["n"].to_numpy().sum()), time.perf_counter() - t0


# ---------------------------------------------------------------------------
# Correctness checks (outside every timed region)
# ---------------------------------------------------------------------------


def check_results(out: Outcome, searcher, corpus_pdf, deleted_convs: list[str],
                  seed: int) -> list[str]:
    """Served results against the oracle on a seeded sample of the queries
    this run served (exact doc ids and integer scores). Returns the sample."""
    import numpy as np

    from deusu_spark.oracle import oracle

    distinct = sorted({q for q, _, _ in out.served})
    rng = np.random.default_rng([seed, 99])
    sample = [distinct[i] for i in rng.permutation(len(distinct))[:ORACLE_SAMPLE]]

    oidx = oracle.build_index(corpus_pdf, fancy_threshold=FANCY_THRESHOLD)
    if deleted_convs:
        dels = set(deleted_convs)
        oidx = oracle.with_deletions(
            oidx, [d for d, (c, _) in enumerate(oidx.doc_keys) if c in dels]
        )
    for q in sample:
        got = searcher.search(q, k=10)
        out.check(got == oracle.search(oidx, q, k=10), f"oracle mismatch for {q!r}")
    return sample


def check_batch(out: Outcome, spark, index_dir: str, searcher,
                queries: list[str]) -> None:
    """The distributed engine's batch path (SearchEngine.search_many) must
    return what the serving engine returns for each query."""
    from deusu_spark import query

    sc = spark.sparkContext
    sc.setJobGroup("perfbench.query", "search_many batch")
    eng = query.SearchEngine(spark, index_dir)
    t0 = time.perf_counter()
    many = eng.search_many(queries, k=10)
    out.layer["query.search_many_s"] = time.perf_counter() - t0
    sc.setJobGroup("perfbench.other", "checks")
    out.layer["query.spark_jobs_per_batch"] = float(job_count(spark, "perfbench.query"))
    for q, rows in zip(queries, many):
        out.check(rows == searcher.search(q, k=10), f"search_many differs for {q!r}")


# ---------------------------------------------------------------------------
# Workloads
# ---------------------------------------------------------------------------


def run(workload: str, seed: int, seconds: float, trace: bool,
        sizes: Sizes = Sizes()) -> dict:
    """One benchmark run; returns the result object."""
    from perfbench import gen
    from perfbench.trace import Tracer, span_cost_s

    from deusu_spark import build, query_local

    if workload not in WORKLOADS:
        raise ValueError(f"unknown workload {workload!r}")
    os.makedirs(WORK_ROOT, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{workload}_", dir=WORK_ROOT)
    out = Outcome()
    tracer = Tracer() if trace else None
    spark = None
    saved_env = {k: os.environ.get(k) for k in SPARK_ENV}
    try:
        # ---- set-up: inputs, session, base build, searcher warm-up --------
        t_setup = time.perf_counter()
        base_pdf = gen.corpus(seed, sizes.base_convs)
        population = gen.query_population(seed, sizes.population)
        stream = gen.request_stream(seed, population, STREAM_LEN)
        spark = start_spark(work)
        sc = spark.sparkContext
        if tracer is not None:
            install_tracing(tracer)
        index_dir = os.path.join(work, "index")
        base_sdf = parquet_frame(spark, base_pdf, os.path.join(work, "base.parquet"))
        sc.setJobGroup("perfbench.build", "base build")
        t0 = time.perf_counter()
        bm = build.build_index(
            spark, base_sdf, index_dir,
            fancy_threshold=FANCY_THRESHOLD, bucket_groups=BUCKET_GROUPS,
        )
        build_s = time.perf_counter() - t0
        sc.setJobGroup("perfbench.other", "serving")
        out.e2e["build_postings_per_s"] = bm["n_postings"] / build_s
        out.layer["build.spark_jobs"] = float(job_count(spark, "perfbench.build"))
        walls = lineage_walls(bm["lineage"])
        for step in ("docs", "docmeta", "lexicon", "publish"):
            out.layer[f"build.{step}_s"] = walls.get(step, 0.0)
        out.layer["build.segments_s"] = sum(
            w for s, w in walls.items() if s.startswith("segments") or s == "scatter"
        )
        out.layer["codec.bytes_per_posting"] = bm["compressed_bytes"] / bm["n_postings"]

        if workload == "serve_zipf":
            ls = query_local.LocalSearcher(index_dir)
            pos = serve(Outcome(), ls, stream, 0, 0.0, WARMUP_REQUESTS, None)
        out.e2e["setup_s"] = time.perf_counter() - t_setup

        # ---- timed region --------------------------------------------------
        if workload == "serve_zipf":
            serve(out, ls, stream, pos, time.perf_counter() + seconds,
                  MIN_TIMED_REQUESTS, tracer)
            searchers, live_pdf, deleted = [ls], base_pdf, []
        else:
            searchers, live_pdf, deleted = churn_writes(
                out, spark, work, index_dir, stream, seed, seconds, sizes,
                base_pdf, tracer,
            )
            ls = searchers[-1]

        # ---- end-to-end metrics -------------------------------------------
        out.e2e["driver_peak_rss_mb"] = (
            resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        )
        lat_ms = [x * 1000.0 for x in out.latencies]
        out.e2e["render_p95_ms"] = percentile(lat_ms, 0.95)
        out.e2e["serve_qps"] = len(out.latencies) / out.serve_s
        out.e2e["index_bytes_per_text_byte"] = published_bytes(index_dir) / text_bytes(
            live_pdf
        )
        layer_cache = cache_counters(searchers)

        # ---- correctness checks (untimed) ---------------------------------
        sample = check_results(out, ls, live_pdf, deleted, seed)

        # ---- per-layer metrics (and the batch-path check) ------------------
        if tracer is not None:
            check_batch(out, spark, index_dir, ls, sample[:BATCH_SAMPLE])
            tracer_layers(out, tracer, spark, base_sdf, index_dir, layer_cache,
                          lat_ms, span_cost_s())
            tracer.unwrap_all()
            os.makedirs(os.path.join(WORK_ROOT, "traces"), exist_ok=True)
            tracer.dump(os.path.join(WORK_ROOT, "traces", f"{workload}_seed{seed}.jsonl"))
    finally:
        if tracer is not None:
            tracer.unwrap_all()
        if spark is not None:
            stop_spark(spark)
        for k, v in saved_env.items():
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v
        tempfile.tempdir = None
        shutil.rmtree(work, ignore_errors=True)

    for p in out.problems:
        print(f"perfbench: {p}", file=sys.stderr)
    units = LAYER_UNITS if trace else E2E_UNITS
    values = out.layer if trace else out.e2e
    return {
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
    }


def churn_writes(out: Outcome, spark, work: str, index_dir: str, stream, seed: int,
                 seconds: float, sizes: Sizes, base_pdf, tracer):
    """churn's timed region: append, then delete; after each write a fresh
    searcher proves the write visible and serves a window of the stream.
    Returns (searchers used, live corpus, deleted conversation ids)."""
    import numpy as np
    import pandas as pd

    from deusu_spark import incremental, query_local
    from perfbench import gen

    delta_pdf = gen.delta(seed, sizes.base_convs, sizes.delta_convs)
    delta_sdf = parquet_frame(spark, delta_pdf, os.path.join(work, "delta.parquet"))
    probe_new = f"host:conv{sizes.base_convs:08d}"
    t0 = time.perf_counter()
    incremental.incremental_update(spark, index_dir, delta_sdf, bucket_groups=BUCKET_GROUPS)
    appended = query_local.LocalSearcher(index_dir)
    new_rows = appended.search(probe_new, k=10)
    out.layer["incremental.append_visible_s"] = time.perf_counter() - t0
    out.check(
        bool(new_rows) and all(d >= len(base_pdf) for d, _ in new_rows),
        f"appended docs not returned for {probe_new!r}: {new_rows}",
    )
    pos = serve(out, appended, stream, 0, time.perf_counter() + seconds / 2,
                MIN_TIMED_REQUESTS // 2, tracer)

    deleted = gen.deleted_convs(seed, sizes.base_convs, sizes.delete_convs)
    probe_gone = f"host:{deleted[0]}"
    t0 = time.perf_counter()
    incremental.delete_conversations(spark, index_dir, deleted)
    pruned = query_local.LocalSearcher(index_dir)
    gone_rows = pruned.search(probe_gone, k=10)
    out.layer["incremental.delete_visible_s"] = time.perf_counter() - t0
    out.check(not gone_rows, f"deleted docs returned for {probe_gone!r}: {gone_rows}")
    live_pdf = pd.concat([base_pdf, delta_pdf], ignore_index=True)
    # doc ids are dense in (conv_id, turn_idx) order
    order = live_pdf.sort_values(["conv_id", "turn_idx"], kind="mergesort")
    deleted_ids = frozenset(int(i) for i in np.flatnonzero(order["conv_id"].isin(deleted)))
    serve(out, pruned, stream, pos, time.perf_counter() + seconds / 2,
          MIN_TIMED_REQUESTS // 2, tracer, deleted_ids)
    return [appended, pruned], live_pdf, deleted


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile; requires at least ten samples beyond it."""
    xs = sorted(values)
    rank = math.ceil(round(q * len(xs), 9))
    if len(xs) - rank < 10:
        raise ValueError(f"{len(xs)} samples cannot support p{round(q * 100)}")
    return xs[rank - 1]


def tracer_layers(out: Outcome, tracer, spark, base_sdf, index_dir: str,
                  cache: dict[str, float], lat_ms: list[float],
                  span_cost: float) -> None:
    """Per-layer metrics from the spans of the served requests, plus the
    two layer probes that only the traced run makes (tokenize, decode)."""
    from pyspark.sql import functions as F

    from deusu_spark import build

    n_req = len(out.latencies)

    def per_request_ms(name: str) -> float:
        return sum(tracer.self_times(name)) * 1000.0 / n_req

    def total_s(name: str) -> float:
        return sum(s.duration for s in tracer.named(name, requests_only=False))

    def mean_s(name: str) -> float:
        spans = tracer.named(name, requests_only=False)
        return total_s(name) / max(len(spans), 1)

    lay = out.layer
    lay["queryplan.compile_ms"] = per_request_ms("queryplan.compile")
    lay["query_local.search_ms"] = per_request_ms("query_local.search")
    lay["rerank.fetch_ms"] = per_request_ms("rerank.fetch")
    lay["rerank.adjust_ms"] = per_request_ms("rerank.adjust")
    lay["rerank.post_process_ms"] = per_request_ms("rerank.post_process")
    lay["highlight.ms"] = per_request_ms("highlight")
    lay["serving.render_self_ms"] = per_request_ms("serving.search_render")
    fetched = sum(s.n or 0 for s in tracer.named("rerank.fetch"))
    shown = sum(s.n or 0 for s in tracer.named("serving.search_render"))
    lay["rerank.rows_fetched_per_row_shown"] = fetched / max(shown, 1)
    lay.update(cache)
    lay["query_local.open_s"] = mean_s("query_local.open")
    lay["query.open_s"] = mean_s("query.open")
    lay["incremental.append_s"] = total_s("incremental.append")
    lay["incremental.delete_s"] = total_s("incremental.delete")
    lay.setdefault("incremental.append_visible_s", 0.0)
    lay.setdefault("incremental.delete_visible_s", 0.0)
    request_spans = sum(1 for s in tracer.spans if s.request is not None)
    lay["trace.spans"] = float(len(tracer.spans))
    lay["serving.render_p50_ms"] = statistics.median(lat_ms)
    lay["trace.render_p95_ms"] = percentile(lat_ms, 0.95)
    lay["trace.overhead_ms_per_request"] = request_spans / n_req * span_cost * 1000.0

    tok = base_sdf.withColumn("rank", F.lit(-1)).withColumn(
        "backlinks", F.lit(1).cast("long")
    )
    t0 = time.perf_counter()
    build.tokenized_docs(tok).write.format("noop").mode("overwrite").save()
    lay["build.tokenize_s"] = time.perf_counter() - t0
    decoded, declared, decode_s = decode_all(index_dir)
    out.check(decoded == declared, f"decoded {decoded} postings, segments declare {declared}")
    lay["codec.decode_postings_per_s"] = decoded / decode_s


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import deusu_spark.build  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    nproc = len(os.sched_getaffinity(0))
    context = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "master": f"local[{nproc}]",
        "nproc": nproc,
        "loadavg_1m_start": os.getloadavg()[0],
    }
    result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    context["loadavg_1m_end"] = os.getloadavg()[0]
    print(json.dumps({"context": context}))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
