#!/usr/bin/env python
"""Heaps-law vocabulary-growth validation (closes SCALE.md's last
extrapolated claim): the stock synthetic corpus has a FIXED 5k-term
vocabulary, so the lexicon/dict-encoding behavior under a growing
real-text vocabulary was never measured. This harness builds the same
corpus WITH a unique rare token on every Nth turn (synth.gen_transcripts
rare_every), growing the vocabulary linearly with the corpus, and
reports:

  * vocabulary size and lexicon bytes/term at each corpus size,
  * whether the fused dict-encoding (int64 term ids under
    DICT_VOCAB_MAX) still engages, and the build throughput with a
    ~million-term vocabulary vs the 5k-term baseline,
  * the same build FORCED over the cap (a child process sets
    build.DICT_VOCAB_MAX = 0) — the string-layout fallback — with rank
    identity between the two indexes (they must be identical),
  * a rare-term query answered correctly (df=1 terms stress the
    per-term metadata path the hot-term tests never touch).

Usage: python bench/vocab_growth.py            (~6-10 min)
Env:   SPARK_GRAFT_VG_CONVS  (default 200000 ≈ 2M turns, ~1M rare terms
       at rare_every=2), SPARK_GRAFT_VG_RARE_EVERY (default 2)
Writes bench/VOCAB_GROWTH.json; merge conclusions into SCALE.md.
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

CHUNK = 100_000


def ensure_corpus(n_convs: int, rare_every: int) -> str:
    from deusu_spark import synth

    d = os.path.join(
        tempfile.gettempdir(),
        f"deusu_vg_corpus_{n_convs}_{rare_every}",
    )
    marker = os.path.join(d, "_READY")
    if os.path.exists(marker):
        return d
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    for start in range(0, n_convs, CHUNK):
        n = min(CHUNK, n_convs - start)
        synth.write_parquet(
            synth.gen_transcripts(
                n, seed=synth.SEED + start, start=start,
                rare_every=rare_every,
            ),
            os.path.join(d, f"chunk-{start:08d}.parquet"),
        )
    with open(marker, "w") as f:
        f.write("ready\n")
    return d


def build_once(corpus: str, tag: str, dict_vocab_max: int | None = None) -> dict:
    """Child-process build (``dict_vocab_max`` overrides
    build.DICT_VOCAB_MAX there) — returns metrics + the index dir (kept
    for the identity check)."""
    code = f"""
import json, os, sys, time
sys.path.insert(0, {REPO!r})
os.environ['SPARK_GRAFT_CPUS'] = '8'
from deusu_spark import build
if {dict_vocab_max!r} is not None:
    build.DICT_VOCAB_MAX = {dict_vocab_max!r}
from deusu_spark.build import build_index, current_index_dir
from deusu_spark.session import get_spark
spark = get_spark(app='vg-{tag}', master='local[8]', shuffle_partitions=64)
spark.sparkContext.setLogLevel('ERROR')
sdf = spark.read.parquet({corpus!r})
idx = {json.dumps(os.path.join(tempfile.gettempdir(), "deusu_vg_idx_"))} + {tag!r}
import shutil; shutil.rmtree(idx, ignore_errors=True)
t0 = time.time()
m = build_index(spark, sdf, idx, fancy_threshold=50000)
wall = time.time() - t0
vdir = current_index_dir(idx)
meta = json.load(open(os.path.join(vdir, 'meta.json')))
lex_bytes = sum(
    os.path.getsize(os.path.join(dp, f))
    for dp, _, fs in os.walk(os.path.join(vdir, 'lexicon')) for f in fs)
print('RESULT ' + json.dumps({{
    'idx': idx, 'wall_s': round(wall, 1),
    'postings': m['n_postings'],
    'postings_per_s': round(m['n_postings'] / wall, 1),
    'unique_words': meta['unique_words'],
    'lexicon_bytes': lex_bytes,
}}))
"""
    out = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True, text=True,
        env=dict(os.environ, PYTHONPATH=REPO),
    )
    lines = [
        ln for ln in out.stdout.splitlines() if ln.startswith("RESULT ")
    ]
    if not lines:
        sys.stderr.write(out.stdout[-2000:] + out.stderr[-4000:])
        raise SystemExit(f"build {tag} failed")
    return json.loads(lines[-1][7:])


def main() -> None:
    n_convs = int(os.environ.get("SPARK_GRAFT_VG_CONVS", "200000"))
    rare_every = int(os.environ.get("SPARK_GRAFT_VG_RARE_EVERY", "2"))
    corpus = ensure_corpus(n_convs, rare_every)

    # dict path (default cap 2M — ~1M-term vocab stays under it)
    dict_res = build_once(corpus, "dict")
    # string fallback (cap forced below the vocab)
    str_res = build_once(corpus, "str", dict_vocab_max=0)

    # identity + rare-term query check on both indexes
    os.environ["SPARK_GRAFT_CPUS"] = "8"
    from deusu_spark.query_local import LocalSearcher

    ls_d = LocalSearcher(dict_res["idx"])
    ls_s = LocalSearcher(str_res["idx"])
    queries = ["linux", "w0042", "linux w0001", "r0x0", "r2x1",
               "linux -google", "w0100 w0005 linux"]
    mismatches = [
        q for q in queries
        if ls_d.search(q, k=10) != ls_s.search(q, k=10)
    ]
    rare_hits = len(ls_d.search("r0x0", k=10))

    result = {
        "n_convs": n_convs,
        "rare_every": rare_every,
        "dict_path": dict_res,
        "string_fallback": str_res,
        "vocab_terms": dict_res["unique_words"],
        "lexicon_bytes_per_term": round(
            dict_res["lexicon_bytes"] / dict_res["unique_words"], 1
        ),
        "dict_vs_string_rank_mismatches": mismatches,
        "rare_term_query_hits": rare_hits,
    }
    with open(os.path.join(REPO, "bench", "VOCAB_GROWTH.json"), "w") as f:
        json.dump(result, f, indent=1)
    print(json.dumps(result, indent=1))
    for r in (dict_res, str_res):
        shutil.rmtree(r["idx"], ignore_errors=True)


if __name__ == "__main__":
    main()
