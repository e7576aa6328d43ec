"""Cross-index merge (merge.merge_indexes): two indexes built independently
over an ordered conversation split must merge into an index RANK-IDENTICAL
to the from-scratch build of the whole corpus — same doc_ids, same integer
scores, same df, same fancy coverage — on both engines. Also pins:
segment doc-range disjointness after the merge (incl. rebuilt fancy
holes), meta/stats equality, and tombstone carry-through with shard
doc_id shifting."""

import os
import shutil
import tempfile

import pytest

from tests.conftest import TINY_FANCY_THRESHOLD, TINY_SEG_SIZE
from tests.test_rank_identity import QUERIES

SPLIT = 120  # shard A = first 120 conversations, shard B = the rest


@pytest.fixture(scope="module")
def merge_env(spark, tiny_corpus):
    from deusu_spark.build import build_index
    from deusu_spark.merge import merge_indexes

    root = tempfile.mkdtemp(prefix="deusu_merge_")
    convs = sorted(tiny_corpus["conv_id"].unique())
    parts = [convs[:SPLIT], convs[SPLIT:]]
    dirs = []
    for i, cs in enumerate(parts):
        d = os.path.join(root, f"idx_{i}")
        pdf = tiny_corpus[tiny_corpus["conv_id"].isin(cs)].reset_index(
            drop=True
        )
        build_index(
            spark,
            spark.createDataFrame(pdf),
            d,
            fancy_threshold=TINY_FANCY_THRESHOLD,
            seg_size=TINY_SEG_SIZE,
            n_salts=4,
        )
        dirs.append(d)
    out = os.path.join(root, "merged")
    m = merge_indexes(spark, dirs, out)
    yield root, dirs, out, m
    shutil.rmtree(root, ignore_errors=True)


def test_merge_meta_matches_fresh_build(spark, tiny_index_dir, merge_env):
    import json

    from deusu_spark.build import current_index_dir, lexicon_stats

    _root, _dirs, out, m = merge_env
    with open(os.path.join(current_index_dir(tiny_index_dir), "meta.json")) as f:
        fresh = json.load(f)
    with open(os.path.join(current_index_dir(out), "meta.json")) as f:
        merged = json.load(f)
    assert merged["n_docs"] == fresh["n_docs"] == m["n_docs"]
    assert merged["n_postings"] == fresh["n_postings"]
    assert merged["max_backlinks"] == fresh["max_backlinks"]
    assert merged["unique_words"] == fresh["unique_words"]
    assert merged["word_occurrences"] == fresh["word_occurrences"]
    assert merged["high_df_terms"] == fresh["high_df_terms"]

    def info(root):
        with open(os.path.join(current_index_dir(root), "info.txt"), "rb") as f:
            return f.read()

    assert info(out) == info(tiny_index_dir)
    # no tiny-corpus term reaches INFO_DF_THRESHOLD, so the published lists
    # are empty: compare the shared stats helper at a low threshold too,
    # on both of its paths (pyarrow and Spark)
    stats = []
    for root in (out, tiny_index_dir):
        lex = os.path.join(current_index_dir(root), "lexicon")
        for local in (True, False):
            stats.append(
                lexicon_stats(
                    lex, 2, lambda: spark.read.parquet(lex), local=local
                )
            )
    assert stats[0][2], "threshold 2 should list terms"
    assert all(st == stats[0] for st in stats)


def test_merge_rank_identity_serving(tiny_index_dir, merge_env):
    from deusu_spark.query_local import LocalSearcher

    _root, _dirs, out, _m = merge_env
    fresh = LocalSearcher(tiny_index_dir)
    merged = LocalSearcher(out)
    for q in QUERIES:
        assert merged.search(q, k=1000) == fresh.search(q, k=1000), q
    for q in ["linux", "linux ubuntu", "w0042"]:
        assert merged.search(q, k=10, mode="bm25") == fresh.search(
            q, k=10, mode="bm25"
        ), q


def test_merge_rank_identity_distributed(spark, tiny_index_dir, merge_env):
    from deusu_spark.query import SearchEngine
    from deusu_spark.query_local import LocalSearcher

    _root, _dirs, out, _m = merge_env
    eng = SearchEngine(spark, out)
    fresh = LocalSearcher(tiny_index_dir)
    for q in ["linux", "linux ubuntu", "linux -google", "host:conv00000017",
              "intitle:assistant linux", "w0100 w0005 linux"]:
        assert eng.search(q, k=10) == fresh.search(q, k=10), q


def test_merge_fancy_coverage_and_holes(spark, tiny_index_dir, merge_env):
    """The interesting path must actually run: the ordered split makes at
    least one term hot in the merged lexicon but cold in a shard (its df
    splits below the threshold), so fancy holes were rebuilt — and the
    merged fancy term set equals the fresh build's."""
    import json

    from deusu_spark.build import current_index_dir
    from pyspark.sql import functions as F

    _root, _dirs, out, _m = merge_env
    lineage = os.path.join(current_index_dir(out), "_lineage.jsonl")
    holes = [
        json.loads(line)
        for line in open(lineage)
        if json.loads(line)["step"] == "fancy_stats"
    ][0]["holes"]
    assert holes > 0

    def fancy_terms(d):
        return {
            r["term"]
            for r in spark.read.parquet(
                os.path.join(current_index_dir(d), "postings")
            )
            .where(F.col("kind") == "fancy")
            .select("term")
            .distinct()
            .collect()
        }

    assert fancy_terms(out) == fancy_terms(tiny_index_dir)
    # fancy CONTENT identical too: per term, the decoded (doc_id, flags)
    # stream equals the fresh build's (segmentation may differ)
    from deusu_spark import codec
    import numpy as np

    def fancy_postings(d):
        rows = (
            spark.read.parquet(os.path.join(current_index_dir(d), "postings"))
            .where(F.col("kind") == "fancy")
            .select("term", "first_doc", "blob")
            .collect()
        )
        out_ = {}
        for r in sorted(rows, key=lambda r: (r["term"], r["first_doc"])):
            d_, f_ = codec.decode(bytes(r["blob"]))
            docs, flags = out_.setdefault(r["term"], ([], []))
            docs.append(d_)
            flags.append(f_)
        return {
            t: (np.concatenate(ds), np.concatenate(fs))
            for t, (ds, fs) in out_.items()
        }

    a, b = fancy_postings(out), fancy_postings(tiny_index_dir)
    assert set(a) == set(b)
    for t in a:
        assert (a[t][0] == b[t][0]).all() and (a[t][1] == b[t][1]).all(), t


def test_merge_segment_ranges_disjoint(spark, merge_env):
    from pyspark.sql import functions as F
    from deusu_spark.build import current_index_dir

    _root, _dirs, out, _m = merge_env
    rows = (
        spark.read.parquet(os.path.join(current_index_dir(out), "postings"))
        .select("term", "kind", "first_doc", "last_doc")
        .collect()
    )
    by_key = {}
    for r in rows:
        by_key.setdefault((r["term"], r["kind"]), []).append(
            (r["first_doc"], r["last_doc"])
        )
    for key, spans in by_key.items():
        spans.sort()
        for (f1, l1), (f2, _l2) in zip(spans, spans[1:]):
            assert f1 <= l1 < f2, (key, spans)


def test_federated_equals_merged_and_fresh(tiny_index_dir, merge_env):
    """Query-time federation over the two UNMERGED shard indexes must be
    rank-identical (doc ids AND scores) to querying the merged index —
    and hence to the fresh whole-corpus build — across the full query
    set, both modes, k=10 and k=1000. This exercises global-df idf,
    global avgdl/max-backlink normalizers, the merge doc-id offset rule,
    and the fancy-hole per-part fallback (terms hot globally but cold in
    one shard)."""
    from deusu_spark.query_local import FederatedSearcher, LocalSearcher

    _root, dirs, out, _m = merge_env
    fed = FederatedSearcher(dirs)
    merged = LocalSearcher(out)
    fresh = LocalSearcher(tiny_index_dir)
    assert fed.n_docs == merged.n_docs
    for q in QUERIES:
        want = merged.search(q, k=1000)
        assert fed.search(q, k=1000) == want, q
        assert fresh.search(q, k=1000) == want, q
    for q in ["linux", "linux ubuntu", "w0042"]:
        assert fed.search(q, k=10, mode="bm25") == merged.search(
            q, k=10, mode="bm25"
        ), q
    # sequential fan-out is the same result (pure execution strategy)
    seq = FederatedSearcher(dirs, parallel=False)
    for q in QUERIES[:6]:
        assert seq.search(q, k=100) == fed.search(q, k=100), q


def test_federated_result_cache(merge_env):
    """The federation coordinator's Q14 cache sits in front of its part
    fan-out: the same semantics, pinned by the same check, as
    LocalSearcher's and ShardedSearcher's."""
    from deusu_spark.query_local import FederatedSearcher
    from tests.test_serving_compose import check_result_cache

    _root, dirs, _out, _m = merge_env
    fed = FederatedSearcher(dirs)
    check_result_cache(fed, fed.parts)


def test_federated_engine_equals_merged(spark, merge_env):
    """The DISTRIBUTED federation (FederatedSearchEngine over the two
    unmerged shard indexes) is rank-identical — doc ids AND scores — to
    SearchEngine over the merged index, across single hot/cold terms,
    AND/NOT, host and title filters, the hot-hot WAND path, and bm25.
    Exercises global-df idf, global max-backlink/avgdl overrides, the
    doc-id offset rule, and per-part fancy holes, all through the
    distributed pruned passes."""
    from deusu_spark.query import FederatedSearchEngine, SearchEngine

    _root, dirs, out, _m = merge_env
    fed = FederatedSearchEngine(spark, dirs)
    merged = SearchEngine(spark, out)
    assert fed.n_docs == int(merged.meta["n_docs"])
    for q in [
        "linux",  # hot single term (fancy two-pass + single-term block-max)
        "w0042",  # cold single term
        "linux ubuntu",  # implicit AND, df-reordered
        "linux -google",  # NOT
        "host:conv00000017 linux",  # host + term mix
        "intitle:assistant linux",  # flag-filtered term
        "google java",  # hot-hot AND (multi-term block-max WAND)
    ]:
        assert fed.search(q, k=1000) == merged.search(q, k=1000), q
    for q in ["linux", "linux ubuntu"]:
        assert fed.search(q, k=10, mode="bm25") == merged.search(
            q, k=10, mode="bm25"
        ), q
    # sequential fan-out is the same result (pure execution strategy)
    seq = FederatedSearchEngine(spark, dirs, parallel=False)
    assert seq.search("linux ubuntu", k=100) == fed.search(
        "linux ubuntu", k=100
    )
    # custom weights disable pruning but keep the two-pass + hole logic
    w = {"b1": 5}
    assert fed.search("linux ubuntu", k=50, weights=w) == merged.search(
        "linux ubuntu", k=50, weights=w
    )
    # degenerate single-part federation == the plain engine on that part
    one = FederatedSearchEngine(spark, [dirs[0]])
    assert one.search("linux", k=50) == SearchEngine(spark, dirs[0]).search(
        "linux", k=50
    )
def test_federated_engine_search_many(spark, merge_env):
    """Batched federation (2 union plans per part for the whole batch)
    equals both the merged engine's search_many and per-query federated
    search — including a fancy two-pass query, NOT, and an empty query."""
    from deusu_spark.query import FederatedSearchEngine, SearchEngine

    _root, dirs, out, _m = merge_env
    fed = FederatedSearchEngine(spark, dirs)
    merged = SearchEngine(spark, out)
    qs = ["linux", "w0042", "linux -google", "google java", "nosuchterm12345"]
    got = fed.search_many(qs, k=50)
    assert got == merged.search_many(qs, k=50)
    for q, rows in zip(qs, got):
        assert rows == fed.search(q, k=50), q
    assert fed.search_many(["linux", "w0042"], k=10, mode="bm25") == (
        merged.search_many(["linux", "w0042"], k=10, mode="bm25")
    )
def test_federated_engine_fancy_hole_pass(spark, merge_env):
    """The fancy PASS itself (not just the final two-pass result) matches
    the merged index's on a genuine hole term: per-part full postings
    masked by the domain-rank window must reproduce the merged fancy
    list's rows AND the candidate-count signal exactly."""
    from deusu_spark.constants import DEFAULT_WEIGHTS
    from deusu_spark.query import FederatedSearchEngine, SearchEngine

    _root, dirs, out, _m = merge_env
    fed = FederatedSearchEngine(spark, dirs, parallel=False)
    merged = SearchEngine(spark, out)
    thr = TINY_FANCY_THRESHOLD
    # discover a genuine hole term from the shard lexicons: hot globally,
    # cold (<= threshold) in at least one shard
    import pyarrow.dataset as pads

    from deusu_spark.build import current_index_dir

    local = []
    for d in dirs:
        t = pads.dataset(
            os.path.join(current_index_dir(d), "lexicon")
        ).to_table(columns=["term", "df"])
        local.append(dict(zip(t["term"].to_pylist(), t["df"].to_pylist())))
    gdf: dict[str, int] = {}
    for m in local:
        for term, df in m.items():
            gdf[term] = gdf.get(term, 0) + df
    hole_term = sorted(
        t
        for t, df in gdf.items()
        if df > thr and any(m.get(t, 0) <= thr for m in local)
    )[0]
    w = dict(DEFAULT_WEIGHTS)
    ft = fed.compile(hole_term)
    assert any(hole_term in p["fancy_holes"] for p in fed.explain(hole_term)["parts"])
    rows_f, cnt_f = fed._pass(ft, 1000, w, True, True, "deusu")
    mt = merged.compile(hole_term)
    rows_m, cnt_m = merged._run_pass(
        mt, 1000, w, use_fancy=True, prune=True, need_count=True, mode="deusu"
    )
    assert cnt_f == cnt_m
    assert [(d, int(s)) for d, s in rows_f] == [
        (d, int(s)) for d, s in rows_m
    ]

def test_federated_engine_skips_underfilled_fancy_pass(spark, merge_env):
    """A federated query whose fancy pass PROVABLY under-fills (hot AND
    rare: the sum of the parts' posting-count bounds is below 1000) runs
    no fancy pass on any part, and still equals the merged engine."""
    from deusu_spark.query import FederatedSearchEngine, SearchEngine
    from deusu_spark.queryplan import needs_fancy_pass

    _root, dirs, out, _m = merge_env
    fed = FederatedSearchEngine(spark, dirs, parallel=False)
    merged = SearchEngine(spark, out)
    q = "w0001 w0042"  # w0001 is hot; its fancy list is short
    terms = fed.compile(q)
    assert needs_fancy_pass(terms, TINY_FANCY_THRESHOLD)
    assert fed._fancy_bound(terms) < 1000
    passes = []
    for p in fed.parts:

        def spy(*a, real=p._run_pass, **kw):
            passes.append(kw["use_fancy"])
            return real(*a, **kw)

        p._run_pass = spy
    got = fed.search(q, k=1000)
    assert passes and not any(passes)
    assert got and got == merged.search(q, k=1000)


def test_fancy_pass_stands_distributed(spark, merge_env, monkeypatch):
    """No fancy list of the tiny corpus reaches MAX_RESULTS (1000), so the
    other tests never keep a distributed fancy pass. With MAX_RESULTS
    lowered to 30 the longest lists (w0000: 55 postings, w0002: 50) fill
    it: the fancy pass then stands on search and in search_many's fancy
    batch (run beside the full batch, plus a residual full pass for the
    under-filled NOT query), search_many equals per-query search, and the
    federation over the two shards equals the engine over their merge."""
    from deusu_spark import query, query_local
    from deusu_spark.query import FederatedSearchEngine, SearchEngine

    for mod in (query, query_local):
        monkeypatch.setattr(mod, "MAX_RESULTS", 30)
    _root, dirs, out, _m = merge_env
    merged = SearchEngine(spark, out)
    fed = FederatedSearchEngine(spark, dirs)
    qs = ["w0000", "w0002", "w0000 w0001", "w0000 -w0002", "w0013", "w0042"]

    passes = []

    def spy_pass(terms, k, w, use_fancy, prune, mode, real=merged._pass):
        rows, count = real(terms, k, w, use_fancy, prune, mode)
        passes.append((use_fancy, count))
        return rows, count

    monkeypatch.setattr(merged, "_pass", spy_pass)
    single, stood = {}, []
    for q in qs:
        passes.clear()
        single[q] = merged.search(q, k=20)
        if passes[0][0] and len(passes) == 1:
            assert passes[0][1] >= 30
            stood.append(q)
    assert {"w0000", "w0002"} <= set(stood)
    assert "w0042" not in stood and "w0000 -w0002" not in stood

    batches = []

    def spy_many(batch, fetch, w, use_fancy, mode, prune, real=merged._execute_many):
        batches.append((use_fancy, [qi for qi, _ in batch]))
        return real(batch, fetch, w, use_fancy, mode, prune)

    monkeypatch.setattr(merged, "_execute_many", spy_many)
    assert merged.search_many(qs, k=20) == [single[q] for q in qs]
    fancy_qis = {qi for f, qis in batches if f for qi in qis}
    full_qis = {qi for f, qis in batches if not f for qi in qis}
    assert {qs.index(q) for q in stood} <= fancy_qis - full_qis
    assert qs.index("w0042") in full_qis
    assert batches[-1] == (False, [qs.index("w0000 -w0002")])  # residual

    for q in qs:
        assert fed.search(q, k=20) == single[q], q
    assert fed.search_many(qs, k=20) == [single[q] for q in qs]


def test_fancy_pass_stands_serving(spark, merge_env, monkeypatch):
    """The serving tiers' fancy pass when it stands: with MAX_RESULTS
    lowered to 30 in the module holding the shared two-pass rule (and in
    query, which sizes the distributed passes), LocalSearcher,
    ShardedSearcher and FederatedSearcher keep the fancy pass for w0000
    and w0002 (55 and 50 fancy postings), fall back to the full pass for
    w0042 and "w0000 -w0002", and return SearchEngine's rows over the
    merged index."""
    from deusu_spark import query, query_local
    from deusu_spark.query import SearchEngine
    from deusu_spark.query_local import (
        FederatedSearcher,
        LocalSearcher,
        ShardedSearcher,
    )

    for mod in (query, query_local):
        monkeypatch.setattr(mod, "MAX_RESULTS", 30)
    _root, dirs, out, _m = merge_env
    merged = SearchEngine(spark, out)
    qs = ["w0000", "w0002", "w0042", "w0000 -w0002"]
    want = {q: merged.search(q, k=20) for q in qs}
    for searcher in (
        LocalSearcher(out),
        ShardedSearcher(out, n_shards=3),
        FederatedSearcher(dirs),
    ):
        passes = []

        def spy(terms, k, w, use_fancy, prune, mode, real=searcher._pass):
            rows, count = real(terms, k, w, use_fancy, prune, mode)
            passes.append((use_fancy, count))
            return rows, count

        monkeypatch.setattr(searcher, "_pass", spy)
        for q in qs:
            passes.clear()
            assert searcher.search(q, k=20) == want[q], (searcher, q)
            kinds = [use_fancy for use_fancy, _ in passes]
            if q in ("w0000", "w0002"):
                assert kinds == [True] and passes[0][1] >= 30, (searcher, q)
            elif q == "w0042":
                assert kinds == [False], (searcher, q)
            else:
                assert kinds == [True, False], (searcher, q)


def test_federated_explain_exposes_holes(spark, merge_env):
    """Both federated tiers' explain() return the same GLOBAL plan (summed
    df) and the same per-part fancy-hole lists; a term hot globally but
    cold in some shard must appear in that shard's fancy_holes."""
    import pyarrow.dataset as pads

    from deusu_spark.build import current_index_dir
    from deusu_spark.query import FederatedSearchEngine
    from deusu_spark.query_local import FederatedSearcher

    _root, dirs, _out, _m = merge_env
    fed_e = FederatedSearchEngine(spark, dirs, parallel=False)
    fed_s = FederatedSearcher(dirs, parallel=False)
    thr = TINY_FANCY_THRESHOLD
    local = []
    for d in dirs:
        t = pads.dataset(
            os.path.join(current_index_dir(d), "lexicon")
        ).to_table(columns=["term", "df"])
        local.append(dict(zip(t["term"].to_pylist(), t["df"].to_pylist())))
    gdf: dict[str, int] = {}
    for m in local:
        for term, df in m.items():
            gdf[term] = gdf.get(term, 0) + df
    hole_term = sorted(
        t
        for t, df in gdf.items()
        if df > thr and any(m.get(t, 0) <= thr for m in local)
    )[0]
    ea = fed_e.explain(hole_term)
    eb = fed_s.explain(hole_term)
    assert ea == eb
    assert ea["terms"][0]["df"] == gdf[hole_term]
    assert ea["terms"][0]["fancy_eligible"]
    holes = {
        p["part"]: p["fancy_holes"] for p in ea["parts"]
    }
    expect = {
        i for i, m in enumerate(local) if m.get(hole_term, 0) <= thr
    }
    assert {i for i, h in holes.items() if hole_term in h} == expect
    assert [p["doc_offset"] for p in ea["parts"]] == fed_e.offsets


def test_merge_carries_tombstones_shifted(spark, merge_env):
    """Takedowns on a shard survive the merge with their doc_ids shifted
    onto the merged id space: deleted docs are absent, survivors keep
    their exact merged scores (prefix property — corpus < 1000 results)."""
    from deusu_spark.build import current_index_dir, load_tombstones
    from deusu_spark.incremental import delete_conversations
    from deusu_spark.merge import merge_indexes
    from deusu_spark.query_local import LocalSearcher

    root, dirs, out, _m = merge_env
    base = LocalSearcher(out)
    pre = {q: base.search(q, k=1000) for q in ["linux", "google"]}
    # delete the conversation of shard B's top 'linux' doc — guaranteed to
    # live on shard B, so its merged doc_ids only exist via the shift
    sb = LocalSearcher(dirs[1])
    conv = sb.fetch_results(sb.search("linux", k=1))[0].host
    delete_conversations(spark, dirs[1], [conv])

    out2 = os.path.join(root, "merged_tomb")
    merge_indexes(spark, dirs, out2)
    t = set(load_tombstones(current_index_dir(out2)).tolist())
    assert t, "expected shifted tombstones in the merged index"
    ls = LocalSearcher(out2)
    assert ls.search(f"host:{conv}", k=1000) == []
    for q in pre:
        got = ls.search(q, k=1000)
        assert got == [(d, s) for d, s in pre[q] if d not in t], q
    # federation over the tombstoned shard must equal the re-merged index
    # too (tombstones mask at decode in every part, shifted by the same
    # offsets)
    from deusu_spark.query_local import FederatedSearcher

    fed = FederatedSearcher(dirs)
    for q in ["linux", "google", f"host:{conv}"]:
        assert fed.search(q, k=1000) == ls.search(q, k=1000), q
    # ... and so must the DISTRIBUTED federation (per-part tombstone
    # broadcasts mask at decode inside the Spark plans)
    from deusu_spark.query import FederatedSearchEngine

    dfed = FederatedSearchEngine(spark, dirs)
    for q in ["linux", f"host:{conv}"]:
        assert dfed.search(q, k=1000) == ls.search(q, k=1000), q


def test_federated_fetch_results(tiny_index_dir, merge_env):
    """Display fetch through the federation resolves each global doc id to
    its owning part's docmeta with the SAME url/title/snippet the merged
    index serves, and reports the federated doc id."""
    from deusu_spark.query_local import FederatedSearcher, LocalSearcher

    _root, dirs, out, _m = merge_env
    fed = FederatedSearcher(dirs)
    merged = LocalSearcher(out)
    rows = merged.search("linux", k=10)
    want = merged.fetch_results(rows)
    got = fed.fetch_results(rows)
    assert [(r.doc_id, r.url, r.title, r.snippet, r.host) for r in got] == [
        (r.doc_id, r.url, r.title, r.snippet, r.host) for r in want
    ]


@pytest.mark.parametrize("kind", ["serving", "distributed"])
def test_federated_render_fetches_once_per_part(spark, merge_env, kind):
    """A 1,000-row render resolves its display fields with ONE fetch per
    part (rows grouped by owning part), and renders the merged index's
    page."""
    from deusu_spark import serving
    from deusu_spark.query import FederatedSearchEngine
    from deusu_spark.query_local import FederatedSearcher, LocalSearcher

    _root, dirs, out, _m = merge_env
    if kind == "serving":
        fed = FederatedSearcher(dirs)
    else:
        fed = FederatedSearchEngine(spark, dirs)
    calls = []
    for i, part in enumerate(fed.parts):
        def counted(rows, _fetch=part.fetch_results, _i=i):
            calls.append((_i, len(rows)))
            return _fetch(rows)

        part.fetch_results = counted
    assert len(fed.search("w0001", k=1000)) == 1000
    page = serving.search_render(fed, "w0001", startwith=11)
    assert sorted(i for i, _ in calls) == list(range(len(dirs)))
    assert sum(n for _, n in calls) == 1000
    want = serving.search_render(LocalSearcher(out), "w0001", startwith=11)
    assert [
        (r.doc_id, r.value, r.url, r.snippet, r.host, r.indent) for r in page
    ] == [(r.doc_id, r.value, r.url, r.snippet, r.host, r.indent) for r in want]


def test_federated_suggest_equals_merged(merge_env):
    """Did-you-mean through the federation == the merged index's
    suggester: un-truncated per-part candidates, global-df ranking."""
    from deusu_spark.query_local import FederatedSearcher, LocalSearcher

    _root, dirs, out, _m = merge_env
    fed = FederatedSearcher(dirs)
    merged = LocalSearcher(out)
    checked = 0
    for typo in ["linx", "linuxx", "goggle", "w004", "zzqqzz", "linux"]:
        assert fed.suggest(typo, k=5) == merged.suggest(typo, k=5), typo
        checked += bool(merged.suggest(typo, k=5))
    assert checked >= 2  # the set must exercise real suggestions


def test_federated_suggest_distributed_equals_merged(spark, merge_env):
    """The DISTRIBUTED federation's did-you-mean (per-part bounded lexicon
    jobs, summed-df ranking) matches the merged index's serving
    suggester — same globalization rule as the serving federation."""
    from deusu_spark.query import FederatedSearchEngine
    from deusu_spark.query_local import LocalSearcher

    _root, dirs, out, _m = merge_env
    dfed = FederatedSearchEngine(spark, dirs)
    merged = LocalSearcher(out)
    checked = 0
    for typo in ["linx", "goggle", "zzqqzz", "linux"]:
        assert dfed.suggest(typo, k=5) == merged.suggest(typo, k=5), typo
        checked += bool(merged.suggest(typo, k=5))
    assert checked >= 2
