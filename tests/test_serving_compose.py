"""Q15 + the CGI lifecycle: engine top-k → display-field fetch →
adjust_ranking → post_process, on REAL engine output over the synthetic
corpus (the r1 gap: R1-R4 were only ever tested on hand-built rows).

Cross-check: the distributed engine and the serving engine must render the
identical page through the same composition. Plus the Q14 serving result
cache semantics."""

import pytest

from deusu_spark import serving
from deusu_spark.constants import MAX_RESULTS


@pytest.fixture(scope="module")
def local_searcher(tiny_index_dir):
    from deusu_spark.query_local import LocalSearcher

    return LocalSearcher(tiny_index_dir)


def test_fetch_results_joins_display_fields(engine, local_searcher):
    rows = local_searcher.search("linux", k=10)
    res = local_searcher.fetch_results(rows)
    assert len(res) == len(rows)
    for (doc_id, score), r in zip(rows, res):
        assert r.doc_id == doc_id and r.value == score
        assert r.url and "/" in r.url
        assert r.host == r.url.split("/")[0]  # host = conv_id
        assert r.title in ("user", "assistant", "system", "tool")
        assert r.snippet  # first-255 trimmed text
    # the distributed engine fetch must agree field by field
    res2 = engine.fetch_results(rows)
    assert [(r.url, r.title, r.snippet, r.backlinks, r.domain_rank) for r in res] == [
        (r.url, r.title, r.snippet, r.backlinks, r.domain_rank) for r in res2
    ]


@pytest.mark.parametrize("q", ["linux", "linux ubuntu", "w0042", "intitle:assistant linux"])
def test_render_engines_agree(engine, local_searcher, q):
    a = serving.search_render(local_searcher, q, showcount=10)
    b = serving.search_render(engine, q, showcount=10)
    assert [(r.doc_id, r.value, r.indent) for r in a] == [
        (r.doc_id, r.value, r.indent) for r in b
    ], q


def test_render_per_host_collapse(local_searcher):
    """host = conv_id, so collapse means <= 3 turns per conversation on the
    rendered page, with indenting under the first."""
    page = serving.search_render(local_searcher, "linux", showcount=30)
    assert page
    from collections import Counter

    per_host = Counter(r.host for r in page)
    assert max(per_host.values()) <= 3
    # indent flags: first row of a host-run is never indented
    for i, r in enumerate(page):
        if i == 0 or page[i - 1].host != r.host:
            assert not r.indent


def test_render_host_query_disables_collapse(local_searcher):
    page = serving.search_render(local_searcher, "host:conv00000017", showcount=20)
    hosts = {r.host for r in page}
    assert hosts == {"conv00000017"}
    assert len(page) > 3  # all turns of the conversation, no 3-cap


def check_result_cache(searcher, members):
    """Q14 semantics of a serving searcher whose per-query work runs on
    ``members`` (itself, or a coordinator's shards/parts): a repeat is one
    cache hit and no member work, any k <= MAX_RESULTS re-slices the
    cached top-1000, new weights miss, and k > MAX_RESULTS bypasses the
    cache and does the work again."""

    def work():
        return [m.term_cache_hits + m.term_cache_misses for m in members]

    q = "google w0003"
    h0, m0 = searcher.cache_hits, searcher.cache_misses
    a = searcher.search(q, k=10)
    w0 = work()
    b = searcher.search(q, k=10)
    assert a == b
    assert searcher.cache_hits == h0 + 1 and searcher.cache_misses == m0 + 1
    assert work() == w0
    # different k reuses the cached top-1000
    c = searcher.search(q, k=25)
    assert searcher.cache_hits == h0 + 2
    assert c[:10] == a
    assert work() == w0
    # different weights -> different key -> miss
    searcher.search(q, k=10, weights={"b1": 4 * 256})
    assert searcher.cache_misses == m0 + 2
    # beyond the cached top-1000: neither a hit nor a miss, every member
    # works again
    w1 = work()
    big = searcher.search(q, k=MAX_RESULTS + 1)
    assert (searcher.cache_hits, searcher.cache_misses) == (h0 + 2, m0 + 2)
    assert all(after > before for after, before in zip(work(), w1))
    assert big[:25] == c


def test_result_cache_hits(local_searcher):
    check_result_cache(local_searcher, [local_searcher])


def test_result_cache_hits_sharded(tiny_index_dir):
    from deusu_spark.query_local import ShardedSearcher

    sh = ShardedSearcher(tiny_index_dir, n_shards=3)
    assert len(sh.shards) == 3
    check_result_cache(sh, sh.shards)


def test_cache_consistent_with_uncached(local_searcher):
    from deusu_spark.constants import DEFAULT_WEIGHTS

    q = "linux -google"
    fresh = local_searcher._ranked(q, MAX_RESULTS, dict(DEFAULT_WEIGHTS), "deusu")
    cached = local_searcher.search(q, k=MAX_RESULTS)
    assert cached == fresh[:MAX_RESULTS]


def test_suggest_did_you_mean(local_searcher):
    """Zero-hit terms get SymSpell suggestions from the lexicon, ranked
    by df; existing terms and hopeless typos get none."""
    from deusu_spark.query_local import _lev_le1

    s = local_searcher
    assert s.suggest("linux") == []          # term exists: nothing to fix
    got = s.suggest("linx")                   # one deletion away
    assert "linux" in got
    assert all(_lev_le1("linx", t) for t in got)
    assert all(s.term_df(t) > 0 for t in got)
    # ranked by df desc: the first suggestion is the most frequent fix
    dfs = [s.term_df(t) for t in got]
    assert dfs == sorted(dfs, reverse=True)
    assert s.suggest("zzqqzz") == []          # nothing within one edit
    assert s.suggest("") == []


def test_suggest_distributed_equals_serving(engine, local_searcher, tiny_index_dir):
    """SearchEngine.suggest (one bounded lexicon job: length-banded scan,
    arrays_overlap deletion-neighborhood test, JVM levenshtein verify) is
    output-identical to LocalSearcher.suggest on the same index, and so is
    ShardedSearcher's: its shards share one lexicon, counted once."""
    from deusu_spark.query_local import ShardedSearcher

    sharded = ShardedSearcher(tiny_index_dir, n_shards=3)
    checked = 0
    for typo in ["linx", "linuxx", "goggle", "w004", "zzqqzz", "linux", ""]:
        want = local_searcher.suggest(typo, k=5)
        assert engine.suggest(typo, k=5) == want, typo
        assert sharded.suggest(typo, k=5) == want, typo
        checked += bool(want)
    assert checked >= 2  # the set must exercise real suggestions


def test_lev_le1_exact():
    from deusu_spark.query_local import _lev_le1

    yes = [("a", "a"), ("ab", "b"), ("b", "ab"), ("abc", "adc"),
           ("abc", "abcd"), ("abcd", "abc"), ("abc", "abc")]
    for a, b in yes:
        assert _lev_le1(a, b), (a, b)
    import itertools
    # brute-force cross-check against a real DP on short strings
    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(
                    dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb)
                )
        return dp[-1]
    alpha = "ab"
    words = ["".join(w) for n in range(4) for w in itertools.product(alpha, repeat=n)]
    for a in words:
        for b in words:
            assert _lev_le1(a, b) == (lev(a, b) <= 1), (a, b)


def test_explain_plan_both_engines(engine, local_searcher, tiny_index_dir):
    """explain() exposes the compiled plan as data: identical across the
    distributed and serving engines (shared compile) and the sharded tier
    (one shared lexicon: sharding does not multiply df), df values from
    the lexicon, NOT terms flagged, hot terms fancy-eligible + two-pass,
    and the evaluation order is the df-bubbled optimizer order."""
    from deusu_spark.query_local import ShardedSearcher

    sharded = ShardedSearcher(tiny_index_dir, n_shards=3)
    for q in ("linux", "linux -google", "intitle:assistant linux",
              "host:conv00000017", "w0042 linux"):
        a = engine.explain(q)
        b = local_searcher.explain(q)
        assert a == b, q
        assert sharded.explain(q) == b, q
    ex = local_searcher.explain("linux -google")
    assert ex["n_terms"] == 2 and ex["two_pass"] in (True, False)
    by_key = {t["key"]: t for t in ex["terms"]}
    assert by_key["google"]["action"] == "NOT"
    assert by_key["linux"]["df"] == local_searcher.term_df("linux") > 0
    for t in ex["terms"]:
        assert t["bucket"] == __import__("deusu_spark.synth", fromlist=["crc32"]).crc32(t["key"]) % 64
    # a hot term on the tiny index: fancy decision mirrors search()'s
    hot = local_searcher.explain("linux")["terms"][0]
    assert hot["fancy_eligible"] == (
        local_searcher.term_df("linux")
        > local_searcher.meta["fancy_threshold"]
    )
    assert hot["postings_kind"] in ("fancy", "full")
    # multi-term AND: evaluation order is ascending df after the SET term
    ex2 = local_searcher.explain("w0042 linux")
    dfs = [t["df"] for t in ex2["terms"] if t["action"] == "AND"]
    assert dfs == sorted(dfs)
