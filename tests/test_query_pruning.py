"""Pruning machinery gates: bounded driver metadata (two-level blocks),
range-predicate scan filters (no isin literals), multi-term block-max WAND
exactness + effectiveness.

Everything here must hold with results IDENTICAL to the unpruned plan —
pruning is an optimization, rank-identity is the contract."""

import numpy as np
import pytest

from deusu_spark.query import SearchEngine, _intersect_coverage
from deusu_spark.queryplan import coarsen_intervals, merge_intervals

MULTI = [
    "linux google",
    "linux ubuntu",
    "w0100 w0005 linux",
    "google java",
    "linux -google",
    "linux ubuntu java",
]


def test_coarsen_intervals_superset_and_bounded():
    iv = np.array([[i * 10, i * 10 + 3] for i in range(500)], dtype=np.int64)
    out = coarsen_intervals(iv, 64)
    assert len(out) <= 64
    # superset: every input interval is contained in some output interval
    for lo, hi in iv:
        assert ((out[:, 0] <= lo) & (out[:, 1] >= hi)).any()
    # sorted + disjoint
    assert (out[1:, 0] > out[:-1, 1]).all()
    # small lists pass through untouched
    assert (coarsen_intervals(iv[:10], 64) == iv[:10]).all()


def test_intersect_coverage_signals():
    import pandas as pd

    sm = pd.DataFrame(
        {
            "ti": [0, 0, 1, 2],
            "first_doc": [0, 100, 50, 9000],
            "last_doc": [10, 110, 105, 9100],
            "n": [5, 5, 5, 5],
            "max_static": [1.0] * 4,
        }
    )
    # ti0 covers [0,10]∪[100,110]; ti1 covers [50,105] → intersection
    iv, empty = _intersect_coverage(sm, [0, 1])
    assert not empty
    assert [list(x) for x in iv] == [[100, 105]]
    # disjoint coverages -> provably empty AND
    iv, empty = _intersect_coverage(sm, [0, 2])
    assert empty
    # term with no coverage -> empty AND
    iv, empty = _intersect_coverage(sm, [0, 7])
    assert empty
    # single term -> no pruning signal
    iv, empty = _intersect_coverage(sm, [0])
    assert iv is None and not empty


@pytest.fixture(scope="module")
def wand_engine(spark, tiny_index_dir):
    """Engine with the WAND cost floor disabled so the multi-term block-max
    path executes on the tiny corpus (in production it engages only above
    wand_min_postings surviving the interval intersection)."""
    eng = SearchEngine(spark, tiny_index_dir)
    eng.wand_min_postings = 0
    return eng


@pytest.mark.parametrize("q", MULTI)
def test_wand_matches_unpruned(wand_engine, q):
    assert wand_engine.search(q, k=10, prune=True) == wand_engine.search(
        q, k=10, prune=False
    ), q
    assert wand_engine.search(q, k=1000, prune=True) == wand_engine.search(
        q, k=1000, prune=False
    ), q


def test_wand_phase_logic_prunes():
    """Deterministic check of the two-phase bound pruning: with a clear
    bound split between doc ranges, phase B must decode only the ranges
    that can reach θ. (The synthetic corpus is score-uniform, so this is
    where the pruning math itself is pinned; exactness on the real index
    is test_wand_matches_unpruned.)"""
    import pandas as pd

    from deusu_spark.queryplan import PlanTerm

    eng = SearchEngine.__new__(SearchEngine)
    eng.last_stats = {}
    # two terms, both covering a high-score range [0,199] (bound ~4000)
    # and a low-score range [1000,1199] (bound 90)
    seg_meta = pd.DataFrame(
        {
            "ti": [0, 0, 1, 1],
            "first_doc": [0, 1000, 0, 1000],
            "last_doc": [199, 1199, 199, 1199],
            "n": [200, 200, 200, 200],
            "max_static": [400.0, 9.0, 400.0, 9.0],
        }
    )
    truth = {d: 4000 for d in range(200)}
    truth.update({d: 88 for d in range(1000, 1200)})
    calls = []

    def fake_execute(terms, pos, neg, sm, intervals, fetch, w, use_fancy, mode):
        calls.append(intervals.copy() if intervals is not None else None)
        docs = [
            (d, s)
            for d, s in truth.items()
            if intervals is None
            or any(lo <= d <= hi for lo, hi in intervals)
        ]
        docs.sort(key=lambda r: (-r[1], r[0]))
        return docs[:fetch]

    eng._execute = fake_execute
    t0 = PlanTerm(ti=0, key="a", action="SET", df=400, idf=10.0)
    t1 = PlanTerm(ti=1, key="b", action="AND", df=400, idf=10.0)
    iv_all = np.array([[0, 199], [1000, 1199]], dtype=np.int64)
    rows, count = eng._multi_term_blockmax(
        [t0, t1], [t0, t1], [], seg_meta, iv_all, 10, {}, False, "deusu"
    )
    assert [d for d, _ in rows] == list(range(10))
    assert eng.last_stats["strategy"] == "wand"
    # phase B (the last _execute call) must exclude the low-bound range
    assert [list(x) for x in calls[-1]] == [[0, 199]]
    assert eng.last_stats["segments_selected"] == 2 < 4


def test_interval_intersection_prunes_on_index(engine):
    """Rare+hot AND: the hot term's segments outside the rare term's
    coverage must not be decoded."""
    # pick a genuinely rare term from the lexicon (df <= 3)
    from pyspark.sql import functions as F

    rare = (
        engine.lexicon.where((F.col("df") == 1) & (F.col("term").startswith("w4")))
        .orderBy("term")
        .select("term")
        .first()["term"]
    )
    q = f"{rare} linux"
    unpruned = engine.search(q, k=10, prune=False)
    pruned = engine.search(q, k=10, prune=True)  # last -> last_stats is pruned
    assert pruned == unpruned
    st = dict(engine.last_stats)
    # the rare term covers one doc -> at most one of linux's segments can
    # overlap the intersection
    assert st["segments_selected"] < st["segments_total"], (q, st)


def test_blocked_meta_rank_identity(spark, tiny_index_dir, engine):
    """Force the two-level (block-aggregated) metadata path and require
    identical results — the bounded-driver path is semantics-preserving."""
    eng2 = SearchEngine(spark, tiny_index_dir)
    eng2.driver_meta_cap = 0  # every query exceeds the cap -> block path
    for q in ("linux", "linux google", "w0100 w0005 linux", "linux -google",
              "host:conv00000017 linux"):
        assert eng2.search(q, k=10) == engine.search(q, k=10), q


def test_no_isin_literals_in_decode(spark, tiny_index_dir):
    """The decode scan filter must be range predicates, never a first_doc
    isin literal list (the r1 driver-funnel anti-pattern)."""
    eng = SearchEngine(spark, tiny_index_dir)
    captured = []
    orig = eng.postings.where

    def spy(cond):
        captured.append(str(cond._jc))
        return orig(cond)

    eng.postings.where = spy
    eng.search("linux google", k=10, prune=True)
    eng.postings.where = orig
    assert captured
    for c in captured:
        assert "first_doc IN" not in c and "IN (" not in c, c[:500]


def test_merge_intervals_adjacent():
    iv = np.array([[0, 4], [5, 9], [20, 30]], dtype=np.int64)
    out = merge_intervals(iv)
    assert [list(x) for x in out] == [[0, 9], [20, 30]]
