"""Property-based tests (hypothesis): codec roundtrip vs an independent
byte-at-a-time reference coder, and the pruning interval algebra's safety
invariants. Pure Python/numpy — no Spark session needed."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from deusu_spark import codec
from deusu_spark.query import (
    _disjoint_bounded,
    _intersect_intervals,
    _overlaps_any,
)
from deusu_spark.queryplan import coarsen_intervals, merge_intervals

# --------------------------------------------------------------------------
# codec: roundtrip + byte-parity with a deliberately naive reference encoder
# (independent implementation of rwi.pas:76-153 semantics)
# --------------------------------------------------------------------------


def _naive_encode(doc_ids, flags, prev_doc=0):
    out = bytearray()
    prev = prev_doc
    for d, f in zip(doc_ids, flags):
        gap = d - prev
        prev = d
        first = (f & 7) | ((gap & 15) << 3)
        rest = gap >> 4
        if rest:
            first |= 128
        out.append(first)
        while rest:
            b = rest & 127
            rest >>= 7
            if rest:
                b |= 128
            out.append(b)
    return bytes(out)


postings = st.lists(
    st.tuples(st.integers(min_value=0, max_value=2**48), st.integers(0, 7)),
    min_size=0,
    max_size=200,
)


@settings(max_examples=300, deadline=None)
@given(postings, st.integers(0, 2**20))
def test_codec_roundtrip_and_byte_parity(items, prev_extra):
    # build strictly ascending ids above prev_doc
    gaps = sorted({d for d, _ in items})
    flags = [f for _, f in items][: len(gaps)]
    while len(flags) < len(gaps):
        flags.append(0)
    prev = 0
    ids = [prev_extra + 1 + g for g in gaps] if gaps else []
    prev = 0
    docs = np.array(ids, dtype=np.int64)
    fl = np.array(flags, dtype=np.int64)
    blob = codec.encode(docs, fl, prev_doc=prev)
    assert blob == _naive_encode(ids, flags, prev_doc=prev)
    back_d, back_f = codec.decode(blob, prev_doc=prev)
    assert list(back_d) == ids
    assert list(back_f) == flags


@settings(max_examples=100, deadline=None)
@given(postings, st.integers(1, 2**30), st.integers(0, 2**30))
def test_codec_rebase(items, old_prev, new_prev_delta):
    gaps = sorted({d for d, _ in items if d > 0})
    if not gaps:
        return
    ids = [old_prev + g for g in gaps]
    fl = [f for _, f in items][: len(ids)]
    while len(fl) < len(ids):
        fl.append(0)
    blob = codec.encode(np.array(ids), np.array(fl), prev_doc=old_prev)
    new_prev = min(new_prev_delta, ids[0] - 1) if ids else 0
    re = codec.rebase(blob, old_prev, new_prev)
    back_d, back_f = codec.decode(re, prev_doc=new_prev)
    assert list(back_d) == ids and list(back_f) == fl


def test_codec_rejects_non_ascending():
    import pytest

    with pytest.raises(ValueError):
        codec.encode(np.array([5, 5]), np.array([0, 0]))
    with pytest.raises(ValueError):
        codec.encode(np.array([5, 3]), np.array([0, 0]))


# --------------------------------------------------------------------------
# interval algebra invariants
# --------------------------------------------------------------------------

intervals = st.lists(
    st.tuples(st.integers(0, 10_000), st.integers(0, 2_000)).map(
        lambda t: (t[0], t[0] + t[1])
    ),
    min_size=0,
    max_size=60,
)


def _covers(iv, x):
    return any(lo <= x <= hi for lo, hi in iv)


@settings(max_examples=200, deadline=None)
@given(intervals)
def test_merge_preserves_coverage(ivs):
    iv = np.array(ivs, dtype=np.int64).reshape(-1, 2)
    out = merge_intervals(iv)
    # sorted + disjoint (with no mergeable adjacency left)
    assert all(out[i + 1][0] > out[i][1] + 1 for i in range(len(out) - 1))
    # same point coverage on a probe set
    for lo, hi in ivs[:10]:
        for x in (lo, hi, (lo + hi) // 2):
            assert _covers(out.tolist(), x) == _covers(ivs, x)


@settings(max_examples=200, deadline=None)
@given(intervals, intervals)
def test_intersection_is_conjunction(a, b):
    A = merge_intervals(np.array(a, dtype=np.int64).reshape(-1, 2))
    B = merge_intervals(np.array(b, dtype=np.int64).reshape(-1, 2))
    out = _intersect_intervals(A, B)
    probes = {x for lo, hi in list(a)[:6] + list(b)[:6] for x in (lo, hi)}
    for x in probes:
        assert _covers(out.tolist(), x) == (_covers(a, x) and _covers(b, x))


@settings(max_examples=200, deadline=None)
@given(intervals, st.integers(1, 16))
def test_coarsen_is_bounded_superset(ivs, max_n):
    iv = merge_intervals(np.array(ivs, dtype=np.int64).reshape(-1, 2))
    out = coarsen_intervals(iv, max_n)
    assert len(out) <= max(max_n, 1)
    for lo, hi in iv:
        assert ((out[:, 0] <= lo) & (out[:, 1] >= hi)).any()
    # still sorted + disjoint
    assert all(out[i + 1][0] > out[i][1] for i in range(len(out) - 1))


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 5000), st.integers(0, 500), st.floats(0, 1e4)
        ),
        min_size=1,
        max_size=40,
    )
)
def test_disjoint_bounded_safety(rows):
    lo = np.array([r[0] for r in rows], dtype=np.int64)
    hi = lo + np.array([r[1] for r in rows], dtype=np.int64)
    b = np.array([r[2] for r in rows], dtype=np.float64)
    olo, ohi, ob = _disjoint_bounded(lo, hi, b)
    # disjoint, sorted
    assert all(olo[i + 1] > ohi[i] for i in range(len(olo) - 1))
    # every input interval lands whole inside exactly one output interval
    # (overlap chains merge), whose bound dominates the input's
    for i in range(len(lo)):
        j = np.flatnonzero((olo <= lo[i]) & (ohi >= hi[i]))
        assert len(j) == 1
        assert ob[j[0]] >= b[i]
    # bound safety: any output interval's bound is the max of the inputs
    # it absorbed
    for j in range(len(olo)):
        absorbed = (lo >= olo[j]) & (hi <= ohi[j])
        if absorbed.any():
            assert ob[j] >= b[absorbed].max()


@settings(max_examples=100, deadline=None)
@given(intervals, intervals)
def test_overlaps_any_matches_bruteforce(rows, sel):
    if not rows:
        return
    lo = np.array([r[0] for r in rows], dtype=np.int64)
    hi = np.array([r[1] for r in rows], dtype=np.int64)
    inter = merge_intervals(np.array(sel, dtype=np.int64).reshape(-1, 2))
    got = _overlaps_any(lo, hi, inter)
    for i in range(len(lo)):
        want = any(lo[i] <= ihi and hi[i] >= ilo for ilo, ihi in inter.tolist())
        assert got[i] == want
