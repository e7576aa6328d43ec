"""The positional request loop past its first fetch.

The other positional tests search corpora of at most 13 docs, so the
first fetch (64 candidates) already returns every candidate. Here a few
hundred docs hold both query terms, and the docs that match the phrase or
the NEAR window score below all the others: the first 64 AND candidates
hold no match, so each tier must re-fetch ×4 (`_verified_top`) and the
proximity re-rank must page past its first fetch before its θ stop. All
three tiers must equal the text oracles.
"""

from zlib import crc32

import pandas as pd
import pytest

from deusu_spark.build import build_index
from deusu_spark.query import SearchEngine
from deusu_spark.query_local import LocalSearcher, ShardedSearcher
from tests.test_positions import _text_near_verify, _text_verify
from tests.test_proximity import _expected

N_NOISE = 240   # both terms, 5 tokens apart: no phrase, no NEAR/4
N_PHRASE = 20   # "alpha beta": phrase and NEAR
N_NEAR = 10     # "beta alpha": NEAR only


def _conv_ids(prefix: str, n: int, backlinks_ok) -> list[str]:
    """n conv ids of one length whose docs are unranked (the build ranks
    a host when crc32(conv_id) % 10 == 0) and whose backlink count
    (1 + crc32(url) % 1000) passes ``backlinks_ok``: with every other
    score input equal, backlinks order the docs."""
    out, i = [], 0
    while len(out) < n:
        cid = f"{prefix}{i:05d}"
        bl = 1 + crc32(f"{cid}/0".encode()) % 1000
        if crc32(cid.encode()) % 10 != 0 and backlinks_ok(bl):
            out.append(cid)
        i += 1
    return out


@pytest.fixture(scope="module")
def pager_index(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("pager_idx"))
    rows = [
        (cid, "alpha q1 q2 q3 q4 beta rest")
        for cid in _conv_ids("n", N_NOISE, lambda bl: bl >= 600)
    ]
    low = _conv_ids("m", N_PHRASE + N_NEAR, lambda bl: bl <= 40)
    rows += [(cid, "alpha beta q1 q2 q3 q4 rest") for cid in low[:N_PHRASE]]
    rows += [(cid, "beta alpha q1 q2 q3 q4 rest") for cid in low[N_PHRASE:]]
    pdf = pd.DataFrame(
        [(cid, 0, "user", text, "") for cid, text in rows],
        columns=["conv_id", "turn_idx", "role", "text", "tool"],
    )
    build_index(
        spark, spark.createDataFrame(pdf), d,
        fancy_threshold=10**9, seg_size=16, positions=True,
    )
    eng = SearchEngine(spark, d)
    text = dict(rows)
    doc_text = {
        r["doc_id"]: text[r["url"].split("/")[0]]
        for r in eng.docmeta.select("doc_id", "url").collect()
    }
    return d, eng, doc_text


def _tiers(root, eng):
    return [
        ("distributed", eng),
        ("serving", LocalSearcher(root)),
        ("sharded", ShardedSearcher(root, n_shards=3)),
    ]


def _spy_fetches(monkeypatch, searcher) -> list[int]:
    """Record the k of every search() the positional loop runs."""
    fetches: list[int] = []
    search = searcher.search

    def spy(query, k=10, **kw):
        fetches.append(k)
        return search(query, k=k, **kw)

    monkeypatch.setattr(searcher, "search", spy)
    return fetches


def test_matches_rank_below_the_first_fetch(spark, pager_index):
    """The corpus does what the other tests rely on: more AND candidates
    than a 256 fetch, and no phrase or NEAR match in the top 64."""
    _, eng, doc_text = pager_index
    base = eng.search("alpha beta", k=10_000)
    assert len(base) == N_NOISE + N_PHRASE + N_NEAR > 256
    near = _text_near_verify("alpha beta", 4, doc_text)
    assert len(near) == N_PHRASE + N_NEAR
    assert not {d for d, _ in base[:64]} & near


@pytest.mark.parametrize("k", [5, 25])
def test_phrase_and_near_pages_past_first_fetch(
    spark, pager_index, monkeypatch, k
):
    root, eng, doc_text = pager_index
    base = eng.search("alpha beta", k=10_000)
    want_phrase = _text_verify("alpha beta", doc_text)
    want_near = _text_near_verify("alpha beta", 4, doc_text)
    for name, s in _tiers(root, eng):
        fetches = _spy_fetches(monkeypatch, s)
        got = s.search_phrase("alpha beta", k=k)
        assert got == [(d, v) for d, v in base if d in want_phrase][:k], name
        assert len(fetches) > 1, (name, fetches)
        fetches.clear()
        got = s.search_near("alpha beta", k=k, window=4)
        assert got == [(d, v) for d, v in base if d in want_near][:k], name
        assert len(fetches) > 1, (name, fetches)


@pytest.mark.parametrize("k", [5, 10])
def test_proximity_pages_then_stops_early(spark, pager_index, monkeypatch, k):
    """The adjacent docs' boost lifts them over the noise only once they
    are fetched; the θ stop then ends the loop before the candidate
    stream is exhausted."""
    root, eng, doc_text = pager_index
    want = _expected(eng, doc_text, "alpha beta", k)
    for name, s in _tiers(root, eng):
        fetches = _spy_fetches(monkeypatch, s)
        assert s.search_proximity("alpha beta", k=k) == want, name
        assert fetches == [64, 256], (name, fetches)


def test_refetch_checks_each_candidate_once(spark, pager_index, monkeypatch):
    """The ×4 re-fetch returns the earlier fetch's candidates again; the
    per-doc check must read each candidate's positions once (270 AND
    candidates over fetches of 100 and 400, not 100 + 270)."""
    root, eng, _doc_text = pager_index
    for name, s in _tiers(root, eng):
        seen: list[int] = []
        for owner in getattr(s, "shards", [s]):
            read = owner._candidate_positions

            def counting(terms, cand, read=read):
                seen.extend(int(d) for d in cand)
                return read(terms, cand)

            monkeypatch.setattr(owner, "_candidate_positions", counting)
        for op in (
            lambda: s.search_phrase("alpha beta", k=25),
            lambda: s.search_near("alpha beta", k=25, window=4),
        ):
            seen.clear()
            op()
            assert len(seen) == len(set(seen)) == N_NOISE + N_PHRASE + N_NEAR, name
