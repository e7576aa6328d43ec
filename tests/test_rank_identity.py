"""Golden rank-identity: the Spark engine must reproduce the pure-Python
oracle's top-k (doc_id, score) lists EXACTLY — scores are uint16-quantized
(searchservernew.dpr:898-899) so no float tolerance applies.

Query set = FIXTURES.md F2 (reference query corpus + one query per
query-language feature)."""

import pytest

from deusu_spark.oracle import oracle

QUERIES = [
    "linux",  # single hot term (fancy-hits / block-max path)
    "w0042",  # single cold term (full-postings path)
    "linux ubuntu",  # implicit AND, df-reordered
    "linux and java",  # infix AND rewrite
    "linux -google",  # NOT
    "linux nicht google",  # German NOT rewrite
    "der linux die",  # stopword stripping
    "w0100 w0005 linux",  # 3-way AND across df magnitudes
    "intitle:assistant linux",  # flag-filtered term (title ≈ role)
    "inurl:conv00000017 linux",  # flag-filtered term (url ≈ conv path)
    "host:conv00000017",  # host(≈conversation) postings
    "host:conv00000017 linux",  # host + term mix
    "über straße",  # umlaut transliteration
    "w0001 w0002 w0003 w0004 w0005 w0006 w0007 w0008 w0009 w0010 w0011",  # cap
    "-linux",  # leading NOT (quirk: first term is acSet)
    "nosuchterm12345",  # empty result
    "w0007 -w0002",  # cold AND + NOT
    "google w0003",
    "google java",  # hot-hot AND (multi-term block-max WAND path)
    "linux ubuntu java",  # 3-way hot AND (WAND + interval intersection)
    "w0001 w0002",  # common-common AND (many matches, WAND theta pruning)
]


@pytest.mark.parametrize("q", QUERIES)
def test_rank_identity_k10(engine, oracle_index, q):
    expected = oracle.search(oracle_index, q, k=10)
    actual = engine.search(q, k=10)
    assert actual == expected, f"query={q!r}"


@pytest.mark.parametrize("q", ["linux", "linux ubuntu", "linux -google", "w0042"])
def test_rank_identity_k1000(engine, oracle_index, q):
    expected = oracle.search(oracle_index, q, k=1000)
    actual = engine.search(q, k=1000)
    assert actual == expected, f"query={q!r}"


@pytest.mark.parametrize(
    "q", ["linux", "linux ubuntu", "linux -google", "w0042", "host:conv00000017"]
)
def test_bm25_mode_matches_oracle(engine, oracle_index, q):
    expected = oracle.search_bm25(oracle_index, q, k=10)
    actual = engine.search(q, k=10, mode="bm25")
    assert [d for d, _ in actual] == [d for d, _ in expected], q
    for (_, sa), (_, se) in zip(actual, expected):
        assert abs(sa - se) < 1e-5, q


@pytest.fixture(scope="module")
def local_searcher(tiny_index_dir):
    from deusu_spark.query_local import LocalSearcher

    return LocalSearcher(tiny_index_dir)


@pytest.mark.parametrize("q", QUERIES)
def test_local_searcher_rank_identity(local_searcher, oracle_index, q):
    expected = oracle.search(oracle_index, q, k=10)
    actual = local_searcher.search(q, k=10)
    assert actual == expected, f"query={q!r}"


@pytest.mark.parametrize("q", ["linux", "linux ubuntu", "w0042"])
def test_local_searcher_bm25(local_searcher, oracle_index, q):
    expected = oracle.search_bm25(oracle_index, q, k=10)
    actual = local_searcher.search(q, k=10, mode="bm25")
    assert [d for d, _ in actual] == [d for d, _ in expected], q
    for (_, sa), (_, se) in zip(actual, expected):
        assert abs(sa - se) < 1e-5, q


@pytest.mark.parametrize("q", ["linux", "linux -google", "w0100 w0005 linux"])
def test_custom_weights_rank_identity(engine, oracle_index, q):
    # b1..b6 arrive as 0..32 multiplied by 256, b7 raw
    # (searchservernew.dpr:1779-1787); non-default weights disable the
    # block-max fast path (bounds are built for default weights)
    w = {"b1": 4 * 256, "b2": 8 * 256, "b3": 1 * 256, "b7": 3}
    expected = oracle.search(oracle_index, q, k=10, weights=w)
    actual = engine.search(q, k=10, weights=w)
    assert actual == expected, q


def test_prune_matches_noprune(engine):
    for q, k in (
        ("linux", 20),
        ("linux ubuntu", 20),
        ("w0042 linux", 20),
        ("linux", 1000),  # single term: block-max rounds 1 and 2
        ("w0042", 1000),
    ):
        unpruned = engine.search(q, k=k, prune=False)
        assert engine.search(q, k=k, prune=True) == unpruned, (q, k)
        if (q, k) == ("linux", 1000):
            assert engine.last_stats["strategy"] == "single_blockmax"


def test_above_broadcast_cap_rank_identity(spark, tiny_index_dir, oracle_index):
    """Above docmeta_broadcast_max_docs the sidecars are not broadcast:
    decoded postings sort-merge join docmeta per location-mask group and
    score after the join. Results must equal the oracle's, and a batch
    must equal per-query search on the same engine."""
    from deusu_spark.query import SearchEngine

    eng = SearchEngine(spark, tiny_index_dir)
    eng.docmeta_broadcast_max_docs = 0  # every index is above the cap
    assert eng._sidecars_py() is None
    qs = ["linux", "linux ubuntu", "linux -google", "host:conv00000017 linux"]
    for q in qs:
        assert eng.search(q, k=10) == oracle.search(oracle_index, q, k=10), q
    assert eng.search_many(qs, k=10) == [eng.search(q, k=10) for q in qs]
