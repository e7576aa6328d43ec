"""Doc-range-sharded serving tier: ShardedSearcher must be rank-identical
to the single-server LocalSearcher (itself pinned to the oracle) at 2 and
3 shards, across the full query-language surface and both scoring modes —
the evidence that the 10^12-doc serving design preserves exact semantics."""

import pytest

from deusu_spark.query_local import LocalSearcher, ShardedSearcher
from tests.test_rank_identity import QUERIES


@pytest.fixture(scope="module")
def local(tiny_index_dir):
    return LocalSearcher(tiny_index_dir)


@pytest.fixture(scope="module", params=[2, 3])
def sharded(request, tiny_index_dir):
    return ShardedSearcher(tiny_index_dir, n_shards=request.param)


def test_shard_sidecars_are_partitioned(sharded, local):
    total = sum(len(s.fd) for s in sharded.shards)
    assert total == len(local.fd)  # no doc duplicated or dropped
    for s in sharded.shards:
        assert len(s.fd) < len(local.fd)  # every shard strictly smaller


@pytest.mark.parametrize("q", QUERIES)
def test_sharded_rank_identity(sharded, local, q):
    assert sharded.search(q, k=10) == local.search(q, k=10), q


def test_sharded_k1000(sharded, local):
    for q in ("linux", "linux ubuntu", "linux -google"):
        assert sharded.search(q, k=1000) == local.search(q, k=1000), q


def test_sharded_bm25(sharded, local):
    for q in ("linux", "linux ubuntu", "w0042", "host:conv00000017"):
        assert sharded.search(q, k=10, mode="bm25") == local.search(
            q, k=10, mode="bm25"
        ), q


def test_sharded_custom_weights(sharded, local):
    w = {"b1": 10, "b7": 3}
    for q in ("linux", "linux ubuntu"):
        assert sharded.search(q, k=10, weights=w) == local.search(
            q, k=10, weights=w
        ), q


def test_sharded_fetch_results(sharded, local):
    """Each id is fetched from the shard whose doc range holds it: the
    rows span every shard, and every display field matches the
    single-server fetch in input order."""
    rows = sharded.search("w0001", k=1000)
    assert all(
        any(sh.doc_lo <= d < sh.doc_hi for d, _ in rows) for sh in sharded.shards
    )
    got = sharded.fetch_results(rows)
    want = local.fetch_results(rows)

    def fields(r):
        return (r.doc_id, r.value, r.url, r.title, r.snippet, r.host,
                r.backlinks, r.domain_rank)

    assert len(got) == len(rows)
    assert [fields(r) for r in got] == [fields(r) for r in want]


def test_parallel_and_sequential_fanout_identical(tiny_index_dir):
    """The thread-pool fan-out must be a pure execution-strategy change:
    identical results to the sequential loop for every query and mode."""
    par = ShardedSearcher(tiny_index_dir, n_shards=3, parallel=True)
    seq = ShardedSearcher(tiny_index_dir, n_shards=3, parallel=False)
    assert par._pool is not None and seq._pool is None
    for q in QUERIES:
        for mode in ("deusu", "bm25"):
            assert par.search(q, k=1000, mode=mode) == seq.search(
                q, k=1000, mode=mode
            ), (q, mode)
