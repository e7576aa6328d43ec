"""Incremental append (new conversations) must equal a full rebuild when the
new conv_ids sort after the existing ones — same doc_ids, same postings,
same query results, same statistics and info.txt. Every index writer's
version records the statistics of its own tables and keeps no scratch."""

import json
import os
import shutil
import tempfile

import pytest

from deusu_spark import synth
from deusu_spark.build import (
    build_index,
    current_index_dir,
    list_index_versions,
    segment_stats,
)
from deusu_spark.incremental import (
    compact_index,
    delete_conversations,
    incremental_update,
)
from deusu_spark.merge import merge_indexes
from deusu_spark.query_local import LocalSearcher


@pytest.fixture(scope="module")
def split_corpora():
    full = synth.gen_transcripts(80)
    convs = sorted(full["conv_id"].unique())
    old_set = set(convs[:60])
    base = full[full["conv_id"].isin(old_set)].reset_index(drop=True)
    delta = full[~full["conv_id"].isin(old_set)].reset_index(drop=True)
    # delta conv ids all sort after base conv ids
    assert max(base["conv_id"]) < min(delta["conv_id"])
    return full, base, delta


KW = dict(fancy_threshold=100, seg_size=128, n_salts=2)
# low enough that info.txt lists terms; the append is not told it and must
# take it from the base version's meta
INFO_KW = dict(KW, info_df_threshold=20)


@pytest.fixture(scope="module")
def appended(spark, split_corpora):
    """(fresh build of the union, base build + append of the delta)."""
    full, base, delta = split_corpora
    d_full, d_inc = tempfile.mkdtemp(prefix="ifull_"), tempfile.mkdtemp(prefix="iinc_")
    build_index(spark, spark.createDataFrame(full), d_full, **INFO_KW)
    build_index(spark, spark.createDataFrame(base), d_inc, **INFO_KW)
    incremental_update(spark, d_inc, spark.createDataFrame(delta), **KW)
    yield d_full, d_inc
    shutil.rmtree(d_full, ignore_errors=True)
    shutil.rmtree(d_inc, ignore_errors=True)


def test_incremental_equals_full_rebuild(appended):
    d_full, d_inc = appended
    ls_full = LocalSearcher(d_full)
    ls_inc = LocalSearcher(d_inc)
    assert ls_inc.n_docs == ls_full.n_docs
    assert ls_inc.max_bl == ls_full.max_bl

    for term in ("linux", "google", "w0001", "w0042", "user"):
        assert ls_inc.term_df(term) == ls_full.term_df(term), term
        d_i, f_i = ls_inc._term_postings(term, False, ls_inc.term_df(term))
        d_f, f_f = ls_full._term_postings(term, False, ls_full.term_df(term))
        assert d_i.tolist() == d_f.tolist(), term
        assert f_i.tolist() == f_f.tolist(), term

    for q in ("linux", "linux -google", "w0007 -w0002", "host:conv00000070"):
        assert ls_inc.search(q, k=20) == ls_full.search(q, k=20), q


def _meta_and_info(root):
    vdir = current_index_dir(root)
    with open(os.path.join(vdir, "meta.json")) as f:
        meta = json.load(f)
    with open(os.path.join(vdir, "info.txt"), "rb") as f:
        return meta, f.read()


def test_append_statistics_equal_fresh_build(appended):
    """The appended version's statistics describe its own tables: equal to
    a fresh build of the union, info.txt byte for byte."""
    (full_meta, full_info), (inc_meta, inc_info) = map(_meta_and_info, appended)
    for key in ("unique_words", "word_occurrences", "high_df_terms",
                "n_postings", "n_docs", "max_backlinks"):
        assert inc_meta[key] == full_meta[key], key
    assert full_meta["high_df_terms"], "threshold 20 should list terms"
    assert inc_info == full_info


def test_every_writer_publishes_own_stats(spark, appended, split_corpora):
    """Build, append, deletion, compaction and merge versions each record
    the compressed bytes and segment count of their own postings, have an
    info.txt and keep no build scratch (stage_docs) or delta scratch
    (_delta)."""
    d_full, d_inc = appended
    _full, _base, delta = split_corpora
    work = tempfile.mkdtemp(prefix="iwriters_")
    try:
        d_cmp = os.path.join(work, "compacted")
        shutil.copytree(d_inc, d_cmp)
        delete_conversations(spark, d_cmp, [delta["conv_id"].iloc[0]])
        compact_index(spark, d_cmp)
        d_merged = os.path.join(work, "merged")
        merge_indexes(spark, [d_cmp, d_full], d_merged)
        checked = 0
        for root in (d_full, d_cmp, d_merged):
            for v in list_index_versions(root):
                vdir = os.path.join(root, v)
                with open(os.path.join(vdir, "meta.json")) as f:
                    meta = json.load(f)
                stats = segment_stats(
                    spark.read.parquet(os.path.join(vdir, "postings"))
                )
                assert meta["compressed_bytes"] == stats["bytes"], vdir
                assert meta["n_segments"] == stats["segments"], vdir
                assert os.path.isfile(os.path.join(vdir, "info.txt")), vdir
                for scratch in ("stage_docs", "_delta"):
                    assert not os.path.exists(os.path.join(vdir, scratch)), vdir
                checked += 1
        assert checked == 1 + 4 + 1  # build; base, append, delete, compact; merge
    finally:
        shutil.rmtree(work, ignore_errors=True)
