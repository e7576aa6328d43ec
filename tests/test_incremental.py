"""Incremental append (new conversations) must equal a full rebuild when the
new conv_ids sort after the existing ones — same doc_ids, same postings,
same query results."""

import shutil
import tempfile

import pandas as pd
import pytest

from deusu_spark import synth
from deusu_spark.build import build_index
from deusu_spark.incremental import incremental_update
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


def test_incremental_equals_full_rebuild(spark, split_corpora):
    full, base, delta = split_corpora
    kw = dict(fancy_threshold=100, seg_size=128, n_salts=2)
    d_full, d_inc = tempfile.mkdtemp(prefix="ifull_"), tempfile.mkdtemp(prefix="iinc_")
    try:
        build_index(spark, spark.createDataFrame(full), d_full, **kw)
        build_index(spark, spark.createDataFrame(base), d_inc, **kw)
        incremental_update(spark, d_inc, spark.createDataFrame(delta), **kw)

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
    finally:
        shutil.rmtree(d_full, ignore_errors=True)
        shutil.rmtree(d_inc, ignore_errors=True)
