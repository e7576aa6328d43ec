"""compact_index contract: a pure physical rewrite of the CURRENT index.

After incremental appends the physical index is fragmented (per-delta
segment runs and parquet files) and fancy lists are stale (a term hot only
GLOBALLY has no accelerator coverage anywhere — neither the base build nor
any delta saw it cross the threshold). Compaction must:

  1. produce segment tables BYTE-IDENTICAL to a from-scratch build of the
     union corpus (same blobs, ranges, block-max metadata) — the encoder,
     salts and static scores are all deterministic, so anything weaker
     would hide a divergence;
  2. stay rank-identical to the pre-compaction index on every query;
  3. close the fancy staleness hole;
  4. carry tombstones forward.
"""

import os
import shutil
import tempfile

import pandas as pd
import pytest

from deusu_spark import synth
from deusu_spark.build import build_index, current_index_dir
from deusu_spark.incremental import (
    compact_index,
    delete_conversations,
    incremental_update,
)
from deusu_spark.query_local import LocalSearcher

KW = dict(fancy_threshold=60, seg_size=128, n_salts=2)
QUERIES = (
    "linux",
    "google",
    "linux -google",
    "w0007 -w0002",
    "w0001 w0003",
    "host:conv00000070",
    "user",
)


@pytest.fixture(scope="module")
def compacted_env(spark):
    full = synth.gen_transcripts(80)
    convs = sorted(full["conv_id"].unique())
    parts = [
        full[full["conv_id"].isin(set(convs[:40]))],
        full[full["conv_id"].isin(set(convs[40:60]))],
        full[full["conv_id"].isin(set(convs[60:]))],
    ]
    d_full = tempfile.mkdtemp(prefix="cfull_")
    d_cmp = tempfile.mkdtemp(prefix="ccmp_")
    build_index(spark, spark.createDataFrame(full), d_full, **KW)
    build_index(spark, spark.createDataFrame(parts[0]), d_cmp, **KW)
    for p in parts[1:]:
        incremental_update(spark, d_cmp, spark.createDataFrame(p), **KW)
    pre_vdir = current_index_dir(d_cmp)
    pre_results = {
        q: LocalSearcher(d_cmp).search(q, k=50) for q in QUERIES
    }
    metrics = compact_index(spark, d_cmp)
    yield spark, d_full, d_cmp, pre_vdir, pre_results, metrics
    shutil.rmtree(d_full, ignore_errors=True)
    shutil.rmtree(d_cmp, ignore_errors=True)


def _segments_pdf(spark, vdir) -> pd.DataFrame:
    pdf = (
        spark.read.parquet(os.path.join(vdir, "postings"))
        .toPandas()
        .sort_values(["bucket", "term", "kind", "first_doc"])
        .reset_index(drop=True)
    )
    pdf["blob"] = pdf["blob"].map(bytes)
    return pdf


def test_segments_identical_to_fresh_build(compacted_env):
    spark, d_full, d_cmp, _pre, _res, _m = compacted_env
    a = _segments_pdf(spark, current_index_dir(d_full))
    b = _segments_pdf(spark, current_index_dir(d_cmp))
    pd.testing.assert_frame_equal(a, b, check_dtype=False)


def test_rank_identity_pre_and_fresh(compacted_env):
    spark, d_full, d_cmp, _pre, pre_results, _m = compacted_env
    ls_c = LocalSearcher(d_cmp)
    ls_f = LocalSearcher(d_full)
    for q in QUERIES:
        got = ls_c.search(q, k=50)
        assert got == pre_results[q], q
        assert got == ls_f.search(q, k=50), q


def test_fancy_staleness_hole_closed(compacted_env):
    spark, d_full, d_cmp, pre_vdir, _res, metrics = compacted_env
    import pyspark.sql.functions as F

    # hot terms whose PRE-compaction index had no fancy coverage at all:
    # hot only globally — neither the base build nor any delta crossed
    # the threshold on its own slice
    lex = spark.read.parquet(os.path.join(pre_vdir, "lexicon"))
    hot = {
        r["term"]
        for r in lex.where(F.col("df") > KW["fancy_threshold"]).collect()
    }
    assert hot, "fixture must produce hot terms"
    pre_fancy = {
        r["term"]
        for r in spark.read.parquet(os.path.join(pre_vdir, "postings"))
        .where(F.col("kind") == "fancy")
        .select("term")
        .distinct()
        .collect()
    }
    holes = hot - pre_fancy
    assert holes, (
        "fixture must produce a globally-hot-only term (adjust "
        "fancy_threshold if synth changed)"
    )
    post_fancy = {
        r["term"]
        for r in spark.read.parquet(
            os.path.join(current_index_dir(d_cmp), "postings")
        )
        .where(F.col("kind") == "fancy")
        .select("term")
        .distinct()
        .collect()
    }
    # docs in the rank window exist for these terms in the full build, so
    # the fresh-build comparison (test above) already proves coverage is
    # exactly right; here we pin the holes specifically
    full_fancy = {
        r["term"]
        for r in spark.read.parquet(
            os.path.join(current_index_dir(d_full), "postings")
        )
        .where(F.col("kind") == "fancy")
        .select("term")
        .distinct()
        .collect()
    }
    assert holes & full_fancy <= post_fancy
    assert post_fancy == full_fancy


def test_lexicon_df_unchanged(compacted_env):
    spark, _d_full, d_cmp, pre_vdir, _res, _m = compacted_env
    old = {
        (r["term"]): r["df"]
        for r in spark.read.parquet(os.path.join(pre_vdir, "lexicon")).collect()
    }
    new = {
        (r["term"]): r["df"]
        for r in spark.read.parquet(
            os.path.join(current_index_dir(d_cmp), "lexicon")
        ).collect()
    }
    assert old == new


def test_tombstones_survive_compaction(spark):
    full = synth.gen_transcripts(30)
    d = tempfile.mkdtemp(prefix="ctomb_")
    try:
        build_index(spark, spark.createDataFrame(full), d, **KW)
        victim = sorted(full["conv_id"].unique())[0]
        delete_conversations(spark, d, [victim])
        masked = LocalSearcher(d).search("user", k=1000)
        compact_index(spark, d)
        ls = LocalSearcher(d)
        assert ls.search("user", k=1000) == masked
        assert not [
            r for r in ls.fetch_results(ls.search("user", k=1000))
            if r.url.startswith(f"{victim}/")
        ]
    finally:
        shutil.rmtree(d, ignore_errors=True)
