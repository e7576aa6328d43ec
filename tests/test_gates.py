"""G1 ignore-list gate + P7 index gate build invariants
(GenDb.dpr:302-341, ParserClass.pas:1265-1267)."""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from deusu_spark import synth
from deusu_spark.build import build_index, current_index_dir
from deusu_spark.query_local import LocalSearcher


@pytest.fixture(scope="module")
def gated_index(spark, tiny_corpus):
    d = tempfile.mkdtemp(prefix="deusu_gate_")
    build_index(
        spark,
        spark.createDataFrame(tiny_corpus),
        d,
        fancy_threshold=10**9,
        seg_size=256,
        ignore_hosts=["conv00000017", "CONV00000003"],  # case-insensitive
    )
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_ignored_hosts_absent_everywhere(spark, gated_index):
    vdir = current_index_dir(gated_index)
    dm = spark.read.parquet(f"{vdir}/docmeta")
    assert dm.where(F.col("host").isin("conv00000017", "conv00000003")).count() == 0
    # no postings can reference a dropped doc: doc_id space must still be
    # dense 0..n-1 and all posting doc_ids must exist in docmeta
    n = dm.count()
    assert dm.agg(F.min("doc_id")).first()[0] == 0
    assert dm.agg(F.max("doc_id")).first()[0] == n - 1
    assert dm.select("doc_id").distinct().count() == n
    ls = LocalSearcher(gated_index)
    assert ls.search("host:conv00000017", k=10) == []


def test_ignored_hosts_dataframe_form(spark, tiny_corpus):
    d = tempfile.mkdtemp(prefix="deusu_gate_df_")
    try:
        ig = spark.createDataFrame([("conv00000017",)], ["host"])
        build_index(
            spark,
            spark.createDataFrame(tiny_corpus.head(500)),
            d,
            fancy_threshold=10**9,
            seg_size=256,
            ignore_hosts=ig,
        )
        vdir = current_index_dir(d)
        dm = spark.read.parquet(f"{vdir}/docmeta")
        assert dm.where(F.col("host") == "conv00000017").count() == 0
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_index_gate_de_only(spark, tiny_corpus):
    """P7: de_only keeps exactly the German docs (per the oracle tokenizer),
    with dense collision-free doc_ids."""
    from deusu_spark import textproc

    d = tempfile.mkdtemp(prefix="deusu_gate_de_")
    try:
        corpus = tiny_corpus.head(800)
        build_index(
            spark,
            spark.createDataFrame(corpus),
            d,
            fancy_threshold=10**9,
            seg_size=256,
            index_gate="de_only",
        )
        vdir = current_index_dir(d)
        dm = spark.read.parquet(f"{vdir}/docmeta")
        rows = dm.select("doc_id", "german", "conv_id", "turn_idx").collect()
        assert rows and all(r["german"] for r in rows)
        expected = sum(
            1
            for r in corpus.itertuples(index=False)
            if textproc.doc_terms(r.text, r.role, r.tool)[2]
        )
        assert len(rows) == expected
        ids = sorted(r["doc_id"] for r in rows)
        assert ids == list(range(len(rows)))  # dense, no gaps/collisions
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_unknown_gate_rejected(spark, tiny_corpus):
    from deusu_spark.build import tokenized_docs

    with pytest.raises(ValueError):
        tokenized_docs(
            spark.createDataFrame(tiny_corpus.head(5)).withColumn(
                "rank", F.lit(-1)
            ).withColumn("backlinks", F.lit(1).cast("long")),
            index_gate="nope",
        )


def test_fully_gated_corpus_publishes_empty_index(spark, tiny_corpus):
    """ignore_hosts naming every conversation gates out every document:
    the build still publishes (an empty generation) and both engines
    answer every query with no results."""
    import json

    from deusu_spark.query import SearchEngine

    d = tempfile.mkdtemp(prefix="deusu_gate_empty_")
    try:
        corpus = tiny_corpus.head(40)
        build_index(
            spark,
            spark.createDataFrame(corpus),
            d,
            fancy_threshold=10**9,
            seg_size=256,
            ignore_hosts=sorted(set(corpus["conv_id"])),
        )
        with open(f"{current_index_dir(d)}/meta.json") as f:
            assert json.load(f)["n_docs"] == 0
        ls = LocalSearcher(d)
        eng = SearchEngine(spark, d)
        for q in ("linux", "linux google", "linux -google", "host:conv00000001"):
            assert ls.search(q, k=10) == [], q
            assert eng.search(q, k=10) == [], q
    finally:
        shutil.rmtree(d, ignore_errors=True)
