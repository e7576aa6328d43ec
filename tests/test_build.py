"""Build invariants (FIXTURES.md §Invariants) + parity checks between the
Spark index and the oracle index."""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from deusu_spark import codec
from deusu_spark.build import current_index_dir
from deusu_spark.synth import crc32


def test_spark_crc32_matches_zlib(spark):
    # SURVEY §1.3: Hash.pas CRC-32 == zlib.crc32 == Spark F.crc32
    words = ["linux", "conv00000017/3", "über", "w0042", ""]
    df = spark.createDataFrame([(w,) for w in words], ["s"])
    got = {
        r["s"]: r["c"]
        for r in df.select("s", F.crc32(F.encode("s", "UTF-8")).alias("c")).collect()
    }
    for w in words:
        assert got[w] == crc32(w), w


def test_doc_ids_match_oracle(spark, tiny_index_dir, oracle_index):
    vdir = current_index_dir(tiny_index_dir)
    dm = (
        spark.read.parquet(f"{vdir}/docmeta")
        .select("doc_id", "conv_id", "turn_idx")
        .orderBy("doc_id")
        .collect()
    )
    assert [(r["conv_id"], r["turn_idx"]) for r in dm] == oracle_index.doc_keys


def test_sidecars_match_oracle(spark, tiny_index_dir, oracle_index):
    vdir = current_index_dir(tiny_index_dir)
    dm = spark.read.parquet(f"{vdir}/docmeta").orderBy("doc_id").collect()
    for r in dm:
        d = r["doc_id"]
        assert r["fd"] == oracle_index.filter_data[d]
        assert r["he"] == oracle_index.host_elements[d]
        assert r["rank"] == oracle_index.rank_data[d]
        assert r["backlinks"] == oracle_index.backlinks[d]


def test_df_invariant_and_postings_match(spark, tiny_index_dir, oracle_index):
    """Σ df == total postings == distinct (term, doc) pairs; decoded segment
    contents equal the oracle's posting lists."""
    vdir = current_index_dir(tiny_index_dir)
    lex = {
        r["term"]: r["df"]
        for r in spark.read.parquet(f"{vdir}/lexicon").collect()
    }
    assert lex == {t: len(p) for t, p in oracle_index.postings.items()}

    segs = (
        spark.read.parquet(f"{vdir}/postings")
        .where(F.col("kind") == "full")
        .select("term", "first_doc", "n", "blob")
        .toPandas()
    )
    assert int(segs["n"].sum()) == sum(lex.values())

    # decode and compare a sample of terms end-to-end (hot + cold)
    for term in ("linux", "google", "w0042", "w0001", "user", "assistant"):
        sub = segs[segs["term"] == term].sort_values("first_doc")
        docs, flags = [], []
        for blob in sub["blob"]:
            d, f = codec.decode(bytes(blob))
            docs.extend(d.tolist())
            flags.extend(f.tolist())
        expected = oracle_index.postings.get(term, [])
        assert list(zip(docs, flags)) == expected, term
        assert docs == sorted(docs)  # ascending across segments

    # info.txt build-stats parity (GenDb.dpr:658-693): UniqueWords == the
    # vocabulary size, WordOccurences == Σ df == total postings, and both
    # land in meta.json and the info.txt report
    import json as _json
    import os as _os

    with open(f"{vdir}/meta.json") as f:
        meta = _json.load(f)
    assert meta["unique_words"] == len(lex)
    assert meta["word_occurrences"] == sum(lex.values()) == meta["n_postings"]
    info = open(f"{vdir}/info.txt").read().splitlines()
    assert info[-2] == f"UniqueWords={len(lex)}"
    assert info[-1] == f"WordOccurences={sum(lex.values())}"
    # every listed line is a real (df, term) lexicon entry over threshold
    listed = [ln for ln in info[:-2] if ln.strip()]
    for ln in listed:
        df_s, term = ln.split()
        assert lex.get(term) == int(df_s)


def test_info_txt_high_df_list(spark, tiny_corpus):
    """With a tiny threshold, the info.txt list must name exactly the
    lexicon's >= threshold terms in the reference's line format."""
    import json
    import shutil
    import tempfile

    from deusu_spark.build import build_index

    d = tempfile.mkdtemp(prefix="deusu_info_")
    try:
        build_index(
            spark,
            spark.createDataFrame(tiny_corpus),
            d,
            fancy_threshold=300,
            seg_size=256,
            n_salts=2,
            info_df_threshold=50,
        )
        vdir = current_index_dir(d)
        lex = {
            r["term"]: r["df"]
            for r in spark.read.parquet(f"{vdir}/lexicon").collect()
        }
        expect = sorted(t for t, df in lex.items() if df >= 50)
        lines = open(f"{vdir}/info.txt").read().splitlines()
        got = [ln.split()[1] for ln in lines[:-2] if ln.strip()]
        assert got == expect
        for ln in lines[:-2]:
            df_s = ln[:10]
            assert df_s == f"{int(df_s):10d}"  # width-10 right-aligned df
        with open(f"{vdir}/meta.json") as f:
            meta = json.load(f)
        assert sorted(t for t, _ in meta["high_df_terms"]) == expect
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_segment_ranges_disjoint(spark, tiny_index_dir):
    """Per (term, kind), segment [first_doc, last_doc] ranges must be
    pairwise disjoint and ordered — LocalSearcher concatenation and the
    block-max/interval pruning rely on it."""
    vdir = current_index_dir(tiny_index_dir)
    segs = (
        spark.read.parquet(f"{vdir}/postings")
        .select("term", "kind", "first_doc", "last_doc")
        .toPandas()
    )
    for (_, _), sub in segs.groupby(["term", "kind"]):
        sub = sub.sort_values("first_doc")
        lasts = sub["last_doc"].to_numpy()
        firsts = sub["first_doc"].to_numpy()
        assert (firsts <= lasts).all()
        assert (firsts[1:] > lasts[:-1]).all()


def test_fancy_lists_match_oracle(spark, tiny_index_dir, oracle_index):
    vdir = current_index_dir(tiny_index_dir)
    segs = (
        spark.read.parquet(f"{vdir}/postings")
        .where(F.col("kind") == "fancy")
        .select("term", "first_doc", "blob")
        .toPandas()
    )
    spark_fancy_terms = set(segs["term"])
    assert spark_fancy_terms == set(oracle_index.fancy)
    for term in oracle_index.fancy:
        sub = segs[segs["term"] == term].sort_values("first_doc")
        docs = []
        for blob in sub["blob"]:
            d, _ = codec.decode(bytes(blob))
            docs.extend(d.tolist())
        assert docs == [d for d, _ in oracle_index.fancy[term]], term


def test_block_max_is_true_upper_bound(spark, tiny_index_dir, oracle_index):
    """max_static must dominate every posting's static score in its segment
    (block-max WAND safety)."""
    from deusu_spark.scoring import static_scores

    vdir = current_index_dir(tiny_index_dir)
    segs = (
        spark.read.parquet(f"{vdir}/postings")
        .where(F.col("kind") == "full")
        .select("term", "first_doc", "max_static", "blob")
        .toPandas()
        .sample(n=min(200, 10_000), random_state=0)
    )
    max_bl = max(oracle_index.backlinks)
    fd = np.array(oracle_index.filter_data)
    he = np.array(oracle_index.host_elements)
    rank = np.array(oracle_index.rank_data)
    bl = np.array(oracle_index.backlinks)
    for row in segs.itertuples(index=False):
        docs, flags = codec.decode(bytes(row.blob))
        s = static_scores(
            flags.astype(np.int64), fd[docs], he[docs], rank[docs], bl[docs], max_bl
        )
        # JVM-computed max_static may differ from numpy by ~1 ulp of log()
        # max_static travels the scatter as float32 (build.py static narrows
        # it; bounds carry a ±1 margin in the engine) — allow float32
        # round-to-nearest plus the ~1-ulp JVM-vs-numpy log() drift
        assert s.max() <= row.max_static + abs(row.max_static) * 3e-7 + 1e-9


def test_per_turn_text_equality(spark, tiny_corpus):
    """North-rule invariant: reading the corpus back ordered by
    (conv_id, turn_idx) yields byte-identical text."""
    sdf = spark.createDataFrame(tiny_corpus)
    back = (
        sdf.orderBy("conv_id", "turn_idx").select("conv_id", "turn_idx", "text")
        .toPandas()
    )
    src = tiny_corpus.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    assert list(back["text"]) == list(src["text"])


def test_resume_skips_done_stages(spark, tiny_corpus, tiny_index_dir):
    """Re-running build on a published index is a no-op (all stages skipped),
    and lineage records every stage."""
    import json

    from deusu_spark.build import build_index

    vdir = current_index_dir(tiny_index_dir)
    with open(f"{vdir}/_lineage.jsonl") as f:
        steps = [json.loads(line)["step"] for line in f]
    # the one build layout: lexicon off the staged docs, then one
    # shuffle → encode → write job for the segments
    assert steps[:5] == ["docs", "docmeta", "lexicon", "segments_fused", "publish"]


def test_high_df_order_matches_sql_shape(spark, tiny_corpus):
    """meta.json's high_df_terms must carry the exact (df desc, term asc)
    order the old SQL collect produced — publish now computes the list
    driver-side from a local lexicon read under the dict cap, and the
    ordering (not just the membership) is what bounds the INFO_TERM_LIST_CAP
    truncation at scale."""
    import json
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from deusu_spark.build import build_index

    d = tempfile.mkdtemp(prefix="deusu_hdforder_")
    try:
        build_index(
            spark,
            spark.createDataFrame(tiny_corpus),
            d,
            fancy_threshold=300,
            seg_size=256,
            n_salts=2,
            info_df_threshold=2,  # low bar => many entries incl. df ties
        )
        vdir = current_index_dir(d)
        sql_order = [
            [r["term"], int(r["df"])]
            for r in spark.read.parquet(f"{vdir}/lexicon")
            .where(F.col("df") >= 2)
            .orderBy(F.desc("df"), "term")
            .collect()
        ]
        with open(f"{vdir}/meta.json") as f:
            meta = json.load(f)
        assert meta["high_df_terms"] == sql_order
        # ties exist in the fixture, so this pins the asc-term tie-break
        dfs = [df for _, df in sql_order]
        assert len(dfs) != len(set(dfs)), "fixture should produce df ties"
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_string_layout_equals_dict_layout(spark, tiny_corpus, tiny_index_dir, monkeypatch):
    """Above DICT_VOCAB_MAX the segments stage shuffles term strings
    instead of int64 term ids. Forcing that layout on the tiny corpus must
    give the same lexicon and the same segment rows, blob for blob."""
    import json
    import shutil
    import tempfile

    from deusu_spark import build
    from tests.conftest import TINY_FANCY_THRESHOLD, TINY_SEG_SIZE

    def tables(root):
        vdir = current_index_dir(root)
        lex = sorted(
            tuple(r)
            for r in spark.read.parquet(f"{vdir}/lexicon")
            .select("bucket", "term", "df")
            .collect()
        )
        segs = sorted(
            (r["bucket"], r["term"], r["kind"], r["first_doc"], r["n"], bytes(r["blob"]))
            for r in spark.read.parquet(f"{vdir}/postings").collect()
        )
        with open(f"{vdir}/_lineage.jsonl") as f:
            seg_step = [
                rec for rec in map(json.loads, f) if rec["step"] == "segments_fused"
            ]
        return lex, segs, seg_step[0]["dict_encoded"]

    monkeypatch.setattr(build, "DICT_VOCAB_MAX", 0)
    d = tempfile.mkdtemp(prefix="deusu_strlayout_")
    try:
        build.build_index(
            spark,
            spark.createDataFrame(tiny_corpus),
            d,
            fancy_threshold=TINY_FANCY_THRESHOLD,
            seg_size=TINY_SEG_SIZE,
            n_salts=4,
        )
        lex_s, segs_s, dict_s = tables(d)
        lex_d, segs_d, dict_d = tables(tiny_index_dir)
        assert dict_d and not dict_s
        assert any(k == "fancy" for _, _, k, *_ in segs_s)
        assert lex_s == lex_d
        assert segs_s == segs_d
    finally:
        shutil.rmtree(d, ignore_errors=True)
