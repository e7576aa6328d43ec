"""Iceberg backend executed against the mocked catalog (tests/iceberg_mock):
the real iceberg-spark runtime jars are not in this container and the
sandbox has no network to fetch them (curl to maven → DNS failure), so this
is the documented-hard-blocker path the write seam can actually exercise:
every TableIO iceberg branch (createOrReplace / create / append fallback /
overwritePartitions / snapshot publish) plus a full build → query → resume
pass through the seam.

The north rule names Iceberg; these tests keep the ~90 LoC of
tableio.py's iceberg write paths from bitrotting and pin the dynamic
partition-overwrite contract the resume story depends on."""

import json
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from deusu_spark import synth
from deusu_spark.build import build_index, current_index_dir
from deusu_spark.tableio import TableIO
from tests.iceberg_mock import install_mock_iceberg
from tests.test_resume import _crash_at


@pytest.fixture()
def mock_io(spark, monkeypatch, tmp_path):
    cat = install_mock_iceberg(monkeypatch, spark, str(tmp_path / "cat"))
    return TableIO(spark, backend="iceberg", catalog="mock"), cat


def test_create_or_replace_and_read(spark, mock_io):
    io, cat = mock_io
    df = spark.range(50).withColumn("bucket", (F.col("id") % 4).cast("int"))
    io.write(df, "idx/postings")
    assert io.exists("idx/postings")
    assert io.read("idx/postings").count() == 50
    io.write(df.where("id < 10"), "idx/postings")  # replace
    assert io.read("idx/postings").count() == 10
    assert len(cat.snapshots("mock.deusu.idx_postings")) == 2


def test_append_falls_back_to_create(spark, mock_io):
    io, cat = mock_io
    df = spark.range(20)
    io.write(df, "idx/extra", mode="append")  # table missing -> create
    assert io.read("idx/extra").count() == 20
    io.write(df, "idx/extra", mode="append")
    assert io.read("idx/extra").count() == 40


def test_overwrite_partitions_is_dynamic(spark, mock_io):
    io, cat = mock_io
    full = spark.range(100).withColumn("bucket", (F.col("id") % 4).cast("int"))
    io.write(full, "idx/seg", mode="overwrite_partitions", partition_by=["bucket"])
    assert io.read("idx/seg").count() == 100
    # rewrite ONLY bucket 1 with half its rows: other buckets intact
    b1 = full.where("bucket = 1 and id < 50")
    io.write(b1, "idx/seg", mode="overwrite_partitions", partition_by=["bucket"])
    back = io.read("idx/seg")
    assert back.where("bucket != 1").count() == 75
    assert back.where("bucket = 1").count() == b1.count()


def test_bucket_transform_group_overwrite_hazard(spark, mock_io):
    """Pins WHY build.py identity-partitions its group-overwritten tables:
    iceberg's hash buckets of term do not align with the engine's crc32
    bucket groups, so per-crc-group dynamic overwrite on a bucket(n, term)
    transform loses other groups' rows — on real Iceberg and in this mock
    (whose stand-in hash is deliberately different from the crc32 column).
    """
    df = (
        spark.range(200)
        .withColumn("term", F.concat(F.lit("t"), F.col("id")))
        .withColumn(
            "bucket", (F.crc32(F.encode(F.col("term"), "UTF-8")) % 2).cast("int")
        )
    )
    io, cat = mock_io
    g0, g1 = df.where("bucket = 0"), df.where("bucket = 1")
    total = g0.count() + g1.count()

    # the hazard: transform-partitioned table, crc-grouped overwrites
    io.write(g0, "bad/seg", mode="overwrite_partitions", bucket_transform=(8, "term"))
    io.write(g1, "bad/seg", mode="overwrite_partitions", bucket_transform=(8, "term"))
    assert io.read("bad/seg").count() < total  # g1's overwrite ate g0 rows

    # the fix: identity partitions on the group key are disjoint
    io.write(g0, "good/seg", mode="overwrite_partitions", partition_by=["bucket"])
    io.write(g1, "good/seg", mode="overwrite_partitions", partition_by=["bucket"])
    assert io.read("good/seg").count() == total


def test_publish_writes_snapshot_and_pointer(spark, mock_io, tmp_path):
    io, cat = mock_io
    root = str(tmp_path / "pub")
    os.makedirs(root)
    io.publish(root, "v_0001")
    assert io.current(root) == "v_0001"
    io.publish(root, "v_0002")
    assert io.current(root) == "v_0002"
    # generation bookkeeping table committed one snapshot per publish
    ident = io._ident(os.path.join(root, "_current"))
    assert len(cat.snapshots(ident)) == 2


def test_full_build_query_on_mock_iceberg(spark, mock_io, tiny_corpus, oracle_index):
    """The whole pipeline through the iceberg seam: build publishes
    docmeta/lexicon/postings as catalog tables + snapshots, the distributed
    engine reads them back through the same seam, and results stay
    rank-identical to the pure-Python oracle."""
    from deusu_spark.oracle import oracle
    from deusu_spark.query import SearchEngine

    io, cat = mock_io
    d = tempfile.mkdtemp(prefix="deusu_ice_")
    try:
        build_index(
            spark,
            spark.createDataFrame(tiny_corpus),
            d,
            fancy_threshold=300,
            seg_size=256,
            n_salts=4,
            io=io,
        )
        vdir = current_index_dir(d)
        for table in ("docmeta", "lexicon", "postings"):
            ident = io._ident(os.path.join(vdir, table))
            assert cat.exists(ident), table
            assert cat.snapshots(ident), table
        with open(os.path.join(vdir, "meta.json")) as f:
            assert json.load(f)["n_postings"] > 0
        eng = SearchEngine(spark, d, io=io)
        for q in ["linux", "linux ubuntu", "linux -google", "host:conv00000017"]:
            assert eng.search(q, k=10) == oracle.search(oracle_index, q, k=10), q
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_resume_on_mock_iceberg(spark, mock_io, monkeypatch):
    """Crash between the lexicon and segment steps → resume redoes only
    segments + publish; the segments' overwritePartitions replaces the
    buckets the interrupted attempt already committed (no duplicate rows
    survive) and the final index matches a fresh parquet build
    byte-for-byte."""
    io, cat = mock_io
    corpus = synth.gen_transcripts(50)
    dp = tempfile.mkdtemp(prefix="ice_ref_")
    di = tempfile.mkdtemp(prefix="ice_res_")
    kw = dict(fancy_threshold=100, seg_size=128, n_salts=2)
    try:
        build_index(spark, spark.createDataFrame(corpus), dp, **kw)

        with monkeypatch.context() as mp:
            _crash_at(mp, "segments_fused")
            with pytest.raises(RuntimeError):
                build_index(spark, spark.createDataFrame(corpus), di, io=io, **kw)
        assert not os.path.exists(os.path.join(di, "CURRENT"))
        m = build_index(spark, spark.createDataFrame(corpus), di, io=io, **kw)
        v = current_index_dir(di)
        assert m["version"] == os.path.basename(v)
        lineage = os.path.join(v, "_lineage.jsonl")
        with open(lineage) as f:
            steps = [json.loads(line)["step"] for line in f]
        assert steps.count("lexicon") == 1  # lexicon was NOT redone
        assert steps.count("segments_fused") == 1
        assert steps.count("publish") == 1

        def fp(df):
            rows = df.select(
                "bucket", "term", "kind", "first_doc", "n",
                F.md5(F.hex("blob")).alias("h"),
            ).collect()
            return sorted(tuple(r) for r in rows)

        ref = fp(spark.read.parquet(os.path.join(current_index_dir(dp), "postings")))
        got = fp(io.read(os.path.join(current_index_dir(di), "postings")))
        assert got == ref
    finally:
        shutil.rmtree(dp, ignore_errors=True)
        shutil.rmtree(di, ignore_errors=True)


def test_snapshot_pinned_read_is_isolated(spark, mock_io):
    """Time travel: a read pinned to snapshot N sees exactly that commit's
    state no matter what commits land afterwards — the catalog-side twin
    of the parquet backend's version-pinned deletion semantics."""
    io, cat = mock_io
    df = spark.range(50).withColumn("bucket", (F.col("id") % 4).cast("int"))
    io.write(df, "idx/tt")
    ident = "mock.deusu.idx_tt"
    s1 = cat.snapshots(ident)[-1]
    io.write(df.where("id < 10"), "idx/tt")  # replace commit (snapshot 2)
    s2 = cat.snapshots(ident)[-1]
    assert io.read("idx/tt").count() == 10  # unpinned = latest
    assert io.read("idx/tt", snapshot_id=s1).count() == 50  # pinned = past
    assert io.read("idx/tt", snapshot_id=s2).count() == 10
    with pytest.raises(ValueError):
        io.read("idx/tt", snapshot_id=999)


def test_snapshot_pinned_read_survives_partition_overwrite(spark, mock_io):
    """Dynamic partition overwrite replaces bucket 1's rows in the NEW
    snapshot; a read pinned before the overwrite still sees the old
    bucket 1 — snapshot isolation at the granularity the engine's
    per-bucket-group commits actually use."""
    io, cat = mock_io
    full = spark.range(100).withColumn(
        "bucket", (F.col("id") % 4).cast("int")
    )
    io.write(
        full, "idx/ttp", mode="overwrite_partitions", partition_by=["bucket"]
    )
    ident = "mock.deusu.idx_ttp"
    s1 = cat.snapshots(ident)[-1]
    b1 = full.where("bucket = 1 and id < 50")
    io.write(
        b1, "idx/ttp", mode="overwrite_partitions", partition_by=["bucket"]
    )
    latest = io.read("idx/ttp")
    pinned = io.read("idx/ttp", snapshot_id=s1)
    assert latest.where("bucket = 1").count() == b1.count()
    assert pinned.where("bucket = 1").count() == 25
    assert pinned.count() == 100


def test_positions_sidecar_through_mock_iceberg(spark, mock_io):
    """build_index(positions=True) through the iceberg seam: the positions
    table registers + snapshots in the catalog like postings/lexicon, the
    n_docs stamp lands in the version dir, and the distributed phrase path
    reads the sidecar back through the SAME seam (round-4 verdict: a
    snapshot pin must cover phrase/NEAR too)."""
    import pandas as pd

    from deusu_spark import positions as posmod
    from deusu_spark.query import SearchEngine

    io, cat = mock_io
    d = tempfile.mkdtemp(prefix="deusu_ice_pos_")
    texts = [
        ("conv0000", "alpha beta gamma"),
        ("conv0001", "beta alpha gamma"),
        ("conv0002", "alpha beta delta"),
        ("conv0003", "gamma beta alpha"),
    ]
    try:
        sdf = spark.createDataFrame(
            pd.DataFrame(
                [(c, 0, "user", t, "") for c, t in texts],
                columns=["conv_id", "turn_idx", "role", "text", "tool"],
            )
        )
        build_index(
            spark, sdf, d,
            fancy_threshold=10**9, seg_size=2, positions=True, io=io,
        )
        vdir = current_index_dir(d)
        ident = io._ident(os.path.join(vdir, "positions"))
        assert cat.exists(ident)
        assert cat.snapshots(ident)
        assert posmod.has_positions(vdir)
        with open(os.path.join(vdir, "positions", "_POSMETA.json")) as f:
            assert json.load(f)["n_docs"] == len(texts)
        eng = SearchEngine(spark, d, io=io)
        got = {d_ for d_, _ in eng.search_phrase("alpha beta", k=10)}
        url = {r["url"]: r["doc_id"] for r in
               eng.docmeta.select("doc_id", "url").collect()}
        assert got == {url["conv0000/0"], url["conv0002/0"]}
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_concurrent_appends_no_lost_updates(spark, mock_io):
    """Two writers racing appends on one table: commits serialize, BOTH
    land (no lost updates), snapshot ids stay strictly increasing — the
    optimistic-concurrency contract appends enjoy on real Iceberg
    (append commits never conflict on data). A duplicate CREATE race, by
    contrast, must abort the loser."""
    io, cat = mock_io
    base = spark.range(10).withColumn(
        "bucket", (F.col("id") % 2).cast("int")
    )
    io.write(base, "race/t")
    ident = "mock.deusu.race_t"
    # interleaved: both writers exist before either commits
    wa = spark.range(100, 110).withColumn(
        "bucket", (F.col("id") % 2).cast("int")
    ).writeTo(ident)
    wb = spark.range(200, 220).withColumn(
        "bucket", (F.col("id") % 2).cast("int")
    ).writeTo(ident)
    wb.append()
    wa.append()  # commits against B's newer base — must retry, not clobber
    back = io.read("race/t")
    assert back.count() == 40
    assert back.where("id >= 200").count() == 20
    assert back.where("id >= 100 and id < 200").count() == 10
    sids = cat.snapshots(ident)
    assert sids == sorted(set(sids)) and len(sids) == 3

    # create/create race: second creator aborts, first writer's data stays
    spark.range(5).writeTo("mock.deusu.race_c").create()
    with pytest.raises(ValueError):
        spark.range(7).writeTo("mock.deusu.race_c").create()
    assert cat.read("mock.deusu.race_c").count() == 5


def test_parquet_backend_rejects_snapshot_pin(spark, tmp_path):
    io = TableIO(spark, backend="parquet")
    d = str(tmp_path / "t")
    io.write(spark.range(5), d)
    with pytest.raises(ValueError):
        io.read(d, snapshot_id=1)
