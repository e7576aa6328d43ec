"""stream_transcripts end-to-end: a file-source stream of append-ordered
conversation batches must leave the SAME index a full batch build produces,
and compact_every must fold compaction into the maintenance loop."""

import os
import shutil
import tempfile
import time

import pytest

from deusu_spark import synth
from deusu_spark.build import build_index, current_index_dir
from deusu_spark.incremental import stream_transcripts
from deusu_spark.query_local import LocalSearcher

KW = dict(fancy_threshold=100, seg_size=128, n_salts=2)

SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)


def test_stream_transcripts_with_compaction(spark):
    full = synth.gen_transcripts(45)
    convs = sorted(full["conv_id"].unique())
    src = tempfile.mkdtemp(prefix="ssrc_")
    d_stream = tempfile.mkdtemp(prefix="sidx_")
    d_full = tempfile.mkdtemp(prefix="sfull_")
    ckpt = tempfile.mkdtemp(prefix="sckpt_")
    try:
        # three append-ordered batch files; spaced mtimes so the file
        # source processes them oldest-first (its ordering key)
        for i, lo_hi in enumerate([(0, 15), (15, 30), (30, 45)]):
            part = full[full["conv_id"].isin(set(convs[lo_hi[0] : lo_hi[1]]))]
            p = os.path.join(src, f"batch_{i}.parquet")
            synth.write_parquet(part, p)
            past = time.time() - (10 - i) * 100
            os.utime(p, (past, past))

        stream = (
            spark.readStream.schema(SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = stream_transcripts(
            stream, d_stream, ckpt, compact_every=3, **KW
        ).start()
        q.awaitTermination(600)

        build_index(spark, spark.createDataFrame(full), d_full, **KW)
        ls_s, ls_f = LocalSearcher(d_stream), LocalSearcher(d_full)
        assert ls_s.n_docs == ls_f.n_docs
        for query in ("linux", "linux -google", "w0007 -w0002", "user"):
            assert ls_s.search(query, k=30) == ls_f.search(query, k=30), query

        # the third append triggered compaction: CURRENT is a compacted
        # version and its segment layout matches the from-scratch build
        import json

        vdir = current_index_dir(d_stream)
        with open(os.path.join(vdir, "meta.json")) as f:
            meta = json.load(f)
        assert "compacted_from" in meta
        segs = spark.read.parquet(os.path.join(vdir, "postings")).count()
        segs_full = spark.read.parquet(
            os.path.join(current_index_dir(d_full), "postings")
        ).count()
        assert segs == segs_full
    finally:
        for d in (src, d_stream, d_full, ckpt):
            shutil.rmtree(d, ignore_errors=True)
