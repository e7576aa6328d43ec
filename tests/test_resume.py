"""Resume + determinism invariants (FIXTURES.md invariant #4):
  - same seed ⇒ byte-identical index blobs across independent builds
  - resuming an interrupted build yields exactly the fresh-build output
"""

import json
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from deusu_spark import synth
from deusu_spark.build import Lineage, build_index, current_index_dir


def _build(spark, dest, corpus, **kw):
    sdf = spark.createDataFrame(corpus)
    return build_index(
        spark, sdf, dest, fancy_threshold=100, seg_size=128, n_salts=2,
        **kw,
    )


def _index_fingerprint(spark, root):
    v = current_index_dir(root)
    segs = (
        spark.read.parquet(f"{v}/postings")
        .select("bucket", "term", "kind", "first_doc", "n", F.md5(F.hex("blob")).alias("h"))
        .orderBy("bucket", "term", "kind", "first_doc")
        .collect()
    )
    lex = (
        spark.read.parquet(f"{v}/lexicon")
        .orderBy("bucket", "term")
        .collect()
    )
    return [tuple(r) for r in segs], [tuple(r) for r in lex]


@pytest.fixture(scope="module")
def small_corpus():
    return synth.gen_transcripts(50)


def test_rebuild_is_byte_identical(spark, small_corpus):
    d1, d2 = tempfile.mkdtemp(prefix="det1_"), tempfile.mkdtemp(prefix="det2_")
    try:
        _build(spark, d1, small_corpus)
        _build(spark, d2, small_corpus)
        assert _index_fingerprint(spark, d1) == _index_fingerprint(spark, d2)
    finally:
        shutil.rmtree(d1, ignore_errors=True)
        shutil.rmtree(d2, ignore_errors=True)


def _crash_at(monkeypatch, step):
    """Make the build raise where it would journal ``step`` — after that
    step's data write, before its lineage row (a crash mid-build)."""
    record = Lineage.record

    def crash(self, name, **kw):
        if name == step:
            raise RuntimeError(f"crash before journaling {step}")
        return record(self, name, **kw)

    monkeypatch.setattr(Lineage, "record", crash)


def test_fused_resume_after_interrupt_equals_fresh(spark, small_corpus, monkeypatch):
    """Crash a fused build between the lexicon and segment steps: the resume
    must keep the fused layout, redo only segments+publish, and reproduce
    the fresh build exactly."""
    d1, d2 = tempfile.mkdtemp(prefix="fres1_"), tempfile.mkdtemp(prefix="fres2_")
    try:
        _build(spark, d1, small_corpus)
        with monkeypatch.context() as mp:
            _crash_at(mp, "segments_fused")
            with pytest.raises(RuntimeError):
                _build(spark, d2, small_corpus)
        assert not os.path.exists(os.path.join(d2, "CURRENT"))

        m = _build(spark, d2, small_corpus)
        v = current_index_dir(d2)
        assert m["version"] == os.path.basename(v)
        with open(os.path.join(v, "_lineage.jsonl")) as f:
            steps = [json.loads(line)["step"] for line in f]
        assert steps.count("lexicon") == 1  # lexicon was NOT redone
        assert steps.count("segments_fused") == 1
        assert not os.path.exists(os.path.join(v, "stage_docs"))
        assert _index_fingerprint(spark, d1) == _index_fingerprint(spark, d2)
    finally:
        shutil.rmtree(d1, ignore_errors=True)
        shutil.rmtree(d2, ignore_errors=True)
