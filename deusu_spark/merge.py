"""Merge independently built indexes into one global term-partitioned index.

The reference builds ONE index per machine and has no merge at all — growing
past a box means a full GenDb rebuild of everything (GenDb.dpr passes 1-5,
deusu.sh:3-9). At 10^12 turns a monolithic rebuild is the wrong shape: you
build per-corpus-shard indexes in parallel (each its own cluster / job /
time window) and MERGE them. This module is that operator — the
"merge partition-local segment indexes into a global term-partitioned
index" step, applied across whole published indexes.

Why merging is CHEAP here (and why the segment layout was designed so):

  - posting segments are self-contained varbyte blobs (codec.py: every
    segment encodes with prev_doc=0), so re-basing a segment onto a new
    doc_id range rewrites ONLY the first posting's gap varint
    (codec.rebase) — the body bytes move verbatim, nothing is re-encoded,
    re-sorted or re-shuffled;
  - doc_ids are dense per index, so shard k's docs map to
    [offset_k, offset_k + n_docs_k) by adding a constant — docmeta is a
    column add, tombstones likewise;
  - per-term df re-aggregates from segment METADATA (rows ∝ segments,
    not postings) exactly like incremental.py;
  - segment doc-ranges stay globally disjoint per (term, kind) because the
    shards' doc ranges are disjoint by construction — the invariant every
    query engine relies on holds with zero coordination.

The only part that touches posting CONTENT is fancy-list reconciliation
(GenDb pass 5, GenDb.dpr:975-1109, runs over the COMPLETE index): a term
whose merged df crosses the fancy threshold must have fancy segments
covering every shard's doc range, but a shard where that term was cold
never built them. Those (shard, term) holes are rebuilt by decoding the
term's full segments for just that shard's range, joining docmeta for the
rank window filter (0 < rank < 200000, GenDb.dpr:1063), and re-encoding
through the build's own segment encoder. Hot terms are few by definition
(< n_postings / threshold), so this stage is bounded and the merge stays
O(smaller-shard bytes) + O(hot-term postings) — never O(corpus tokens).

Identity contract (tests/test_merge.py): when shard corpora partition the
conversations in (conv_id, turn_idx) order (shard 0's conv_ids sort before
shard 1's, ...), merge(build(A), build(B)) is RANK-IDENTICAL to
build(A ∪ B) — same doc_ids, same integer scores, same fancy coverage,
same df/idf — on all three engines. For unordered shards the merged index
is still a correct index of the union; only the doc_id assignment (and
therefore tie-break order) differs from a from-scratch build.

Scale notes: shard 0 is hard-linked (zero copy); each other shard is one
linear mapInArrow rewrite (head-gap rebase) with no shuffle; lexicon and
stats jobs are metadata-sized; the fancy rebuild shuffles only hot-term
postings from shards where the term was cold. Merging k shards is one call
(offsets accumulate); at very large k, tree-merge pairs to bound any
single job's input. Every stage is journaled (Lineage) and every data
write goes through a per-stage staging dir + hard-link move, so a crashed
merge resumes without duplicating rows.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from . import codec
from .build import (
    SEGMENTS_SCHEMA,
    IndexVersion,
    Lineage,
    _link_tree,
    current_index_dir,
    decoded_postings,
    lexicon_from_segments,
    segment_stats,
    write_segments,
    write_tombstones,
)


def _shift_segments_fn(offset: int):
    """mapInArrow: shift a segments table onto doc ids += offset.

    Bodies are copied verbatim; only each blob's head varint group is
    re-encoded (codec.rebase with new_prev = -offset encodes gap+offset).
    Cost is O(segments) tiny numpy calls — segment count is postings /
    seg_size, and the work is embarrassingly parallel across tasks.
    """

    def shift(iterator):
        import pyarrow as pa

        for batch in iterator:
            tbl = pa.Table.from_batches([batch])
            first = tbl.column("first_doc").to_numpy() + offset
            last = tbl.column("last_doc").to_numpy() + offset
            blobs = tbl.column("blob").to_pylist()
            shifted = [
                codec.rebase(b, 0, -offset) if b else b for b in blobs
            ]
            yield pa.RecordBatch.from_arrays(
                [
                    tbl.column("bucket").combine_chunks(),
                    tbl.column("term").combine_chunks(),
                    tbl.column("kind").combine_chunks(),
                    pa.array(first),
                    pa.array(last),
                    tbl.column("n").combine_chunks(),
                    tbl.column("max_static").combine_chunks(),
                    pa.array(shifted, type=pa.binary()),
                ],
                names=[f.name for f in SEGMENTS_SCHEMA.fields],
            )

    return shift


def _stage_then_link(
    lin: Lineage,
    step: str,
    stage_dir: str,
    targets: list[tuple[str, str]],
    write_fn,
) -> None:
    """Idempotent two-phase data write: write_fn fills ``stage_dir``
    (mode=overwrite inside, so a crashed write re-runs cleanly), the
    ``<step>_staged`` lineage row freezes the staged file set, then the
    files hard-link into their published targets (link skips existing
    names → re-runs never duplicate), and ``<step>`` completes the stage.
    ``targets`` maps stage subdirs to final dirs."""
    staged = f"{step}_staged"
    if staged not in lin.done:
        t0 = time.time()
        write_fn()
        lin.record(staged, wall_s=round(time.time() - t0, 3))
    for sub, dst in targets:
        src = os.path.join(stage_dir, sub)
        if os.path.isdir(src):
            _link_tree(src, dst)
    lin.record(step)
    shutil.rmtree(stage_dir, ignore_errors=True)


def merge_indexes(
    spark: SparkSession,
    index_dirs: list[str],
    out_dir: str,
    *,
    versions: list[str | None] | None = None,
) -> dict:
    """Merge k published indexes (CURRENT version of each, or pinned via
    ``versions``) into a new index at ``out_dir``. Shard i's docs occupy
    [Σ n_docs_<i, Σ n_docs_≤i); all shards must share seg_size and
    fancy_threshold (they define index semantics)."""
    from .tableio import TableIO

    if len(index_dirs) < 2:
        raise ValueError("need at least two indexes to merge")
    versions = versions or [None] * len(index_dirs)
    vdirs = [current_index_dir(d, v) for d, v in zip(index_dirs, versions)]
    metas = []
    for vd in vdirs:
        with open(os.path.join(vd, "meta.json")) as f:
            metas.append(json.load(f))
    seg_size = metas[0]["seg_size"]
    fancy_threshold = metas[0]["fancy_threshold"]
    for m in metas[1:]:
        if m["seg_size"] != seg_size or m["fancy_threshold"] != fancy_threshold:
            raise ValueError(
                "shards disagree on seg_size/fancy_threshold — rebuild or "
                "re-merge with matching index parameters"
            )
    offsets = [0]
    for m in metas[:-1]:
        offsets.append(offsets[-1] + int(m["n_docs"]))
    n_docs = offsets[-1] + int(metas[-1]["n_docs"])
    max_bl = max(int(m["max_backlinks"]) for m in metas)
    n_salts = max(int(m.get("n_salts", 8)) for m in metas)

    pv = IndexVersion(out_dir)
    lin, vdir = pv.lin, pv.vdir
    io = TableIO(spark)
    t_start = time.time()

    postings_dir = pv.path("postings")
    docmeta_dir = pv.path("docmeta")
    lexicon_dir = pv.path("lexicon")

    # ---- shard 0: zero-copy links; shards 1..k: doc_id-shift rewrite -----
    for i, (vd, off) in enumerate(zip(vdirs, offsets)):
        step = f"shard_{i}"
        if step in lin.done:
            continue
        if off == 0:
            pv.carry("postings", "docmeta", src=vd)
            lin.record(step, offset=0)
            continue
        stage = os.path.join(vdir, f"_stage_shard_{i}")

        def write_shard(vd=vd, off=off, stage=stage):
            segs = spark.read.parquet(os.path.join(vd, "postings"))
            (
                segs.mapInArrow(_shift_segments_fn(off), schema=SEGMENTS_SCHEMA)
                .sortWithinPartitions("bucket", "term", "first_doc")
                .write.mode("overwrite")
                .partitionBy("bucket")
                .parquet(os.path.join(stage, "postings"))
            )
            dm = spark.read.parquet(os.path.join(vd, "docmeta"))
            dm.withColumn(
                "doc_id", (F.col("doc_id") + F.lit(off)).cast("long")
            ).sortWithinPartitions("doc_id").write.mode("overwrite").parquet(
                os.path.join(stage, "docmeta")
            )

        _stage_then_link(
            lin,
            step,
            stage,
            [("postings", postings_dir), ("docmeta", docmeta_dir)],
            write_shard,
        )

    # ---- tombstones: shard-shifted union (takedowns survive the merge) ---
    if "tombstones" not in lin.done:
        t0 = time.time()
        n_tomb = write_tombstones(spark, vdir, zip(vdirs, offsets))
        lin.record("tombstones", n=n_tomb, wall_s=round(time.time() - t0, 3))

    # ---- lexicon: re-aggregate df from merged segment metadata -----------
    if "lexicon" not in lin.done:
        t0 = time.time()
        lexicon_from_segments(spark, postings_dir, lexicon_dir)
        lin.record("lexicon", wall_s=round(time.time() - t0, 3))

    # ---- fancy reconciliation (GenDb pass 5 over the merged corpus) ------
    # A term hot in the MERGED lexicon needs fancy coverage of every
    # shard's doc range. Shards where it was already hot contributed their
    # fancy segments above (the per-posting rank-window filter distributes
    # over disjoint doc ranges, so their union IS the merged fancy list
    # for those ranges); shards where it was cold are the holes rebuilt
    # here.
    if "fancy_stats" not in lin.done:
        t0 = time.time()
        lex = spark.read.parquet(lexicon_dir)
        hot = lex.where(F.col("df") > fancy_threshold).select("term")
        need = None
        for i, vd in enumerate(vdirs):
            shard_lex = spark.read.parquet(os.path.join(vd, "lexicon"))
            shard_hot = shard_lex.where(
                F.col("df") > fancy_threshold
            ).select("term")
            shard_present = shard_lex.select("term")
            miss = (
                hot.join(shard_hot, "term", "left_anti")
                .join(shard_present, "term", "left_semi")
                .withColumn("shard", F.lit(i))
            )
            need = miss if need is None else need.unionByName(miss)
        need = need.persist()
        n_missing = need.count()
        # "fancy" (the data write) and "fancy_stats" (stage complete) are
        # separate rows so a crash between them resumes into the stats
        # record without re-running the rebuild
        if "fancy" in lin.done:
            pass
        elif n_missing:
            bounds = spark.createDataFrame(
                [
                    (i, offsets[i], offsets[i] + int(metas[i]["n_docs"]))
                    for i in range(len(vdirs))
                ],
                ["shard", "lo", "hi"],
            )
            holes = need.join(bounds, "shard").select(
                "term", "shard", "lo", "hi"
            )
            hot_set = frozenset(
                r["term"] for r in need.select("term").distinct().collect()
            )
            stage = os.path.join(vdir, "_stage_fancy")

            def write_fancy(stage=stage):
                segs = spark.read.parquet(postings_dir).where(
                    F.col("kind") == "full"
                )
                # run_salt = shard: two holes of one term in one task must
                # NOT fuse into a segment spanning the covered shard range
                # between them (per-(term, kind) range disjointness)
                to_decode = segs.join(
                    F.broadcast(holes),
                    (segs["term"] == holes["term"])
                    & (segs["first_doc"] >= holes["lo"])
                    & (segs["first_doc"] < holes["hi"]),
                ).select(
                    segs["term"],
                    F.col("shard").cast("long").alias("run_salt"),
                    "blob",
                )
                write_segments(
                    decoded_postings(
                        to_decode, spark.read.parquet(docmeta_dir), max_bl
                    ),
                    os.path.join(stage, "postings"),
                    seg_size=seg_size,
                    n_salts=n_salts,
                    n_docs=n_docs,
                    hot_terms=hot_set,
                    emit_full=False,
                )

            _stage_then_link(
                lin,
                "fancy",
                stage,
                [("postings", postings_dir)],
                write_fancy,
            )
        else:
            lin.record("fancy", holes=0)
        need.unpersist()
        lin.record(
            "fancy_stats",
            holes=int(n_missing),
            wall_s=round(time.time() - t0, 3),
        )

    # ---- publish ----------------------------------------------------------
    if "publish" not in lin.done:
        seg_stats = segment_stats(spark.read.parquet(postings_dir))
        meta = dict(metas[0])
        meta.pop("n_tombstones", None)
        meta.update(
            {
                "n_docs": int(n_docs),
                "max_backlinks": int(max_bl),
                "n_postings": int(sum(int(m["n_postings"]) for m in metas)),
                "compressed_bytes": seg_stats["bytes"],
                "n_segments": seg_stats["segments"],
                "n_salts": n_salts,
                "merged_from": [
                    {"dir": d, "n_docs": int(m["n_docs"]), "offset": o}
                    for d, m, o in zip(index_dirs, metas, offsets)
                ],
            }
        )
        n_tomb = int(lin.done["tombstones"].get("n", 0))
        if n_tomb:
            meta["n_tombstones"] = n_tomb
        pv.seal(meta, io)
        pv.publish(io, kind="merge", wall_s=round(time.time() - t_start, 3))
    return {
        "version": pv.name,
        "n_docs": int(n_docs),
        "n_postings": int(sum(int(m["n_postings"]) for m in metas)),
        "wall_s": round(time.time() - t_start, 3),
    }
