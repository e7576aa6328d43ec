"""Incremental index maintenance: append a batch of NEW conversations to a
published index as a new atomically-swapped version — the Spark rebuild of
the reference's crawl-increment → re-index → dual-path swap loop
(deusu.sh:3-9 + GenDb + ready2.dat, searchservernew.dpr:1636-1695), except
only the delta is processed.

Design:
  - new docs get doc_ids starting at old n_docs (append order): identical to
    a full rebuild whenever new conv_ids sort after existing ones (the
    normal case for time-ordered conversation ids)
  - delta posting segments are self-contained and doc-range-disjoint from
    old ones (delta doc_ids > all old doc_ids), so old segment files are
    reused verbatim (hard links) and only delta files are written
  - lexicon is recomputed from segment METADATA (rows ∝ segments) — cheap
  - meta.max_backlinks = max(old, delta): the backlink value curve is
    computed query-side from meta, so a growing max applies to all docs,
    exactly like a full rebuild; stored block-max bounds stay valid upper
    bounds because blv is non-increasing in max_backlinks
  - publish = CURRENT pointer swap; readers never see a partial index

Structured Streaming hook: stream_transcripts() runs this per micro-batch
via foreachBatch.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import build as buildmod
from .build import Lineage, _pending_version, current_index_dir


def _link_tree(src: str, dst: str) -> None:
    """Hard-link every file of src into dst (same directory layout) —
    zero-copy reuse of immutable parquet files across index versions."""
    for root, _dirs, files in os.walk(src):
        rel = os.path.relpath(root, src)
        troot = os.path.join(dst, rel) if rel != "." else dst
        os.makedirs(troot, exist_ok=True)
        for f in files:
            s, t = os.path.join(root, f), os.path.join(troot, f)
            if not os.path.exists(t):
                os.link(s, t)


def incremental_update(
    spark: SparkSession,
    out_dir: str,
    new_transcripts: DataFrame,
    **build_kwargs,
) -> dict:
    """Append new conversations to the CURRENT index; returns delta metrics.

    ``io`` in build_kwargs (a tableio.TableIO) is threaded through to the
    delta build AND the positions sidecar append, so an Iceberg-backed
    index keeps its maintained sidecar inside the catalog seam."""
    io = build_kwargs.get("io")
    old_vdir = current_index_dir(out_dir)
    with open(os.path.join(old_vdir, "meta.json")) as f:
        old_meta = json.load(f)

    # build the delta into a scratch index with doc_ids offset by old n_docs
    version = _pending_version(out_dir)
    vdir = os.path.join(out_dir, version)
    delta_dir = os.path.join(vdir, "_delta")
    os.makedirs(delta_dir, exist_ok=True)
    t_start = time.time()
    metrics = buildmod.build_index(
        spark,
        new_transcripts,
        delta_dir,
        doc_id_offset=old_meta["n_docs"],
        fancy_threshold=build_kwargs.pop(
            "fancy_threshold", old_meta["fancy_threshold"]
        ),
        seg_size=build_kwargs.pop("seg_size", old_meta["seg_size"]),
        **build_kwargs,
    )
    delta_vdir = current_index_dir(delta_dir)

    # merge: link old + delta files side by side
    for sub in ("postings", "docmeta"):
        _link_tree(os.path.join(old_vdir, sub), os.path.join(vdir, sub))
        _link_tree(os.path.join(delta_vdir, sub), os.path.join(vdir, sub))
    # logical deletions survive appends: carry the tombstone set forward
    # (a full rebuild from a corpus without the deleted conversations is
    # what finally clears them, like the reference's periodic GenDb run)
    if os.path.isdir(os.path.join(old_vdir, "tombstones")):
        _link_tree(
            os.path.join(old_vdir, "tombstones"),
            os.path.join(vdir, "tombstones"),
        )

    # recompute lexicon from merged segment metadata (no posting decode)
    buildmod.lexicon_from_segments(
        spark, os.path.join(vdir, "postings"), os.path.join(vdir, "lexicon")
    )

    with open(os.path.join(delta_vdir, "meta.json")) as f:
        delta_meta = json.load(f)
    meta = dict(old_meta)
    meta["n_docs"] = old_meta["n_docs"] + delta_meta["n_docs"]
    meta["max_backlinks"] = max(
        old_meta["max_backlinks"], delta_meta["max_backlinks"]
    )
    meta["n_postings"] = old_meta["n_postings"] + delta_meta["n_postings"]
    meta["compressed_bytes"] = (
        old_meta["compressed_bytes"] + delta_meta["compressed_bytes"]
    )
    with open(os.path.join(vdir, "meta.json"), "w") as f:
        json.dump(meta, f, indent=1)

    # positions sidecar: EXTEND it with the delta batch's segments (delta
    # doc ids sort after all old ids, so per-term segment doc-range
    # disjointness holds). Without this step the linked sidecar would be
    # stale for the appended docs — has_positions' n_docs stamp would then
    # read it as absent, so phrase/NEAR can never silently miss new docs.
    from . import positions as posmod

    if posmod.has_positions(old_vdir):
        _link_tree(
            os.path.join(old_vdir, "positions"),
            os.path.join(vdir, "positions"),
        )
        with open(
            os.path.join(old_vdir, "positions", "_POSMETA.json")
        ) as f:
            old_pm = json.load(f)
        posmod.build_positions(
            spark,
            new_transcripts,
            out_dir,
            version=version,
            seg_size=int(old_pm.get("seg_size", old_meta["seg_size"])),
            n_salts=int(old_pm.get("n_salts", 8)),
            io=io,
            append=True,
        )

    lin = Lineage(os.path.join(vdir, "_lineage.jsonl"))
    lin.record(
        "publish",
        delta_docs=delta_meta["n_docs"],
        delta_postings=delta_meta["n_postings"],
        wall_s=round(time.time() - t_start, 3),
        base_version=os.path.basename(old_vdir),
    )
    # atomic generation publish through the storage seam (the hard-link
    # merge above is filesystem-specific by design; on an Iceberg deployment
    # the delta would instead append via overwritePartitions)
    from .tableio import TableIO

    TableIO(spark).publish(out_dir, version)
    metrics["version"] = version
    return metrics


def delete_conversations(
    spark: SparkSession, out_dir: str, conv_ids: list[str]
) -> dict:
    """Logical deletion (takedown) of whole conversations: publish a new
    index version whose data files are hard links of the CURRENT ones plus
    a tombstone table of the deleted doc_ids — no rebuild, no posting
    rewrite, atomic pointer swap.

    Both query engines mask tombstoned docs at postings-decode time, so
    deleted docs can never appear in any result, count, or pruning decision.
    Corpus statistics (df/idf, fancy lists, n_docs) intentionally stay as
    built: surviving docs keep their exact pre-deletion scores, and the
    stats refresh at the next full rebuild — the reference's model, where
    deletions only ever take effect via the periodic GenDb rebuild + swap
    (deusu.sh:3-9). Tombstone cardinality is takedown volume, orders below
    n_docs, so the per-searcher sorted array / Spark broadcast is cheap.
    """
    old_vdir = current_index_dir(out_dir)
    with open(os.path.join(old_vdir, "meta.json")) as f:
        meta = json.load(f)
    version = _pending_version(out_dir)
    vdir = os.path.join(out_dir, version)
    os.makedirs(vdir, exist_ok=True)
    t_start = time.time()
    for sub in ("postings", "docmeta", "lexicon"):
        _link_tree(os.path.join(old_vdir, sub), os.path.join(vdir, sub))
    for f_ in ("info.txt",):
        src = os.path.join(old_vdir, f_)
        if os.path.exists(src):
            os.link(src, os.path.join(vdir, f_))
    # positions sidecar stays VALID across a takedown (doc ids and n_docs
    # unchanged; candidates are tombstone-masked before any verify), so
    # link it — phrase/NEAR keep working on the tombstoned version
    from . import positions as posmod

    if posmod.has_positions(old_vdir):
        _link_tree(
            os.path.join(old_vdir, "positions"),
            os.path.join(vdir, "positions"),
        )

    # resolve conversations -> doc_ids via docmeta (host == conversation)
    new_tomb = (
        spark.read.parquet(os.path.join(old_vdir, "docmeta"))
        .where(F.col("host").isin(list(conv_ids)))
        .select("doc_id")
    )
    old_tomb_dir = os.path.join(old_vdir, "tombstones")
    if os.path.isdir(old_tomb_dir):
        new_tomb = new_tomb.unionByName(
            spark.read.parquet(old_tomb_dir).select("doc_id")
        )
    new_tomb = new_tomb.distinct()
    new_tomb.write.mode("overwrite").parquet(
        os.path.join(vdir, "tombstones")
    )
    n_tomb = int(
        spark.read.parquet(os.path.join(vdir, "tombstones")).count()
    )

    meta["n_tombstones"] = n_tomb
    with open(os.path.join(vdir, "meta.json"), "w") as f:
        json.dump(meta, f, indent=1)
    lin = Lineage(os.path.join(vdir, "_lineage.jsonl"))
    lin.record(
        "tombstone",
        conv_ids=len(list(conv_ids)),
        n_tombstones=n_tomb,
        wall_s=round(time.time() - t_start, 3),
        base_version=os.path.basename(old_vdir),
    )
    # mark the version PUBLISHED in its lineage: _pending_version treats a
    # version without this step as a resumable unpublished leftover and
    # would reuse (clobber) the dir on the next build/append — which
    # silently destroyed pinned tombstone snapshots once a newer version
    # took the CURRENT pointer
    lin.record("publish", kind="tombstone")
    from .tableio import TableIO

    TableIO(spark).publish(out_dir, version)
    return {"version": version, "n_tombstones": n_tomb}


def compact_index(spark: SparkSession, out_dir: str, io=None) -> dict:
    """Rewrite the CURRENT index generation into a fresh optimal physical
    layout WITHOUT re-tokenizing the corpus — the maintenance op between
    incremental appends and the reference's periodic full GenDb rebuild
    (deusu.sh:3-9).

    Appends fragment the physical index: each delta publishes its own
    per-(term, kind) segment runs and parquet files, and a delta's fancy
    lists only cover delta postings — a term that crossed fancy_threshold
    only GLOBALLY has no (or partial) accelerator coverage until the next
    full rebuild (the staleness stream_transcripts documents). Compaction
    closes both without touching the corpus:

      - decode the published 'full' segments back into posting rows,
        rejoin docmeta for the static score + rank window
        (``build.decoded_postings``)
      - re-encode through the build's own segment write path
        (``build.write_segments``) in one pass, emitting full + fancy
        segments with the hot set taken from the GLOBAL lexicon df —
        exactly what a from-scratch build would emit
      - recompute lexicon + compressed-bytes stats; hard-link docmeta,
        tombstones and info.txt (df is unchanged by construction); publish
        as a new version via the atomic CURRENT swap

    Logical content is untouched: same doc_ids, same df/idf, same integer
    scores, same tombstone masking — rank identity to the pre-compaction
    index AND byte identity to a from-scratch build of the union corpus is
    the test contract (tests/test_compaction.py).

    100 TB shape: decode and encode are linear Arrow passes with no
    per-posting Python; the shuffles are the docmeta join and the build's
    own (bucket, term-group, salt) grouping, minus tokenization (the
    dominant cost). Hot terms stay doc-range-salted across tasks like the
    build, so a 10^9-posting term never serializes through one task."""
    from .tableio import TableIO

    old_vdir = current_index_dir(out_dir)
    with open(os.path.join(old_vdir, "meta.json")) as f:
        meta = json.load(f)

    version = _pending_version(out_dir)
    vdir = os.path.join(out_dir, version)
    os.makedirs(vdir, exist_ok=True)
    t_start = time.time()
    lin = Lineage(os.path.join(vdir, "_lineage.jsonl"))

    old_postings = os.path.join(old_vdir, "postings")
    old_stats = buildmod.segment_stats(spark.read.parquet(old_postings))

    # hot set from the GLOBAL lexicon — the df a from-scratch build of the
    # whole corpus would see (same > comparison as build_index)
    hot_terms = frozenset(
        r["term"]
        for r in spark.read.parquet(os.path.join(old_vdir, "lexicon"))
        .where(F.col("df") > int(meta["fancy_threshold"]))
        .select("term")
        .collect()
    )
    rows = buildmod.decoded_postings(
        spark.read.parquet(old_postings).where(F.col("kind") == "full"),
        spark.read.parquet(os.path.join(old_vdir, "docmeta")),
        int(meta["max_backlinks"]),
    )
    eff_salts = buildmod.write_segments(
        rows,
        os.path.join(vdir, "postings"),
        seg_size=int(meta["seg_size"]),
        n_salts=int(meta.get("n_salts", 8)),
        n_docs=int(meta["n_docs"]),
        n_rows=int(meta["n_postings"]),
        hot_terms=hot_terms,
    )
    # lexicon: re-aggregate df from the new segment metadata (must equal
    # the old lexicon — compaction moves bytes, not postings)
    buildmod.lexicon_from_segments(
        spark, os.path.join(vdir, "postings"), os.path.join(vdir, "lexicon")
    )

    _link_tree(os.path.join(old_vdir, "docmeta"), os.path.join(vdir, "docmeta"))
    if os.path.isdir(os.path.join(old_vdir, "tombstones")):
        _link_tree(
            os.path.join(old_vdir, "tombstones"),
            os.path.join(vdir, "tombstones"),
        )
    if os.path.exists(os.path.join(old_vdir, "info.txt")):
        os.link(
            os.path.join(old_vdir, "info.txt"), os.path.join(vdir, "info.txt")
        )
    new_stats = buildmod.segment_stats(
        spark.read.parquet(os.path.join(vdir, "postings"))
    )
    meta = dict(meta)
    meta["compressed_bytes"] = new_stats["bytes"]
    meta["n_segments"] = new_stats["segments"]
    meta["n_salts"] = int(eff_salts)
    meta["compacted_from"] = os.path.basename(old_vdir)
    with open(os.path.join(vdir, "meta.json"), "w") as f:
        json.dump(meta, f, indent=1)

    # positions sidecar: doc ids/n_docs are untouched by compaction (a
    # linked-verbatim sidecar would stay valid), but appends fragment it
    # like the postings — re-segment it through the same decode→re-encode
    # pass (no re-tokenization; phrase/NEAR answers identical, tested)
    from . import positions as posmod

    pos_segments = None
    if posmod.has_positions(old_vdir):
        pos_segments = posmod.compact_positions(
            spark, old_vdir, vdir, io=io
        )["n_segments"]

    metrics = {
        "version": version,
        "segments_before": old_stats["segments"],
        "segments_after": new_stats["segments"],
        "bytes_before": old_stats["bytes"],
        "bytes_after": new_stats["bytes"],
        "n_hot_terms": len(hot_terms),
        "positions_segments": pos_segments,
        "wall_s": round(time.time() - t_start, 3),
    }
    lin.record("compact", **metrics)
    lin.record("publish", kind="compact")
    TableIO(spark).publish(out_dir, version)
    return metrics


def stream_transcripts(
    stream_df: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    compact_every: int | None = None,
    **build_kwargs,
):
    """Structured Streaming sink: per micro-batch incremental index update
    (readStream → foreachBatch(incremental_update) → atomic snapshot swap).

    ``compact_every=k`` runs compact_index() after every k appended
    batches: the delta's fancy lists only cover delta postings, and
    per-delta segment runs fragment the layout — compaction re-optimizes
    both WITHOUT re-reading the corpus (a full rebuild, the reference's
    periodic GenDb run, is then only needed to physically clear tombstones
    and refresh corpus stats). The batch counter is driver-memory
    best-effort (a restarted query starts counting afresh) — compaction is
    idempotent layout maintenance, so cadence drift is harmless."""

    state = {"appends": 0}

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if not os.path.exists(os.path.join(out_dir, "CURRENT")):
            # bootstrap: the first non-empty batch full-builds the base
            # index the appends extend
            buildmod.build_index(
                batch_df.sparkSession, batch_df, out_dir, **build_kwargs
            )
        else:
            incremental_update(
                batch_df.sparkSession, out_dir, batch_df, **build_kwargs
            )
        state["appends"] += 1
        if compact_every and state["appends"] % compact_every == 0:
            compact_index(batch_df.sparkSession, out_dir)

    return (
        stream_df.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )
