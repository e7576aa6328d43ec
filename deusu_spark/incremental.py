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
  - lexicon is recomputed from segment METADATA (rows ∝ segments) — cheap;
    its statistics and info.txt are derived from it, while bytes,
    segments and postings are base + delta (exact: the version's postings
    are exactly the base's files plus the delta's)
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
from .build import IndexVersion
from .tableio import TableIO


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
    pv = IndexVersion(out_dir, base=True)
    base = pv.base_meta
    t_start = time.time()
    # build the delta into a scratch index with doc_ids offset by base n_docs
    for key in ("fancy_threshold", "seg_size", "info_df_threshold"):
        if key in base:
            build_kwargs.setdefault(key, base[key])
    metrics = buildmod.build_index(
        spark,
        new_transcripts,
        pv.path("_delta"),
        doc_id_offset=base["n_docs"],
        **build_kwargs,
    )
    delta_vdir = buildmod.current_index_dir(pv.path("_delta"))
    with open(os.path.join(delta_vdir, "meta.json")) as f:
        delta = json.load(f)

    # base + delta files side by side; logical deletions survive appends (a
    # full rebuild from a corpus without the deleted conversations is what
    # finally clears them, like the reference's periodic GenDb run)
    pv.carry("postings", "docmeta", "tombstones")
    pv.carry("postings", "docmeta", src=delta_vdir)
    # the lexicon from merged segment metadata (no posting decode)
    buildmod.lexicon_from_segments(spark, pv.path("postings"), pv.path("lexicon"))

    meta = dict(base)
    for key in ("n_docs", "n_postings", "compressed_bytes", "n_segments"):
        meta[key] = base[key] + delta[key]
    meta["max_backlinks"] = max(base["max_backlinks"], delta["max_backlinks"])
    meta["info_df_threshold"] = delta["info_df_threshold"]
    parquet_io = TableIO(spark)
    pv.seal(meta, parquet_io)
    # positions sidecar: EXTEND it with the delta batch's segments. Without
    # this step the linked sidecar would be stale for the appended docs —
    # has_positions' n_docs stamp would then read it as absent, so
    # phrase/NEAR can never silently miss new docs.
    pv.carry_positions(spark, io, delta=new_transcripts)
    # atomic generation publish (the hard-link merge above is
    # filesystem-specific by design; on an Iceberg deployment the delta
    # would instead append via overwritePartitions)
    pv.publish(
        parquet_io,
        scratch=("_delta",),
        delta_docs=delta["n_docs"],
        delta_postings=delta["n_postings"],
        wall_s=round(time.time() - t_start, 3),
        base_version=os.path.basename(pv.base_vdir),
    )
    # the delta's own journal went with the scratch
    metrics.update(version=pv.name, lineage=pv.lin.path)
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
    Corpus statistics (df/idf, fancy lists, n_docs, info.txt) intentionally
    stay as built: surviving docs keep their exact pre-deletion scores, and
    the stats refresh at the next full rebuild — the reference's model,
    where deletions only ever take effect via the periodic GenDb rebuild +
    swap (deusu.sh:3-9). Tombstone cardinality is takedown volume, orders
    below n_docs, so the per-searcher sorted array / Spark broadcast is
    cheap. The positions sidecar stays valid (doc ids and n_docs unchanged;
    candidates are tombstone-masked before any verify) and is linked too.
    """
    pv = IndexVersion(out_dir, base=True)
    t_start = time.time()
    pv.carry("postings", "docmeta", "lexicon", "positions", "info.txt")
    # resolve conversations -> doc_ids via docmeta (host == conversation)
    new = (
        spark.read.parquet(os.path.join(pv.base_vdir, "docmeta"))
        .where(F.col("host").isin(list(conv_ids)))
        .select("doc_id")
    )
    n_tomb = buildmod.write_tombstones(spark, pv.vdir, [(pv.base_vdir, 0)], new)
    pv.lin.record(
        "tombstone",
        conv_ids=len(list(conv_ids)),
        n_tombstones=n_tomb,
        wall_s=round(time.time() - t_start, 3),
        base_version=os.path.basename(pv.base_vdir),
    )
    io = TableIO(spark)
    pv.seal({**pv.base_meta, "n_tombstones": n_tomb}, io, lexicon=False)
    pv.publish(io, kind="tombstone")
    return {"version": pv.name, "n_tombstones": n_tomb}


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
      - recompute lexicon, its statistics and info.txt, and the
        compressed-bytes stats; hard-link docmeta and tombstones;
        re-segment the positions sidecar; publish as a new version via
        the atomic CURRENT swap

    Logical content is untouched: same doc_ids, same df/idf, same integer
    scores, same tombstone masking — rank identity to the pre-compaction
    index AND byte identity to a from-scratch build of the union corpus is
    the test contract (tests/test_compaction.py).

    100 TB shape: decode and encode are linear Arrow passes with no
    per-posting Python; the shuffles are the docmeta join and the build's
    own (bucket, term-group, salt) grouping, minus tokenization (the
    dominant cost). Hot terms stay doc-range-salted across tasks like the
    build, so a 10^9-posting term never serializes through one task."""
    pv = IndexVersion(out_dir, base=True)
    base, old_vdir = pv.base_meta, pv.base_vdir
    t_start = time.time()

    old_postings = os.path.join(old_vdir, "postings")
    old_stats = buildmod.segment_stats(spark.read.parquet(old_postings))

    # hot set from the GLOBAL lexicon — the df a from-scratch build of the
    # whole corpus would see (same > comparison as build_index)
    hot_terms = frozenset(
        r["term"]
        for r in spark.read.parquet(os.path.join(old_vdir, "lexicon"))
        .where(F.col("df") > int(base["fancy_threshold"]))
        .select("term")
        .collect()
    )
    rows = buildmod.decoded_postings(
        spark.read.parquet(old_postings).where(F.col("kind") == "full"),
        spark.read.parquet(os.path.join(old_vdir, "docmeta")),
        int(base["max_backlinks"]),
    )
    eff_salts = buildmod.write_segments(
        rows,
        pv.path("postings"),
        seg_size=int(base["seg_size"]),
        n_salts=int(base.get("n_salts", 8)),
        n_docs=int(base["n_docs"]),
        n_rows=int(base["n_postings"]),
        hot_terms=hot_terms,
    )
    # lexicon: re-aggregate df from the new segment metadata (must equal
    # the old lexicon — compaction moves bytes, not postings)
    buildmod.lexicon_from_segments(spark, pv.path("postings"), pv.path("lexicon"))
    pv.carry("docmeta", "tombstones")
    new_stats = buildmod.segment_stats(spark.read.parquet(pv.path("postings")))
    pv.seal(
        {
            **base,
            "compressed_bytes": new_stats["bytes"],
            "n_segments": new_stats["segments"],
            "n_salts": int(eff_salts),
            "compacted_from": os.path.basename(old_vdir),
        },
        TableIO(spark),
    )
    # positions sidecar: appends fragment it like the postings —
    # re-segment it through the same decode→re-encode pass (no
    # re-tokenization; phrase/NEAR answers identical, tested)
    metrics = {
        "version": pv.name,
        "segments_before": old_stats["segments"],
        "segments_after": new_stats["segments"],
        "bytes_before": old_stats["bytes"],
        "bytes_after": new_stats["bytes"],
        "n_hot_terms": len(hot_terms),
        "positions_segments": pv.carry_positions(spark, io),
        "wall_s": round(time.time() - t_start, 3),
    }
    pv.lin.record("compact", **metrics)
    pv.publish(TableIO(spark), kind="compact")
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
