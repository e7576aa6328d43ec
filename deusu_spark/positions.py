"""Optional token-POSITIONS sidecar: build pass + the per-doc kernels of
positions-driven phrase, NEAR and proximity retrieval.

The reference's postings are positionless by design (DbTypes.pas:119-127)
— a deliberate, documented DEVIATION: at 100 TB a phrase query that
AND-candidates and then rescans ``text`` re-reads the corpus column,
while this sidecar bounds the verify stage to decoding the candidate
(term, doc-range) segments only.

Layout mirrors the postings table's pruning story: parquet partitioned by
``bucket = crc32(term) & 63``, one row per (term, doc-range segment) with
``first_doc``/``last_doc`` column stats for range pushdown and a
``poscodec`` varbyte blob of every doc's body-token positions. Doc-range
SALTS are contiguous doc-id ranges (floor(doc_id / range)), so two salt
groups of one term can never interleave — segment ranges are globally
disjoint per term by construction (no analog of the hash-salt split
hazard in CLAUDE.md).

The sidecar writes through the TableIO seam like the other published
tables (identity-partitioned on the engine's crc32 bucket column — the
same transform caveat as the postings, tableio.py:100-106), so an
Iceberg deployment snapshots it alongside postings/lexicon. _POSMETA.json
stamps the n_docs the sidecar was built against; has_positions() treats
any mismatch with the version's meta.json as ABSENT — a sidecar carried
across an append without its delta extension (or into a doc-id-rebasing
merge) can therefore never silently drop matching new docs, it just
isn't there until extended/rebuilt. incremental_update extends it with a
delta-only append (delta doc ids all sort after old ones, so segment
doc-range disjointness per term holds by construction); tombstone and
compaction versions link it unchanged (doc ids and n_docs are
unchanged, and candidates are already tombstone-masked upstream).

Positions are RAW body-token indices (before the fill-word filter), so
adjacency reflects the original token stream: in "linux the kernel" the
pattern is linux@0, kernel@2 — stop words keep their offsets but are
never pattern terms (they are unindexed). Build-side tokenization uses
the same fold + body-token regex as the index (colfns.fold_col,
ParserClass.pas:1173-1204); the query side folds the phrase with the
python twin (textproc.fold / body_tokens), which is parity-tested.

Query side: every engine tier (query_local.LocalSearcher and
ShardedSearcher, query.SearchEngine) runs one request loop
(query_local._SearchViews) and one set of per-doc kernels over
``{term: {doc: positions}}``: ``phrase_docs`` (start intersection),
``near_docs`` (near_window_match) and ``min_spans`` (min_cover_window).
A tier supplies only the read of the candidates' positions, and both
reads decode a segment with ``doc_positions``: the serving tier reads
segments through pyarrow, the distributed tier scans them in Spark and
collects only candidate docs' positions — bounded by candidates × terms ×
positions per doc, and the verify loop bounds the candidates.
"""

from __future__ import annotations

import json
import os
from zlib import crc32 as _crc32

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import poscodec
from .constants import MAX_TOKEN_LEN, is_fill_word

POS_SCHEMA = (
    "bucket int, term string, first_doc long, last_doc long, "
    "n int, blob binary"
)


def _crc(s: str) -> int:
    return _crc32(s.encode("utf-8")) & 0xFFFFFFFF


def build_positions(
    spark: SparkSession,
    transcripts: DataFrame,
    index_root: str,
    *,
    version: str | None = None,
    seg_size: int = 4096,
    n_salts: int = 8,
    io=None,
    append: bool = False,
) -> dict:
    """Build the positions sidecar for an already-published index version.

    Reads doc ids from the published docmeta (join on url, the stable
    (conv_id, turn_idx) key), re-derives the body token stream with the
    SAME fold + regex as the build, and writes ``<vdir>/positions/``
    through the TableIO seam (``io``).

    ``append=True`` extends an existing sidecar with segments for ONLY
    the docs ``transcripts`` resolves to (incremental_update passes the
    delta batch): delta doc ids are all greater than every old doc id,
    so the new segments are doc-range-disjoint from the linked old ones
    per term by construction. _POSMETA.json is rewritten either way with
    the version's CURRENT n_docs — the staleness stamp has_positions()
    checks.

    One wide shuffle sized by (bucket, salt): tokens repartition on the
    (term-bucket, contiguous-doc-range-salt) pair and sort within
    partitions by (term, doc_id, pos); the encoder walks each sorted
    partition once. n_salts × shuffle partitions is the worker-memory
    knob at scale, exactly like the postings build."""
    from .build import current_index_dir
    from .colfns import fold_col, not_fill
    from .tableio import TableIO

    io = io or TableIO(spark)

    vdir = current_index_dir(index_root, version)
    with open(os.path.join(vdir, "meta.json")) as f:
        n_docs = int(json.load(f)["n_docs"])

    docmeta = io.read(os.path.join(vdir, "docmeta")).select(
        "doc_id", "url"
    )
    url = F.concat_ws("/", "conv_id", F.col("turn_idx").cast("string"))
    body_re = F.lit("[a-z0-9][a-z0-9_\\-]*")
    toks = F.transform(
        F.regexp_extract_all(
            fold_col(F.coalesce(F.col("text"), F.lit(""))), body_re, F.lit(0)
        ),
        lambda t: F.substring(t, 1, MAX_TOKEN_LEN),
    )
    rows = (
        transcripts.select(url.alias("url"), F.posexplode(toks))
        .withColumnRenamed("pos", "tpos")
        .withColumnRenamed("col", "term")
        .where(not_fill(F.col("term")))
        .join(docmeta, "url")
        .select(
            (
                F.crc32(F.encode(F.col("term"), "UTF-8")) % 64
            ).cast("int").alias("bucket"),
            "term",
            "doc_id",
            F.col("tpos").cast("long").alias("tpos"),
        )
    )
    salt_range = max(1, -(-n_docs // n_salts))  # ceil: contiguous ranges
    rows = rows.withColumn(
        "salt", F.floor(F.col("doc_id") / salt_range).cast("int")
    )

    def encode_part(iterator):
        pdf = pd.concat(list(iterator), ignore_index=True)
        if len(pdf) == 0:
            return
        terms = pdf["term"].to_numpy()
        docs = pdf["doc_id"].to_numpy(np.int64)
        poss = pdf["tpos"].to_numpy(np.int64)

        def runs():
            # term runs of the sorted stream, then per-doc grouping (each
            # run is sorted by doc, then pos)
            change = np.flatnonzero(terms[1:] != terms[:-1]) + 1
            starts = np.concatenate(([0], change, [len(pdf)]))
            for lo, hi in zip(starts[:-1].tolist(), starts[1:].tolist()):
                d = docs[lo:hi]
                dchange = np.flatnonzero(d[1:] != d[:-1]) + 1
                dstarts = np.concatenate(([0], dchange, [len(d)]))
                yield terms[lo], d[dstarts[:-1]], np.diff(dstarts), poss[lo:hi]

        yield _segment_frame(runs(), seg_size)

    segs = (
        rows.repartition(F.col("bucket"), F.col("salt"))
        .sortWithinPartitions("term", "doc_id", "tpos")
        .mapInPandas(encode_part, schema=POS_SCHEMA)
    )
    pos_dir = os.path.join(vdir, "positions")
    io.write(
        segs, pos_dir, partition_by=["bucket"],
        mode="append" if append else "overwrite",
    )
    n_segs = io.read(pos_dir).count()
    _write_posmeta(pos_dir, seg_size, n_salts, n_segs, n_docs, vdir)
    return {"positions_dir": pos_dir, "n_segments": n_segs}


def _write_posmeta(
    pos_dir: str, seg_size: int, n_salts: int, n_segs: int,
    n_docs: int, vdir: str,
) -> None:
    """Write ``_POSMETA.json`` through a rename.

    The stamp lives in the version dir on the filesystem either way (like
    meta.json/_lineage.jsonl) — the catalog holds the table data. The file
    may be a hard link shared with an older version's sidecar
    (IndexVersion.carry in an append), so a truncating open() would
    rewrite the OLD version's stamp through the shared inode."""
    from .build import _write_replacing

    os.makedirs(pos_dir, exist_ok=True)
    _write_replacing(
        os.path.join(pos_dir, "_POSMETA.json"),
        json.dumps({"seg_size": seg_size, "n_salts": n_salts,
                    "n_segments": n_segs, "n_docs": n_docs,
                    "version": os.path.basename(vdir)}),
    )


def _segment_frame(runs, seg_size: int) -> pd.DataFrame:
    """POS_SCHEMA rows for ``runs`` of (term, docs, counts, positions) —
    one term's ascending docs, their position counts and the flat
    positions — chunked into segments of ``seg_size`` docs. The one
    segment emitter of the sidecar build and its compaction."""
    out = {k: [] for k in ("bucket", "term", "first_doc", "last_doc", "n", "blob")}
    for t, d, c, p in runs:
        cstarts = np.zeros(len(d) + 1, dtype=np.int64)
        np.cumsum(c, out=cstarts[1:])
        for s0 in range(0, len(d), seg_size):
            s1 = min(s0 + seg_size, len(d))
            out["bucket"].append(_crc(t) % 64)
            out["term"].append(t)
            out["first_doc"].append(int(d[s0]))
            out["last_doc"].append(int(d[s1 - 1]))
            out["n"].append(int(s1 - s0))
            out["blob"].append(
                poscodec.encode_positions(
                    d[s0:s1], c[s0:s1], p[cstarts[s0]:cstarts[s1]]
                )
            )
    return pd.DataFrame(out)


def has_positions(vdir: str) -> bool:
    """True only for a sidecar whose n_docs stamp matches the version's
    meta.json — a sidecar carried into a version it wasn't built/extended
    for reads as ABSENT (phrase/NEAR raise) rather than silently dropping
    docs it has no segments for."""
    pm_path = os.path.join(vdir, "positions", "_POSMETA.json")
    if not os.path.isfile(pm_path):
        return False
    try:
        with open(pm_path) as f:
            pm = json.load(f)
        with open(os.path.join(vdir, "meta.json")) as f:
            n_docs = int(json.load(f)["n_docs"])
    except (OSError, ValueError, KeyError):
        return False
    return int(pm.get("n_docs", -1)) == n_docs


def compact_positions(
    spark: SparkSession,
    old_vdir: str,
    new_vdir: str,
    io=None,
) -> dict:
    """Re-segment a fragmented positions sidecar into ``new_vdir`` WITHOUT
    re-tokenizing — the sidecar twin of compact_index's postings
    decode→re-encode. Incremental appends add per-delta segment runs per
    term (a term touched by every delta accumulates one short run per
    append); this decodes each term's segments in doc order and re-encodes
    at the stamped seg_size, exactly what a from-scratch sidecar build
    would emit. Doc ids and positions are unchanged, so phrase/NEAR
    answers are identical (tested).

    Scale shape: one (bucket, salt) shuffle of segment ROWS (not token
    rows — re-encoding merges whole blobs), linear decode+encode per task.
    Salt-group runs split on salt change, so merged ranges stay globally
    disjoint per term (group assignment floor(first_doc/range) is monotone
    in first_doc, making each group a contiguous run of the term's
    ordered segment list)."""
    from .tableio import TableIO

    io = io or TableIO(spark)
    with open(
        os.path.join(old_vdir, "positions", "_POSMETA.json")
    ) as f:
        pm = json.load(f)
    with open(os.path.join(new_vdir, "meta.json")) as f:
        n_docs = int(json.load(f)["n_docs"])
    seg_size = int(pm["seg_size"])
    n_salts = int(pm.get("n_salts", 8))
    salt_range = max(1, -(-n_docs // n_salts))
    tbl = (
        io.read(os.path.join(old_vdir, "positions"))
        .withColumn(
            "salt", F.floor(F.col("first_doc") / salt_range).cast("int")
        )
    )

    def reencode(iterator):
        pdf = pd.concat(list(iterator), ignore_index=True)
        if len(pdf) == 0:
            return

        def runs():
            for (t, _salt), g in pdf.groupby(["term", "salt"], sort=False):
                dec = [poscodec.decode_positions(bytes(b)) for b in g["blob"]]
                yield (t, *(np.concatenate(col) for col in zip(*dec)))

        yield _segment_frame(runs(), seg_size)

    segs = (
        tbl.repartition(F.col("bucket"), F.col("salt"))
        .sortWithinPartitions("term", "salt", "first_doc")
        .mapInPandas(reencode, schema=POS_SCHEMA)
    )
    pos_dir = os.path.join(new_vdir, "positions")
    io.write(segs, pos_dir, partition_by=["bucket"], mode="overwrite")
    n_segs = io.read(pos_dir).count()
    _write_posmeta(pos_dir, seg_size, n_salts, n_segs, n_docs, new_vdir)
    return {"positions_dir": pos_dir, "n_segments": n_segs}


def phrase_pattern(phrase: str) -> list[tuple[int, str]]:
    """(raw-token offset, folded term) pairs for the phrase's indexable
    terms — fill words keep their offsets but are dropped as pattern
    terms (they are unindexed, like the query rewrite's stopword drop)."""
    from .textproc import body_tokens, fold

    toks = body_tokens(fold(phrase))
    return [(i, t) for i, t in enumerate(toks) if not is_fill_word(t)]


def min_cover_window(pos_lists: list[np.ndarray]) -> int | None:
    """Minimal inclusive token span (max − min + 1) of any window holding
    at least one position from EVERY list — the classic minimal-window
    sweep over the merged sorted positions, O(total·k) with k lists, no
    pairwise products. None when a list is empty (no full co-occurrence).
    ONE sweep shared by the NEAR verifier (match ⇔ span ≤ window) and the
    proximity-ranked scorer (boost = scale // (span − k + 1)) on every
    engine tier, so their semantics cannot drift."""
    k = len(pos_lists)
    if k == 0 or any(len(p) == 0 for p in pos_lists):
        return None
    if k == 1:
        return 1
    merged = np.concatenate(pos_lists)
    labels = np.concatenate(
        [np.full(len(p), i, dtype=np.int64) for i, p in enumerate(pos_lists)]
    )
    order = np.argsort(merged, kind="stable")
    merged, labels = merged[order], labels[order]
    counts = np.zeros(k, dtype=np.int64)
    have = 0
    lo = 0
    best: int | None = None
    for hi in range(len(merged)):
        if counts[labels[hi]] == 0:
            have += 1
        counts[labels[hi]] += 1
        while have == k:
            span = int(merged[hi] - merged[lo]) + 1
            if best is None or span < best:
                best = span
            counts[labels[lo]] -= 1
            if counts[labels[lo]] == 0:
                have -= 1
            lo += 1
    return best


def near_window_match(
    pos_lists: list[np.ndarray], window: int
) -> bool:
    """True iff one position from EVERY list fits inside a token window
    of size ``window`` (inclusive span: max−min < window)."""
    if len(pos_lists) == 1:
        return len(pos_lists[0]) > 0
    w = min_cover_window(pos_lists)
    return w is not None and (w - 1) < window


def doc_positions(blob: bytes, cand: np.ndarray) -> dict[int, np.ndarray]:
    """{doc: positions} of one positions segment, for the docs among the
    sorted ids ``cand`` only — the per-blob step of every tier's read."""
    d, c, p = poscodec.decode_positions(blob)
    idx = np.searchsorted(cand, d)
    ok = idx < len(cand)
    hit = np.zeros(len(d), dtype=bool)
    hit[ok] = cand[idx[ok]] == d[ok]
    cstarts = np.zeros(len(d) + 1, dtype=np.int64)
    np.cumsum(c, out=cstarts[1:])
    return {
        int(d[i]): p[cstarts[i]:cstarts[i + 1]] for i in np.flatnonzero(hit)
    }


def _doc_lists(term_pos: dict, terms: list[str]):
    """(doc, [positions of each term]) for the docs holding every term."""
    for doc in term_pos.get(terms[0], {}):
        lists = [term_pos.get(t, {}).get(doc) for t in terms]
        if all(p is not None for p in lists):
            yield doc, lists


def phrase_docs(term_pos: dict, pattern: list[tuple[int, str]]) -> set[int]:
    """Docs of ``term_pos`` ({term: {doc: positions}}) holding the phrase
    ``pattern`` ((offset, term) pairs): some start s with s + offset a
    position of its term for every pair. A repeated term reads one list."""
    out = set()
    for doc, lists in _doc_lists(term_pos, [t for _, t in pattern]):
        starts = lists[0] - pattern[0][0]
        for (off, _), p in zip(pattern[1:], lists[1:]):
            starts = np.intersect1d(starts, p - off)
            if len(starts) == 0:
                break
        if len(starts):
            out.add(doc)
    return out


def near_docs(term_pos: dict, uniq: list[str], window: int) -> set[int]:
    """Docs of ``term_pos`` where every unique term occurs within one
    ``window``-token span (near_window_match)."""
    return {
        doc
        for doc, lists in _doc_lists(term_pos, uniq)
        if near_window_match(lists, window)
    }


def min_spans(term_pos: dict, uniq: list[str]) -> dict[int, int]:
    """{doc: minimal covering window span} of the docs of ``term_pos``
    holding every unique term (min_cover_window); others are absent."""
    return {
        doc: min_cover_window(lists)
        for doc, lists in _doc_lists(term_pos, uniq)
    }


PROXIMITY_SCALE = 10_000  # adjacency boost; integer-exact across engines


def proximity_boost(span: int | None, n_terms: int) -> int:
    """Integer proximity boost for a doc whose minimal covering window of
    all n_terms unique terms spans ``span`` body tokens: the standard
    1/(window − k + 1) proximity term scaled to an exact integer
    (floor division — no float drift between engines). A doc with no
    full BODY co-occurrence (span None — e.g. a term matched only in the
    title) gets 0: a valid AND result with no proximity evidence."""
    if span is None:
        return 0
    return PROXIMITY_SCALE // (span - n_terms + 1)


def proximity_rerank(fetch_rows, spans_of, k: int, n_terms: int):
    """Shared coordinator loop for proximity-RANKED retrieval: page the
    base AND ranking (``fetch_rows(fetch) -> [(doc, base)]`` score-desc)
    and re-rank by base + proximity_boost, stopping when no unfetched
    candidate can reach the current top-k — the boost is bounded by
    PROXIMITY_SCALE, so once the next base score + SCALE falls strictly
    below the k-th boosted score the ranking is final. ``spans_of(docs)``
    returns {doc: minimal window span} for docs with full body
    co-occurrence. Used by all three engine tiers (exactness argument
    identical to the reference's two-pass '<1000 → full pass' shape)."""
    fetch = max(4 * k, 64)
    # spans are cached across pages: each ×4 page re-fetches the already
    # -ranked candidates, but spans_of (a Spark segment-decode job on the
    # distributed tier) only ever sees the NEWLY fetched docs — absent
    # docs are cached as None so they are not re-probed either
    known: dict[int, int | None] = {}
    while True:
        rows = fetch_rows(fetch)
        new = sorted(d for d, _ in rows if d not in known)
        if new:
            got = spans_of(np.asarray(new, dtype=np.int64))
            for d in new:
                known[d] = got.get(d)
        boosted = sorted(
            (
                (int(base) + proximity_boost(known.get(d), n_terms), d)
                for d, base in rows
            ),
            key=lambda x: (-x[0], x[1]),
        )
        if len(rows) < fetch:  # candidate stream exhausted — final
            return [(d, s) for s, d in boosted[:k]]
        if len(boosted) >= k:
            theta = boosted[k - 1][0]
            lowest_base = rows[-1][1]  # base ranking is score-desc
            if lowest_base + PROXIMITY_SCALE < theta:
                return [(d, s) for s, d in boosted[:k]]
        fetch *= 4
