"""Distributed inverted-index build (the Spark rebuild of GenDb).

Pipeline (mirrors GenDb's passes, re-expressed as one Spark DAG with durable
stage boundaries — GenDb.dpr:1315-1352's gendb.progress becomes a lineage
journal + idempotent per-stage reruns):

  stage docs      tokenize every turn (pure JVM column expressions — fold,
                  regexp tokenize, stopword filter, dedup, flags; zero
                  Python), assign dense doc_id over (conv_id, turn_idx),
                  derive per-doc sidecar values (filter byte, host elements,
                  domain rank, backlinks — GenDb.dpr:343-426)
  stage docmeta   the published per-doc table (docs minus the term arrays)
  stage lexicon   df per (bucket, term) straight off the staged docs, into
                  the 64 reference term buckets crc32(term)&63 (GenDb.dpr:349)
  stage segments  ``write_segments``, the one segment write path: explode
  (segments_fused) packed (term, doc) postings, shuffle by (bucket,
                  term-group, doc-range salt), sort, encode with
                  delta-gap + varbyte into bounded posting segments plus
                  fancy accelerator lists (GenDb.dpr:975-1109) and block-max
                  metadata (mapInArrow), and write — one job, no
                  intermediate posting files. Compaction and the merge's
                  fancy rebuild write through the same function.
  stage publish   meta.json + info.txt + CURRENT pointer → atomic index
                  swap (the ready2.dat dual-path swap, GenDb.dpr:1354-1357)
                  through ``IndexVersion``, the version lifecycle every
                  index writer shares; stage_docs is removed after it

Resumable: each stage records a lineage row; rerunning build() skips
completed stages.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import zlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import codec, textproc
from .constants import (
    FANCY_DF_THRESHOLD,
    FANCY_RANK_HI,
    FANCY_RANK_LO,
    INFO_DF_THRESHOLD,
    INFO_TERM_LIST_CAP,
    N_TERM_BUCKETS,
    SEGMENT_SIZE,
)
from .scoring import static_score_col

# encode tasks hold one whole sorted shuffle partition in Arrow;
# this bounds the per-task posting count (~4M rows ≈ 150-200 MB) so worker
# memory stays flat while task count grows with the corpus
FUSED_ROWS_PER_TASK = 4_000_000

# segment-shuffle term dictionary: when the vocabulary fits under this many
# terms, each posting shuffles an int64 term id (bucket<<26 | rank-within-
# bucket) instead of the term string — smaller shuffle rows, a radix-
# sortable numeric sort key instead of UTF8 byte compares, and the encoder
# recovers strings per SEGMENT (vocabulary-sized work) from a broadcast
# reverse map. Above the cap (driver copy of the vocab would be too big)
# the string layout is used unchanged — output is identical either way.
DICT_VOCAB_MAX = 2_000_000
DICT_BUCKET_BITS = 26  # ≤2^26 terms per crc bucket under the cap

DOCS_SCHEMA = T.StructType(
    [
        T.StructField("_pid", T.IntegerType()),
        T.StructField("_rn", T.LongType()),
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("url", T.StringType()),
        T.StructField("host", T.StringType()),
        T.StructField("title", T.StringType()),
        T.StructField("description", T.StringType()),
        T.StructField("dl", T.IntegerType()),
        T.StructField("german", T.BooleanType()),
        T.StructField("fd", T.IntegerType()),
        T.StructField("he", T.IntegerType()),
        T.StructField("rank", T.IntegerType()),
        T.StructField("backlinks", T.LongType()),
        T.StructField("terms", T.ArrayType(T.StringType())),
        T.StructField("tflags", T.ArrayType(T.IntegerType())),
        # n_terms duplicated as a scalar so the post-stage stats job reads
        # NO array columns (column pruning keeps it metadata-sized)
        T.StructField("nt", T.IntegerType()),
    ]
)

SEGMENTS_SCHEMA = T.StructType(
    [
        T.StructField("bucket", T.IntegerType()),
        T.StructField("term", T.StringType()),
        T.StructField("kind", T.StringType()),  # 'full' | 'fancy'
        T.StructField("first_doc", T.LongType()),
        T.StructField("last_doc", T.LongType()),
        T.StructField("n", T.IntegerType()),
        T.StructField("max_static", T.DoubleType()),
        T.StructField("blob", T.BinaryType()),
    ]
)


def _tokenize_partition(iterator):
    """Pure-Python tokenize stage — retained ONLY as the parity oracle for
    tokenized_docs (tests/test_textproc.py compares the two row for row).
    The build itself uses the JVM column-expression twin below; this Arrow
    path is never on the hot path anymore.

    Also stamps (_pid, _rn) = (physical partition, local row number) into the
    output. Persisting these makes the dense doc_id assignment deterministic:
    doc_id = global_offset(_pid) + _rn is derived from the *staged* parquet,
    never from re-executing a sampled-range lineage (which may repartition
    differently between jobs).
    """
    from pyspark import TaskContext

    pid = TaskContext.get().partitionId()
    rn = 0
    for pdf in iterator:
        out = {k: [] for k in DOCS_SCHEMA.fieldNames()}
        for row in pdf.itertuples(index=False):
            out["_pid"].append(pid)
            out["_rn"].append(rn)
            rn += 1
            url = f"{row.conv_id}/{row.turn_idx}"
            title = row.role
            desc = row.text[:255].strip()
            terms, dl, german = textproc.doc_terms(row.text, title, row.tool)
            url_l, title_l, desc_l = url.lower(), title.lower(), desc.lower()
            tflags = [
                textproc.posting_flags(t, url_l, title_l, desc_l) for t in terms
            ]
            out["conv_id"].append(row.conv_id)
            out["turn_idx"].append(row.turn_idx)
            out["url"].append(url)
            # host = conv_id up to the first '/': the bare conv_id for
            # transcripts, the site host in web mode (conv_id = page URL)
            out["host"].append(row.conv_id.split("/", 1)[0])
            out["title"].append(title)
            out["description"].append(desc)
            out["dl"].append(dl)
            out["german"].append(german)
            out["fd"].append(textproc.filter_byte(url, german))
            rank2 = textproc.domain_data_byte(url)
            out["he"].append((rank2 & 15) + 1)
            out["rank"].append(row.rank)
            out["backlinks"].append(row.backlinks)
            out["terms"].append(terms)
            out["tflags"].append(tflags)
            out["nt"].append(len(terms))
        yield pd.DataFrame(out)


# --- JVM tokenize stage -------------------------------------------------
# Column-expression twin of _tokenize_partition / textproc.py. The whole
# fold → tokenize → stopword-filter → dedup → flags pipeline runs inside the
# JVM (whole-stage codegen for the scalar parts, JVM higher-order functions
# for the array parts) — no Python in the build hot path, which is what the
# tokenize stage's scaling depends on (VERDICT r1 #1).
#
# Semantics mirrored (and parity-tested in tests/test_textproc.py):
#   fold            ParserClass.pas:436-528 / searchservernew.dpr:1790-1817
#   body tokens     ParserClass.pas:1173-1204   [a-z0-9][a-z0-9_-]* cap 255
#   title tokens    ParserClass.pas:1136-1149   [a-z_-]+ on first 255 chars
#   stopword gate   Words.pas:25-89 via AddToWordList ParserClass.pas:710-714
#   10k term cap    DbTypes.pas:67 (cMaxKeywords)
#   location flags  ImportData.dpr:316-320 (substring containment)
#   filter byte     GenDb.dpr:381-402;  host elements GenDb.dpr:111-156

from .colfns import fold_col as _fold_col
from .colfns import not_fill as _not_fill
from .colfns import strip_col as _strip_col


def tokenized_docs(docs: DataFrame, index_gate: str | None = None) -> DataFrame:
    """stage-docs projection, all column expressions (DOCS_SCHEMA output).

    Input: the range-partitioned, (conv_id, turn_idx)-sorted transcript
    stream with rank/backlinks sidecars. (_pid, _rn) come from
    spark_partition_id() + monotonically_increasing_id()'s per-partition
    counter (consecutive from 0 within each task), evaluated in the same
    stage as the sort — so the persisted doc order is the sorted order,
    exactly like the old mapInPandas stamping.

    index_gate (P7, ParserClass.pas:1265-1267): 'de_only' drops non-German
    docs. The gate filters BEFORE the (_pid, _rn) stamping (Catalyst never
    reorders the non-deterministic id projection across the filter), so the
    surviving docs still get gap-free per-partition row numbers and the
    dense doc_id assignment stays collision-free."""
    from .constants import (
        FLAG_IN_DESCRIPTION,
        FLAG_IN_TITLE,
        FLAG_IN_URL,
        GERMAN_WORDS,
        MAX_TERMS_PER_DOC,
        MAX_TOKEN_LEN,
    )

    text = F.coalesce(F.col("text"), F.lit(""))
    title = F.coalesce(F.col("role"), F.lit(""))
    tool = F.coalesce(F.col("tool"), F.lit(""))
    url = F.concat_ws("/", "conv_id", F.col("turn_idx").cast("string"))

    body_re = F.lit("[a-z0-9][a-z0-9_\\-]*")
    d = docs.select(
        "conv_id",
        "turn_idx",
        url.alias("url"),
        # host = conv_id up to the first '/' (bare conv_id for transcripts,
        # the site host in web mode where conv_id is the page URL) — this is
        # what host: queries, per-host collapse and the ignore gate key on
        F.substring_index("conv_id", "/", 1).alias("host"),
        title.alias("title"),
        _strip_col(F.substring(text, 1, 255)).alias("description"),
        "rank",
        "backlinks",
        F.transform(
            F.regexp_extract_all(_fold_col(text), body_re, F.lit(0)),
            lambda t: F.substring(t, 1, MAX_TOKEN_LEN),
        ).alias("_btoks"),
        F.regexp_extract_all(
            F.substring(_fold_col(title), 1, 255), F.lit("[a-z_\\-]+"), F.lit(0)
        ).alias("_ttoks"),
        F.transform(
            F.regexp_extract_all(_fold_col(tool), body_re, F.lit(0)),
            lambda t: F.substring(t, 1, MAX_TOKEN_LEN),
        ).alias("_etoks"),
    )
    d = d.withColumn("dl", F.size("_btoks").cast("int")).withColumn(
        "german",
        F.exists("_btoks", lambda t: t.isin(sorted(GERMAN_WORDS))),
    )
    d = d.withColumn(
        "terms",
        F.slice(
            F.array_distinct(
                F.concat(
                    F.filter("_ttoks", _not_fill),
                    F.filter("_btoks", _not_fill),
                    F.filter("_etoks", _not_fill),
                )
            ),
            1,
            MAX_TERMS_PER_DOC,
        ),
    ).drop("_btoks", "_ttoks", "_etoks")

    url_l = F.lower(F.col("url"))
    title_l = F.lower(F.col("title"))
    desc_l = F.lower(F.col("description"))
    d = d.withColumn(
        "tflags",
        F.transform(
            "terms",
            lambda t: (
                F.when(F.instr(desc_l, t) > 0, FLAG_IN_DESCRIPTION).otherwise(0)
                + F.when(F.instr(title_l, t) > 0, FLAG_IN_TITLE).otherwise(0)
                + F.when(F.instr(url_l, t) > 0, FLAG_IN_URL).otherwise(0)
            ).cast("int"),
        ),
    )

    # filter byte — GenDb.dpr:381-402 (slash is 1-based Pascal Pos())
    u = F.col("url")
    slash = F.locate("/", u)
    www = F.lower(u).startswith("www.")
    ulen_no_www = F.when(www, F.length(u) - 4).otherwise(F.length(u))
    fd = (
        F.when((slash > 0) & (slash == F.length(u)), 128)
        .otherwise(0)
        + F.when(
            www & (slash > 1) & (u.substr(slash - F.lit(1), F.lit(1)) != "."),
            64,
        ).otherwise(0)
        + F.when(F.col("german"), 32).otherwise(0)
        + F.least(F.greatest(ulen_no_www - 1, F.lit(0)), F.lit(31))
    )
    # host elements — GenDb.dpr:111-156; only (rank2 & 15) + 1 is consumed
    host_str = F.substring_index(u, "/", 1)
    host_elems = (
        F.length(host_str) - F.length(F.replace(host_str, F.lit("."), F.lit(""))) + 1
    )
    d = d.withColumn("fd", fd.cast("int")).withColumn(
        "he", (F.least(host_elems, F.lit(15)) + 1).cast("int")
    )
    if index_gate == "de_only":
        d = d.where(F.col("german"))
    elif index_gate is not None:
        raise ValueError(f"unknown index_gate: {index_gate!r}")
    d = d.withColumn("nt", F.size("terms").cast("int"))
    d = d.withColumn("_pid", F.spark_partition_id()).withColumn(
        "_rn", F.monotonically_increasing_id().bitwiseAND(F.lit((1 << 33) - 1))
    )
    return d.select(*DOCS_SCHEMA.fieldNames())


def _encode_partition_fn(
    seg_size: int,
    n_salts: int,
    n_docs: int,
    hot_terms_bc=None,
    emit_full: bool = True,
    dict_bc=None,
):
    """mapInArrow factory: encode a task's posting rows into bounded
    self-contained varbyte segments + block-max metadata. One Arrow stream
    per task instead of one applyInPandas call per term: per-group overhead
    disappears and a hot term's salted sub-ranges encode in parallel tasks.

    Input rows are the packed layout ``write_segments`` shuffles: ``term``
    (or the dict-layout ``tid``), ``pack`` = doc_id<<4 | fancy_eligible<<3 |
    flags, ``static`` and an optional ``run_salt``. The stream is a
    concatenation of runs, each run = one (term, salt) group's rows sorted
    ascending by doc_id, where salt = trunc(doc_id * n_salts / n_docs)
    assigns disjoint contiguous doc ranges. No global order is assumed, and
    two salt groups of one term may sit adjacent in one stream (shuffle-key
    hash collision) while the doc range BETWEEN them lives in another task,
    so a run boundary is term change OR salt change OR run_salt change OR a
    non-ascending doc_id. The salt is recomputed here with the same float64
    arithmetic as the JVM partition expression, so boundaries match the
    grouping exactly; this keeps every emitted segment internally sorted
    and all segment doc-ranges globally disjoint per (term, kind) —
    LocalSearcher and the block-max pruning rely on that.

    When ``hot_terms_bc`` (a broadcast set) or the dict's ``hot_tids`` is
    non-empty, hot terms also emit rank-window-filtered 'fancy' accelerator
    segments (GenDb.dpr:1053-1071) from the SAME pass. Mirrors GenDb pass 2
    (:512-705) and the codec rwi.pas:76-153."""

    cols = [f.name for f in SEGMENTS_SCHEMA.fields]

    def encode_partition(iterator):
        # Fully vectorized: ZERO per-run Python. Run/segment boundaries,
        # varbyte encoding (codec.encode_segments), and per-segment metadata
        # (reduceat max, fancy-indexed first/last docs) are each ONE numpy
        # pass over the whole task; the term column never leaves Arrow
        # (pc.take at segment starts) and the blob column is built
        # zero-copy from the concatenated byte stream + offsets.
        import pyarrow as pa
        import pyarrow.compute as pc

        batches = [b for b in iterator]
        if not batches:
            return
        tbl = pa.Table.from_batches(batches).combine_chunks()
        n = tbl.num_rows
        if n == 0:
            return
        hot = hot_terms_bc.value if hot_terms_bc is not None else frozenset()
        if dict_bc is not None:
            # dict layout: the term string never rides the shuffle — tid =
            # bucket<<26 | rank-within-bucket, decoded per segment from the
            # broadcast reverse map (dict_tids sorted ascending, so
            # searchsorted is an exact index)
            dmaps = dict_bc.value
            dict_tids = dmaps["tids"]
            dict_terms = dmaps["terms"]
            hot_tids = dmaps["hot_tids"]
            tids = tbl.column("tid").chunk(0).to_numpy()
            terms = None
        else:
            dict_tids = dict_terms = hot_tids = tids = None
            terms = tbl.column("term").chunk(0)
        statics = tbl.column("static").chunk(0).to_numpy().astype(np.float64)
        pack = tbl.column("pack").chunk(0).to_numpy()
        docs = pack >> 4
        flags = (pack & 7).astype(np.int64)
        fancy_ok = (pack & 8) != 0
        salts = np.trunc(docs * n_salts / n_docs).astype(np.int64)
        start_mask = np.empty(n, dtype=bool)
        start_mask[0] = True
        start_mask[1:] = (docs[1:] <= docs[:-1]) | (salts[1:] != salts[:-1])
        if "run_salt" in tbl.column_names:
            # merge.py's fancy rebuild feeds disjoint doc-range holes whose
            # boundaries the global salt formula cannot see — two holes of
            # one term in one task must not fuse into a segment spanning a
            # range already covered by linked fancy segments
            rs = tbl.column("run_salt").chunk(0).to_numpy()
            start_mask[1:] |= rs[1:] != rs[:-1]
        if n > 1:
            if terms is None:
                start_mask[1:] |= tids[1:] != tids[:-1]
            else:
                start_mask[1:] |= pc.not_equal(
                    terms.slice(1), terms.slice(0, n - 1)
                ).to_numpy(zero_copy_only=False)
        run_starts = np.flatnonzero(start_mask)
        run_id = np.cumsum(start_mask) - 1

        def emit_batches(d, f, st, rid, abs_idx, kind):
            """Segment concatenated ascending runs and emit RecordBatches.

            ``rid`` identifies each posting's run; ``abs_idx`` maps posting
            positions back to the task arrays (None for the full pass) so
            the Arrow term column can be gathered at segment starts without
            materializing Python strings. Batches are split so binary
            offsets stay int32-safe (pa.binary) at any task size.
            """
            m = len(d)
            rmask = np.empty(m, dtype=bool)
            rmask[0] = True
            rmask[1:] = rid[1:] != rid[:-1]
            rstarts = np.flatnonzero(rmask)
            rix = np.cumsum(rmask) - 1
            pos = np.arange(m, dtype=np.int64) - rstarts[rix]
            seg_starts = np.flatnonzero(pos % seg_size == 0)
            n_segs = len(seg_starts)
            seg_ends = np.empty(n_segs, dtype=np.int64)
            seg_ends[:-1] = seg_starts[1:]
            seg_ends[-1] = m
            boffs, data = codec.encode_segments(d, f, seg_starts)
            seg_max = np.maximum.reduceat(st, seg_starts)
            a = 0
            while a < n_segs:
                # keep each batch's blob bytes < 512 MiB (int32 offsets)
                b = int(np.searchsorted(boffs, boffs[a] + (1 << 29), "right")) - 1
                b = min(max(b, a + 1), n_segs)
                ss = seg_starts[a:b]
                offs32 = (boffs[a : b + 1] - boffs[a]).astype(np.int32)
                blob_arr = pa.Array.from_buffers(
                    pa.binary(),
                    b - a,
                    [
                        None,
                        pa.py_buffer(offs32),
                        pa.py_buffer(data[boffs[a] : boffs[b]]),
                    ],
                )
                take_ix = ss if abs_idx is None else abs_idx[ss]
                if terms is None:
                    seg_tids = tids[take_ix]
                    seg_terms = dict_terms.take(
                        pa.array(np.searchsorted(dict_tids, seg_tids))
                    )
                    # dict layout: bucket lives in the tid's high bits
                    bk_seg = (seg_tids >> DICT_BUCKET_BITS).astype(np.int32)
                else:
                    seg_terms = pc.take(terms, pa.array(take_ix))
                    # bucket = crc32(term) % 64 per SEGMENT (same parity as
                    # the JVM F.crc32 expression — zlib.crc32 over UTF-8)
                    bk_seg = np.fromiter(
                        (
                            zlib.crc32(t.encode("utf-8")) % N_TERM_BUCKETS
                            for t in seg_terms.to_pylist()
                        ),
                        dtype=np.int32,
                        count=b - a,
                    )
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(bk_seg),
                        seg_terms,
                        pa.repeat(pa.scalar(kind), b - a),
                        pa.array(d[ss]),
                        pa.array(d[seg_ends[a:b] - 1]),
                        pa.array((seg_ends[a:b] - ss).astype(np.int32)),
                        pa.array(seg_max[a:b]),
                        blob_arr,
                    ],
                    names=cols,
                )
                a = b

        if emit_full:
            yield from emit_batches(docs, flags, statics, run_id, None, "full")
        if terms is None:
            if hot_tids.size == 0:
                return
            run_hot = np.isin(tids[run_starts], hot_tids)
        else:
            if not hot:
                return
            run_hot = pc.is_in(
                pc.take(terms, pa.array(run_starts)),
                options=pc.SetLookupOptions(value_set=pa.array(sorted(hot))),
            ).to_numpy(zero_copy_only=False)
        fidx = np.flatnonzero(run_hot[run_id] & fancy_ok)
        if fidx.size:
            yield from emit_batches(
                docs[fidx], flags[fidx], statics[fidx], run_id[fidx], fidx, "fancy"
            )

    return encode_partition


class Lineage:
    """Append-only build journal (the gendb.progress analog)."""

    def __init__(self, path: str):
        self.path = path
        self.done: dict[str, dict] = {}
        if os.path.exists(path):
            with open(path) as f:
                for line in f:
                    rec = json.loads(line)
                    if rec.get("status") == "done":
                        self.done[rec["step"]] = rec

    def record(self, step: str, **kw) -> None:
        rec = {"step": step, "status": "done", **kw}
        with open(self.path, "a") as f:
            f.write(json.dumps(rec) + "\n")
        self.done[step] = rec


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


def _write_replacing(path: str, text: str) -> None:
    """Write a file through a rename, so a hard link shared with an older
    version keeps that version's bytes."""
    with open(path + ".tmp", "w") as f:
        f.write(text)
    os.replace(path + ".tmp", path)


class IndexVersion:
    """One index version (``v_NNNN`` under ``root``) being written — the
    lifecycle every writer shares (build, append, deletion, compaction,
    merge; the reference's GenDb generation + ready2.dat swap):

      open     resolve the base version and its meta (``base=True``:
               CURRENT), pick the pending version dir, start its journal
      carry    hard-link tables and files taken unchanged from a base
      seal     write meta.json, and info.txt when the version wrote its
               own lexicon
      publish  record the lineage ``publish`` row, drop scratch dirs and
               swap CURRENT through TableIO

    The statistics a version records describe its own tables: a writer
    that writes a lexicon seals with ``lexicon=True`` (unique_words,
    word_occurrences, high_df_terms and info.txt derived from it); a
    writer that links the lexicon carries info.txt and keeps the base's
    figures."""

    def __init__(self, root: str, base: bool = False):
        os.makedirs(root, exist_ok=True)
        self.root = root
        self.base_vdir = current_index_dir(root) if base else None
        self.base_meta: dict = {}
        if base:
            with open(os.path.join(self.base_vdir, "meta.json")) as f:
                self.base_meta = json.load(f)
        self.name = _pending_version(root)
        self.vdir = os.path.join(root, self.name)
        os.makedirs(self.vdir, exist_ok=True)
        self.lin = Lineage(os.path.join(self.vdir, "_lineage.jsonl"))

    def path(self, sub: str) -> str:
        return os.path.join(self.vdir, sub)

    def carry(self, *subs: str, src: str | None = None) -> None:
        """Hard-link each of ``subs`` (postings, docmeta, lexicon,
        tombstones, positions, info.txt) from ``src`` (default: the base)
        into this version, each only if present there; a positions
        sidecar only if its n_docs stamp is valid (has_positions)."""
        from .positions import has_positions

        src = src or self.base_vdir
        for sub in subs:
            s, d = os.path.join(src, sub), self.path(sub)
            if sub == "positions" and not has_positions(src):
                continue
            if os.path.isdir(s):
                _link_tree(s, d)
            elif os.path.isfile(s) and not os.path.exists(d):
                os.link(s, d)

    def carry_positions(self, spark, io=None, delta=None):
        """The base's positions sidecar in this version: linked and
        extended with the ``delta`` transcripts (append; delta doc ids
        sort after every base id), or re-segmented without one
        (compaction). Both read n_docs from this version's meta.json, so
        seal first. Returns the sidecar's segment count, None when the
        base has no valid sidecar. A deletion carries it unchanged."""
        from .positions import build_positions, compact_positions, has_positions

        if not has_positions(self.base_vdir):
            return None
        if delta is None:
            return compact_positions(spark, self.base_vdir, self.vdir, io=io)[
                "n_segments"
            ]
        self.carry("positions")
        with open(self.path("positions/_POSMETA.json")) as f:
            pm = json.load(f)
        return build_positions(
            spark, delta, self.root, version=self.name,
            seg_size=int(pm.get("seg_size", self.base_meta["seg_size"])),
            n_salts=int(pm.get("n_salts", 8)), io=io, append=True,
        )["n_segments"]

    def seal(self, meta: dict, io, lexicon: bool = True) -> None:
        """Write meta.json; with ``lexicon``, first derive the lexicon
        statistics and info.txt from this version's lexicon table (read
        through ``io``)."""
        if lexicon:
            lex_dir = self.path("lexicon")
            thr = int(meta.get("info_df_threshold", INFO_DF_THRESHOLD))
            uw, wo, high = lexicon_stats(
                lex_dir, thr, lambda: io.read(lex_dir),
                local=io.backend == "parquet",
            )
            write_info_txt(self.vdir, uw, wo, high)
            meta.update(
                unique_words=uw,
                word_occurrences=wo,
                high_df_terms=[[t, d] for t, d in high],
            )
        _write_replacing(self.path("meta.json"), json.dumps(meta, indent=1))

    def publish(self, io, scratch: tuple[str, ...] = (), **row) -> None:
        """Record the ``publish`` row, remove the ``scratch`` subdirs
        (nothing reads them once published) and swap CURRENT: a CURRENT-
        pointer swap (the ready2.dat analog) on parquet, a snapshot
        bookkeeping commit plus the pointer on iceberg."""
        self.lin.record("publish", **row)
        for sub in scratch:
            shutil.rmtree(self.path(sub), ignore_errors=True)
        io.publish(self.root, self.name)


def build_index(
    spark: SparkSession,
    transcripts: DataFrame,
    out_dir: str,
    *,
    fancy_threshold: int = FANCY_DF_THRESHOLD,
    seg_size: int = SEGMENT_SIZE,
    n_salts: int = 8,
    bucket_groups: int | None = None,
    doc_id_offset: int = 0,
    io=None,
    ignore_hosts=None,
    drop_quote_urls: bool = False,
    index_gate: str | None = None,
    info_df_threshold: int = INFO_DF_THRESHOLD,
    positions: bool = False,
) -> dict:
    """Build (or resume) the index under ``out_dir`` and atomically publish.

    ``io`` (a tableio.TableIO) is the storage seam for the PUBLISHED tables
    (docmeta/lexicon/postings) and the atomic generation publish — Iceberg
    when its runtime + a catalog are configured, parquet dirs + CURRENT
    pointer otherwise. The stage_docs checkpoint and the tmp dirs are
    transient scratch and always live on the filesystem — they are the
    resume granularity, not the published state, and stage_docs is
    removed once the version is published.

    ``bucket_groups`` is accepted and ignored: it sized the per-bucket-group
    loop of the removed staged layout, and existing callers (the perfbench
    harness among them) still pass it.

    Returns the build metrics dict (postings/sec, bytes, per-stage walls).
    """
    from .tableio import TableIO

    io = io or TableIO(spark)
    pv = IndexVersion(out_dir)
    lin, version = pv.lin, pv.name
    metrics: dict = {"version": version}

    stage_docs = pv.path("stage_docs")
    docmeta_dir = pv.path("docmeta")
    lexicon_dir = pv.path("lexicon")
    postings_dir = pv.path("postings")

    # ---- stage docs -------------------------------------------------------
    if "docs" not in lin.done:
        t0 = time.time()
        # sidecar inputs that are pure column expressions stay JVM-side
        docs = transcripts.withColumn(
            "url_tmp", F.concat_ws("/", "conv_id", F.col("turn_idx").cast("string"))
        )
        crc_url = F.crc32(F.encode(F.col("url_tmp"), "UTF-8"))
        crc_host = F.crc32(F.encode(F.col("conv_id"), "UTF-8"))
        docs = docs.withColumn("backlinks", (F.lit(1) + crc_url % 1000).cast("long"))
        docs = docs.withColumn(
            "rank",
            F.when(crc_host % 10 == 0, (crc_host % 1_000_000).cast("int")).otherwise(
                F.lit(-1)
            ),
        )
        docs = docs.select(
            "conv_id", "turn_idx", "role", "text", "tool", "rank", "backlinks",
            "url_tmp",
        )
        # G1 ignore-list gate (GenDb.dpr:302-341): drop ignored hosts (the
        # conv_id up to its first '/' — bare conv_id for transcripts, site
        # host in web mode) and, in web mode, URLs with a quote. A DataFrame
        # ignore list anti-joins (broadcast — ignore lists are small); a
        # Python list becomes an isin filter.
        doc_host = F.lower(F.substring_index("conv_id", "/", 1))
        if ignore_hosts is not None:
            if isinstance(ignore_hosts, DataFrame):
                igc = ignore_hosts.columns[0]
                ig = ignore_hosts.select(
                    F.lower(F.col(igc)).alias("_ign_host")
                ).distinct()
                docs = docs.join(
                    F.broadcast(ig),
                    doc_host == ig["_ign_host"],
                    "left_anti",
                )
            else:
                lowered = [h.lower() for h in ignore_hosts]
                docs = docs.where(~doc_host.isin(lowered))
        if drop_quote_urls:
            docs = docs.where(~F.col("url_tmp").contains("'"))
        docs = docs.drop("url_tmp")
        # global (conv_id, turn_idx) order → per-partition order + persisted
        # (_pid, _rn); the dense doc_id derives from the *staged* output so it
        # is deterministic (no resampled-range re-execution).
        n_sort = max(1, spark.sparkContext.defaultParallelism)
        ordered = docs.repartitionByRange(
            n_sort, "conv_id", "turn_idx"
        ).sortWithinPartitions("conv_id", "turn_idx")
        tokenized_docs(ordered, index_gate=index_gate).write.mode(
            "overwrite"
        ).parquet(stage_docs)
        sd = spark.read.parquet(stage_docs)
        # ONE grouped stats job (no array columns read): global counts plus
        # the per-partition row counts the dense doc_id assignment needs —
        # persisted in lineage so later stages never re-aggregate them
        per_pid = sd.groupBy("_pid").agg(
            F.count("*").alias("n"),
            F.max("backlinks").alias("max_bl"),
            F.sum("nt").alias("n_postings"),
        ).collect()
        lin.record(
            "docs",
            rows=int(sum(r["n"] for r in per_pid)),
            postings=int(sum(r["n_postings"] for r in per_pid)),
            max_bl=int(max((r["max_bl"] for r in per_pid), default=0)),
            pid_counts={str(r["_pid"]): int(r["n"]) for r in per_pid},
            wall_s=round(time.time() - t0, 3),
        )
    n_docs = lin.done["docs"]["rows"]
    max_bl = lin.done["docs"]["max_bl"]
    total_postings = lin.done["docs"]["postings"]
    pid_counts = {
        int(k): v for k, v in (lin.done["docs"].get("pid_counts") or {}).items()
    } or None
    metrics["n_docs"] = n_docs
    metrics["n_postings"] = total_postings

    # ---- stage docmeta (published copy without the term arrays) -----------
    if "docmeta" not in lin.done:
        t0 = time.time()
        # stage_docs is already (conv_id, turn_idx)-range-partitioned and
        # sorted, and doc_id is monotone in (_pid, _rn) — write through
        # without another shuffle; files stay doc_id-ordered.
        sd = _with_doc_id(
            spark.read.parquet(stage_docs), doc_id_offset, pid_counts
        )
        io.write(sd.drop("terms", "tflags", "nt"), docmeta_dir)
        lin.record("docmeta", wall_s=round(time.time() - t0, 3))

    # ---- lexicon ------------------------------------------------------------
    if "lexicon" not in lin.done:
        t0 = time.time()
        # df per (bucket, term) straight off the staged docs (terms arrays
        # are per-doc-deduped, so count == document frequency) — map-side
        # combinable, output rows ∝ vocabulary. No _with_doc_id join: the
        # lexicon doesn't need doc ids, so the scan prunes to one column.
        lex = (
            spark.read.parquet(stage_docs)
            .select(F.explode("terms").alias("term"))
            .withColumn("bucket", _bucket_col("term"))
            .groupBy("bucket", "term")
            .agg(F.count("*").alias("df"))
        )
        # re-key the vocabulary-sized aggregate so each bucket dir holds a
        # few data-sized files instead of one per (agg task, bucket) pair
        lex = lex.repartition(
            F.col("bucket"), F.pmod(F.hash("term"), F.lit(4))
        ).sortWithinPartitions("bucket", "term")
        _write_buckets(io, lex, lexicon_dir)
        lin.record("lexicon", wall_s=round(time.time() - t0, 3))

    # ---- segments: one shuffle → sort → encode → write job -------------------
    if "segments_fused" not in lin.done and n_docs == 0:
        # fully-gated / empty corpus: nothing to encode (publish writes the
        # empty tables)
        lin.record("segments_fused", dict_encoded=False, eff_salts=n_salts, wall_s=0.0)
    if "segments_fused" not in lin.done:
        t0 = time.time()
        # one driver copy of the lexicon decides the shuffle layout: under
        # DICT_VOCAB_MAX terms, postings shuffle an int64 term id instead
        # of the term string (smaller rows, radix-sortable key) and the
        # same copy yields the hot-term set; above the cap, the string
        # layout + a hot-term collect (both re-derivable on resume)
        lex_df = io.read(lexicon_dir).select("bucket", "term", "df")
        # parquet backend: a footer-metadata count and (under the cap) a
        # direct local columnar read replace the count() job and the
        # toArrow() collect job
        lex_ds = None
        if io.backend == "parquet":
            import pyarrow.dataset as pads

            lex_ds = pads.dataset(lexicon_dir, partitioning="hive")
            vocab_n = lex_ds.count_rows()
        else:
            vocab_n = lex_df.count()
        stream = _posting_stream(
            _with_doc_id(spark.read.parquet(stage_docs), doc_id_offset, pid_counts),
            max_bl,
        )
        dict_bc = None
        hot_terms = frozenset()
        if 0 < vocab_n <= DICT_VOCAB_MAX:
            import pyarrow.compute as pc

            if lex_ds is not None:
                ltbl = lex_ds.to_table(columns=["bucket", "term", "df"])
            else:
                ltbl = lex_df.toArrow()
            ltbl = ltbl.take(
                pc.sort_indices(
                    ltbl, sort_keys=[("bucket", "ascending"), ("term", "ascending")]
                )
            ).combine_chunks()
            bks = ltbl.column("bucket").chunk(0).to_numpy().astype(np.int64)
            dfs = ltbl.column("df").chunk(0).to_numpy()
            terms_arr = ltbl.column("term").chunk(0)
            # rank within bucket: arange minus each bucket run's start
            new_run = np.concatenate(([True], bks[1:] != bks[:-1]))
            seq = np.arange(len(bks), dtype=np.int64) - np.flatnonzero(new_run)[
                np.cumsum(new_run) - 1
            ]
            tids = (bks << DICT_BUCKET_BITS) | seq
            dict_bc = spark.sparkContext.broadcast(
                {"tids": tids, "terms": terms_arr, "hot_tids": tids[dfs > fancy_threshold]}
            )
            tid_dim = spark.createDataFrame(
                pd.DataFrame({"term": terms_arr.to_pylist(), "tid": tids})
            )
            # the broadcast hash join maps term→tid JVM-side before the
            # shuffle; bucket rides in the tid's high bits
            stream = stream.join(F.broadcast(tid_dim), "term").select(
                "tid", "pack", "static"
            )
        else:
            hot_terms = frozenset(
                r["term"]
                for r in lex_df.where(F.col("df") > fancy_threshold)
                .select("term")
                .collect()
            )
        eff_salts = write_segments(
            stream,
            postings_dir,
            io=io,
            seg_size=seg_size,
            n_salts=n_salts,
            n_docs=n_docs,
            n_rows=total_postings,
            hot_terms=hot_terms,
            dict_bc=dict_bc,
        )
        if dict_bc is not None:
            dict_bc.unpersist()
        lin.record(
            "segments_fused",
            dict_encoded=dict_bc is not None,
            eff_salts=int(eff_salts),
            wall_s=round(time.time() - t0, 3),
        )
    eff_salts = int(lin.done["segments_fused"]["eff_salts"])

    # ---- publish ------------------------------------------------------------
    if "publish" not in lin.done:
        t0 = time.time()
        if n_docs == 0:
            # fully-gated / empty corpus: publish a valid empty generation
            # (schema-only tables, so both engines can open it)
            for schema, path in (
                (SEGMENTS_SCHEMA, postings_dir),
                ("bucket int, term string, df long", lexicon_dir),
            ):
                io.write(spark.createDataFrame([], schema), path)
        seg_stats = segment_stats(io.read(postings_dir))
        pv.seal(
            {
                "n_docs": int(n_docs),
                "max_backlinks": int(max_bl),
                "n_postings": int(total_postings),
                "compressed_bytes": seg_stats["bytes"],
                "n_segments": seg_stats["segments"],
                "fancy_threshold": fancy_threshold,
                "seg_size": seg_size,
                "n_salts": eff_salts,
                "n_buckets": N_TERM_BUCKETS,
                "info_df_threshold": info_df_threshold,
            },
            io,
        )
        # stage_docs is resume scratch: nothing reads it once published
        pv.publish(
            io, scratch=("stage_docs",),
            wall_s=round(time.time() - t0, 3), bytes=seg_stats["bytes"],
        )

    # optional phrase/proximity sidecar (positions=True): its own resumable
    # step AFTER publish — the core index is identical with or without it
    if positions and "positions" not in lin.done:
        from .positions import build_positions

        t0 = time.time()
        pres = build_positions(
            spark, transcripts, out_dir, version=version,
            seg_size=seg_size, io=io,
        )
        lin.record(
            "positions",
            wall_s=round(time.time() - t0, 3),
            n_segments=pres["n_segments"],
        )

    build_wall = sum(r.get("wall_s", 0) for r in lin.done.values())
    metrics["wall_s"] = round(build_wall, 3)
    metrics["postings_per_s"] = round(total_postings / max(build_wall, 1e-9), 1)
    metrics["compressed_bytes"] = lin.done["publish"]["bytes"]
    metrics["lineage"] = lin.path
    return metrics


def _bucket_col(term: str):
    """crc32(term) & 63 — the reference's term bucket (GenDb.dpr:349)."""
    return (F.crc32(F.encode(F.col(term), "UTF-8")) % N_TERM_BUCKETS).cast("int")


def _packed_rows(df: DataFrame, max_bl: int) -> DataFrame:
    """(term, doc_id, flags, fd, he, rank, backlinks[, run_salt]) rows →
    the packed posting rows ``write_segments`` takes: (term, pack, static
    [, run_salt]) with pack = doc_id<<4 | fancy_eligible<<3 | flags. One
    long instead of (doc_id, flags, rank, bucket) roughly halves the bytes
    each posting drags through the shuffle, the partition sort and the
    Arrow hand-off; fancy eligibility (FANCY_RANK_LO < rank < FANCY_RANK_HI)
    folds to one bit and the bucket is recomputed per segment. The four
    sidecar columns fold into the pre-IDF static score JVM-side (float32 —
    it only feeds the max_static pruning bounds, ±1 margin)."""
    eligible = (F.col("rank") > FANCY_RANK_LO) & (F.col("rank") < FANCY_RANK_HI)
    pack = (
        F.shiftleft(F.col("doc_id"), 4)
        + F.when(eligible, F.lit(8)).otherwise(F.lit(0))
        + F.col("flags").cast("bigint")
    )
    extra = ["run_salt"] if "run_salt" in df.columns else []
    return df.select(
        "term",
        pack.alias("pack"),
        static_score_col(int(max_bl)).cast("float").alias("static"),
        *extra,
    )


def _posting_stream(sd: DataFrame, max_bl: int) -> DataFrame:
    """Packed posting rows of the staged docs (with doc ids): one row per
    (term, doc) — the build's largest data movement."""
    return _packed_rows(
        sd.select(
            "doc_id",
            "fd",
            "he",
            "rank",
            "backlinks",
            F.explode(F.arrays_zip("terms", "tflags")).alias("p"),
        ).select(
            F.col("p.terms").alias("term"),
            # tinyint: flags are 3 bits
            F.col("p.tflags").cast("tinyint").alias("flags"),
            "doc_id",
            "fd",
            "he",
            "rank",
            "backlinks",
        ),
        max_bl,
    )


def _decode_segments(iterator):
    """mapInArrow: segments (term, blob[, run_salt]) → posting rows (term,
    doc_id, flags[, run_salt])."""
    import pyarrow as pa

    for batch in iterator:
        blobs = batch.column("blob").to_pylist()
        decoded = [codec.decode(b) for b in blobs]
        lens = np.array([len(d) for d, _ in decoded], dtype=np.int64)
        if not lens.sum():
            continue
        rep = np.repeat(np.arange(len(blobs)), lens)
        cols = {
            "term": batch.column("term").take(pa.array(rep)),
            "doc_id": pa.array(np.concatenate([d for d, _ in decoded])),
            "flags": pa.array(
                np.concatenate([f for _, f in decoded]).astype(np.int32)
            ),
        }
        if "run_salt" in batch.schema.names:
            cols["run_salt"] = batch.column("run_salt").take(pa.array(rep))
        yield pa.RecordBatch.from_arrays(list(cols.values()), names=list(cols))


def decoded_postings(segs: DataFrame, docmeta: DataFrame, max_bl: int) -> DataFrame:
    """Decode segments back into packed posting rows: blob decode → docmeta
    re-join (one equi-join on doc_id) → static score. ``segs`` holds (term,
    blob) and an optional ``run_salt`` carried through to the output."""
    extra = ["run_salt"] if "run_salt" in segs.columns else []
    post = segs.select("term", "blob", *extra).mapInArrow(
        _decode_segments,
        schema="term string, doc_id long, flags int"
        + (", run_salt long" if extra else ""),
    )
    dm = docmeta.select("doc_id", "fd", "he", "rank", "backlinks")
    return _packed_rows(post.join(dm, "doc_id"), max_bl)


def write_segments(
    postings: DataFrame,
    dest: str,
    *,
    seg_size: int,
    n_salts: int,
    n_docs: int,
    n_rows: int = 0,
    hot_terms=frozenset(),
    dict_bc=None,
    emit_full: bool = True,
    io=None,
) -> int:
    """The one segment write path (build, compaction, merge fancy rebuild):
    shuffle packed posting rows by (bucket, term-group, doc-range salt[,
    run_salt]), sort each partition by (term, doc), encode with
    ``_encode_partition_fn`` and write ``dest`` bucket-partitioned.
    Returns the salt count used (meta.json's n_salts).

    ``postings`` carries ``term`` (or the dict layout's ``tid`` with
    ``dict_bc``), ``pack``, ``static`` and optionally ``run_salt``. Every
    (bucket, tgrp, salt) group lands wholly inside one shuffle partition,
    so runs reach the encoder whole and doc-sorted. ``hot_terms`` (string
    layout) or the dict's hot tids get fancy segments too; ``emit_full``
    False emits fancy segments only."""
    from .tableio import TableIO

    spark = postings.sparkSession
    n_docs = max(int(n_docs), 1)
    # a universal term's per-salt run is ~n_docs/n_salts postings; grow the
    # salt count so no single encode task ever holds more than ~256
    # segments of one term (no-op below ~8M docs with the default seg_size)
    eff_salts = max(int(n_salts), n_docs // (seg_size * 256) + 1)
    nparts = max(spark.sparkContext.defaultParallelism * 2, 8)
    # encoder-group count (64 buckets × n_tgrp × n_salts) must comfortably
    # exceed the task count for load balance — grow the vocabulary fan-out
    # with the cluster (stays 8 below ~1024 cores)
    n_tgrp = max(8, nparts * 4 // (N_TERM_BUCKETS * max(n_salts, 1)) + 1)
    # each task Arrow-materializes its whole sorted shuffle partition —
    # bound the per-task posting count so worker memory stays flat as the
    # corpus grows (tasks scale out, not up)
    nparts = max(nparts, int(n_rows) // FUSED_ROWS_PER_TASK + 1)
    key = "tid" if dict_bc is not None else "term"
    bucket = (
        F.shiftright(F.col("tid"), DICT_BUCKET_BITS)
        if dict_bc is not None
        else _bucket_col("term")
    )
    salt = (F.shiftright(F.col("pack"), 4) * eff_salts / F.lit(n_docs)).cast("int")
    run_key = [F.col("run_salt")] if "run_salt" in postings.columns else []
    hot_bc = spark.sparkContext.broadcast(hot_terms) if hot_terms else None
    encode_fn = _encode_partition_fn(
        seg_size, eff_salts, n_docs, hot_bc, emit_full=emit_full, dict_bc=dict_bc
    )
    # segment rows are ~8× smaller than the postings, but a
    # partitionBy(bucket) write straight off the encode tasks emits one
    # sliver file per (task, bucket) pair. One cheap re-key of the ENCODED
    # rows (AQE coalesces it by advisory size) bounds the output to ~4
    # term slices per bucket, sorted by (term, first_doc) so parquet
    # row-group stats prune term probes.
    seg_slices = max(4, nparts // 16)
    encoded = (
        postings.repartition(
            nparts, bucket, F.pmod(F.hash(key), F.lit(n_tgrp)), salt, *run_key
        )
        # pack ascending == doc_id ascending (doc id occupies the high bits)
        .sortWithinPartitions(key, "pack")
        .mapInArrow(encode_fn, schema=SEGMENTS_SCHEMA)
        .repartition(F.col("bucket"), F.pmod(F.hash("term"), F.lit(seg_slices)))
        .sortWithinPartitions("bucket", "term", "first_doc")
    )
    _write_buckets(io or TableIO(spark), encoded, dest)
    if hot_bc is not None:
        hot_bc.unpersist()
    return eff_salts


def _write_buckets(io, df: DataFrame, dest: str) -> None:
    """Write a bucket-partitioned table so a rerun replaces exactly the
    buckets it writes: a tmp dir + idempotent bucket-dir move on parquet,
    a dynamic partition overwrite on iceberg. Iceberg identity-partitions
    on the engine's crc32 bucket column, NOT the bucket(64, term)
    transform, whose murmur buckets do not align with crc32."""
    if io.backend == "parquet":
        io.write(df, dest + "_tmp", partition_by=["bucket"])
        _move_bucket_dirs(dest + "_tmp", dest)
    else:
        io.write(df, dest, mode="overwrite_partitions", partition_by=["bucket"])


def segment_stats(segs: DataFrame) -> dict:
    """{bytes, postings, segments} of a segments table in one job."""
    r = segs.agg(
        F.coalesce(F.sum(F.length("blob")), F.lit(0)).alias("bytes"),
        F.coalesce(
            F.sum(F.when(F.col("kind") == "full", F.col("n"))), F.lit(0)
        ).alias("postings"),
        F.count("*").alias("segments"),
    ).collect()[0]
    return {k: int(r[k]) for k in ("bytes", "postings", "segments")}


def lexicon_from_segments(spark: SparkSession, postings_dir: str, lexicon_dir: str) -> None:
    """Write the lexicon (bucket, term, df) from segment METADATA — df is
    the sum of the 'full' segments' n, so rows ∝ segments, no decode."""
    (
        spark.read.parquet(postings_dir)
        .where(F.col("kind") == "full")
        .groupBy("bucket", "term")
        .agg(F.sum("n").alias("df"))
        .sortWithinPartitions("bucket", "term")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(lexicon_dir)
    )


def lexicon_stats(
    lexicon_dir: str,
    df_threshold: int,
    read_lexicon,
    local: bool = True,
) -> tuple[int, int, list[tuple[str, int]]]:
    """Build statistics of a published lexicon for info.txt and meta.json
    (GenDb.dpr:658-693): (unique_words, word_occurrences, high_df), where
    high_df lists the terms with df >= df_threshold by (df desc, term asc),
    capped at INFO_TERM_LIST_CAP. A parquet lexicon (``local``) of at most
    DICT_VOCAB_MAX terms is read once with pyarrow and stays columnar
    until the capped slice — no Spark job; otherwise Spark aggregates
    ``read_lexicon()``. Both give the same figures and order."""
    if local:
        import pyarrow.compute as pc
        import pyarrow.dataset as pads

        ds = pads.dataset(lexicon_dir, partitioning="hive")
        if ds.count_rows() <= DICT_VOCAB_MAX:
            lex = ds.to_table(columns=["term", "df"])
            high = lex.filter(pc.field("df") >= df_threshold)
            order = pc.sort_indices(
                high, sort_keys=[("df", "descending"), ("term", "ascending")]
            )
            top = high.take(order[:INFO_TERM_LIST_CAP])
            return (
                lex.num_rows,
                int(pc.sum(lex["df"]).as_py() or 0),
                list(zip(top["term"].to_pylist(), top["df"].to_pylist())),
            )
    lex = read_lexicon()
    totals = lex.agg(
        F.count("*").alias("uw"), F.coalesce(F.sum("df"), F.lit(0)).alias("wo")
    ).collect()[0]
    high_df = [
        (r["term"], int(r["df"]))
        for r in lex.where(F.col("df") >= df_threshold)
        .orderBy(F.desc("df"), "term")
        .limit(INFO_TERM_LIST_CAP)
        .collect()
    ]
    return int(totals["uw"]), int(totals["wo"]), high_df


def write_info_txt(
    vdir: str,
    unique_words: int,
    word_occurrences: int,
    high_df: list[tuple[str, int]],
) -> None:
    """info.txt in the reference's format: the high-df terms by term, each
    as df right-aligned to width 10, a space and the term; then the
    totals. The reference appends per keys-step; here one report covers
    the whole generation."""
    lines = [f"{df_:10d} {term}\n" for term, df_ in sorted(high_df, key=lambda x: x[0])]
    lines += [f"UniqueWords={unique_words}\n", f"WordOccurences={word_occurrences}\n"]
    _write_replacing(os.path.join(vdir, "info.txt"), "".join(lines))


def _with_doc_id(
    stage_docs_df: DataFrame,
    doc_id_offset: int = 0,
    pid_counts: dict[int, int] | None = None,
) -> DataFrame:
    """doc_id = doc_id_offset + prefix_offset(_pid) + _rn over the staged,
    already (conv_id, turn_idx)-sorted docs. The offset table is one row per
    sort partition — broadcast-joined, so this scales to any corpus size.
    doc_id_offset > 0 appends after an existing corpus (incremental.py).
    pid_counts (from the build's lineage) skips the counting job."""
    spark = stage_docs_df.sparkSession
    if pid_counts is not None:
        counts = pid_counts
    else:
        sizes = stage_docs_df.groupBy("_pid").count().collect()
        counts = {r["_pid"]: r["count"] for r in sizes}
    rows, acc = [], doc_id_offset
    for pid in sorted(counts):
        rows.append((pid, acc))
        acc += counts[pid]
    off = spark.createDataFrame(rows, "_pid int, _off long")
    return (
        stage_docs_df.join(F.broadcast(off), "_pid")
        .withColumn("doc_id", (F.col("_off") + F.col("_rn")).cast("long"))
        .drop("_pid", "_rn", "_off")
    )


def _pending_version(out_dir: str) -> str:
    """Reuse an unpublished version dir (resume) or start the next one."""
    current = None
    cur_file = os.path.join(out_dir, "CURRENT")
    if os.path.exists(cur_file):
        current = open(cur_file).read().strip()
    versions = sorted(
        d for d in os.listdir(out_dir) if d.startswith("v_") and d != current
    )
    for v in versions:
        lineage = os.path.join(out_dir, v, "_lineage.jsonl")
        published = False
        if os.path.exists(lineage):
            with open(lineage) as f:
                # "tombstone" is accepted as a publish marker for versions
                # written before delete_conversations recorded an explicit
                # "publish" step — reusing a published version dir here
                # would clobber an immutable pinned snapshot
                published = any(
                    json.loads(line).get("step") in ("publish", "tombstone")
                    for line in f
                )
        if not published:
            return v
    n = 1
    if current:
        n = int(current.split("_")[1]) + 1
    if versions:
        n = max(n, max(int(v.split("_")[1]) for v in versions) + 1)
    return f"v_{n:04d}"


def _move_bucket_dirs(tmp_dir: str, final_dir: str) -> None:
    os.makedirs(final_dir, exist_ok=True)
    if not os.path.isdir(tmp_dir):
        return
    for name in os.listdir(tmp_dir):
        if name.startswith("bucket="):
            dst = os.path.join(final_dir, name)
            if os.path.isdir(dst):
                shutil.rmtree(dst)
            os.replace(os.path.join(tmp_dir, name), dst)
    shutil.rmtree(tmp_dir, ignore_errors=True)


def current_index_dir(out_dir: str, version: str | None = None) -> str:
    """Resolve an index version dir: the CURRENT pointer by default, or an
    explicit retained version ("v_NNNN") — snapshot pinning. Published
    versions are immutable (appends/deletions always publish a NEW version
    and swap the pointer), so a pinned version keeps serving exactly the
    results it served when it was CURRENT — the reproducibility handle a
    training-data pipeline needs, and the parquet analog of reading a fixed
    Iceberg snapshot id."""
    if version is not None:
        vdir = os.path.join(out_dir, version)
        if not os.path.isdir(vdir):
            raise FileNotFoundError(f"index version not found: {vdir}")
        return vdir
    with open(os.path.join(out_dir, "CURRENT")) as f:
        return os.path.join(out_dir, f.read().strip())


def list_index_versions(out_dir: str) -> list[str]:
    """All retained version names, oldest first (CURRENT is one of them)."""
    return sorted(
        v
        for v in os.listdir(out_dir)
        if v.startswith("v_") and os.path.isdir(os.path.join(out_dir, v))
    )


def write_tombstones(spark: SparkSession, vdir: str, sources, new=None) -> int:
    """Write ``vdir``'s tombstone table: the distinct union of ``new`` (a
    doc_id frame) and the tombstones of each (version dir, doc-id offset)
    in ``sources``, shifted by the offset (a deletion passes its base at
    0, a merge every shard at its offset). Returns the row count; writes
    nothing and returns 0 when there is nothing to union."""
    parts = [] if new is None else [new]
    for src, off in sources:
        tdir = os.path.join(src, "tombstones")
        if os.path.isdir(tdir):
            parts.append(
                spark.read.parquet(tdir).select(
                    (F.col("doc_id") + F.lit(off)).cast("long").alias("doc_id")
                )
            )
    if not parts:
        return 0
    union = parts[0]
    for p in parts[1:]:
        union = union.unionByName(p)
    dest = os.path.join(vdir, "tombstones")
    union.distinct().write.mode("overwrite").parquet(dest)
    return int(spark.read.parquet(dest).count())


def load_tombstones(vdir: str):
    """Sorted unique doc_ids logically deleted from this index version
    (incremental.delete_conversations). Empty array when none — the common
    case costs one isdir() check. Tombstone cardinality is bounded by
    takedown volume (<< n_docs), so a driver/broadcast copy is the same
    RAM tier as the serving sidecars."""
    import numpy as np

    p = os.path.join(vdir, "tombstones")
    if not os.path.isdir(p):
        return np.empty(0, dtype=np.int64)
    import pyarrow.dataset as pads

    t = pads.dataset(p, format="parquet").to_table(columns=["doc_id"])
    return np.unique(t["doc_id"].to_numpy().astype(np.int64))
