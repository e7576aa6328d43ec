"""Distributed inverted-index build (the Spark rebuild of GenDb).

Pipeline (mirrors GenDb's passes, re-expressed as one Spark DAG with durable
stage boundaries — GenDb.dpr:1315-1352's gendb.progress becomes a lineage
journal + idempotent per-stage reruns):

  stage docs     tokenize every turn (pure JVM column expressions — fold,
                 regexp tokenize, stopword filter, dedup, flags; zero Python),
                 assign dense doc_id over (conv_id, turn_idx), derive per-doc
                 sidecar values (filter byte, host elements, domain rank,
                 backlinks — GenDb.dpr:343-426)
  stage scatter  explode (term, doc_id, flags) and hash-scatter into the 64
                 reference term buckets crc32(term)&63 (GenDb.dpr:349). The
                 shuffle key is (bucket, term-group, doc-range salt) and each
                 output file holds whole (term-group, salt) groups sorted by
                 (term, doc_id) — so this ONE shuffle does all the data
                 movement the segment encoder needs
  stage segments per bucket group: per-term df (lexicon), then shuffle-free
                 stream-encode of the scatter files (runs are already
                 term-contiguous and doc-sorted): delta-gap + varbyte
                 encoding into bounded posting segments, fancy accelerator
                 lists (GenDb.dpr:975-1109), block-max metadata
  stage publish  meta.json + CURRENT pointer → atomic index swap
                 (the ready2.dat dual-path swap, GenDb.dpr:1354-1357)

By default the scatter and segments stages run FUSED (scatterless): the
lexicon df aggregates straight off the staged docs, and the grouped scatter
shuffle feeds the segment encoder in the same job (shuffle → sort-within →
mapInArrow → segment write) without ever materializing the 42M-row scatter
parquet — the build's largest intermediate write+rescan, which
bench/encode_control.py showed is pure non-scaling page-allocation cost on a
shared-memory host. ``fuse_scatter=False`` keeps the staged layout (scatter
files on disk, per-bucket-group encode) for bucket-group-granular resume.

Resumable: each stage (and each bucket group of the staged segments stage)
records a lineage row; rerunning build() skips completed stages and keeps
whichever layout the interrupted build used.
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

# fused-mode encode tasks hold one whole sorted shuffle partition in Arrow;
# this bounds the per-task posting count (~4M rows ≈ 150-200 MB) so worker
# memory stays flat while task count grows with the corpus
FUSED_ROWS_PER_TASK = 4_000_000

# fused-mode term dictionary: when the vocabulary fits under this many
# terms, each posting shuffles an int64 term id (bucket<<26 | rank-within-
# bucket) instead of the term string — smaller shuffle rows, a radix-
# sortable numeric sort key instead of UTF8 byte compares, and the encoder
# recovers strings per SEGMENT (vocabulary-sized work) from a broadcast
# reverse map. Above the cap (driver copy of the vocab would be too big)
# the string layout is used unchanged — output is identical either way.
DICT_VOCAB_MAX = int(os.environ.get("SPARK_GRAFT_DICT_VOCAB_MAX", "2000000"))
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
    rank_lo: int = FANCY_RANK_LO,
    rank_hi: int = FANCY_RANK_HI,
    emit_full: bool = True,
    dict_bc=None,
):
    """mapInArrow factory: encode a task's posting rows into bounded
    self-contained varbyte segments + block-max metadata. One Arrow stream
    per task instead of one applyInPandas call per term: per-group overhead
    disappears and a hot term's salted sub-ranges encode in parallel tasks.

    Input contract (what the scatter layout guarantees): the stream is a
    concatenation of runs, each run = one (term, salt) group's rows sorted
    ascending by doc_id, where salt = trunc(doc_id * n_salts / n_docs)
    assigns disjoint contiguous doc ranges. No global order is assumed —
    file packing/splitting may deliver runs in any order — and two salt
    groups of one term may sit adjacent in one stream (shuffle-key hash
    collision) while the doc range BETWEEN them lives in another task, so a
    run boundary is term change OR salt change OR a non-ascending doc_id
    (the latter covers parquet row-group splits of one run). The salt is
    recomputed here with the same float64 arithmetic as the scatter's JVM
    partition expression, so boundaries match the grouping exactly; this
    keeps every emitted segment internally sorted and all segment
    doc-ranges globally disjoint per (term, kind) — LocalSearcher and the
    block-max pruning rely on that.

    When ``hot_terms_bc`` (a broadcast set) is given, terms in it also emit
    rank-window-filtered 'fancy' accelerator segments (GenDb.dpr:1053-1071)
    from the SAME pass — the posting stream is shuffled and scanned exactly
    once per bucket group instead of once for 'full' plus once for 'fancy'.
    Mirrors GenDb pass 2 (:512-705) and the codec rwi.pas:76-153."""

    cols = [
        "bucket",
        "term",
        "kind",
        "first_doc",
        "last_doc",
        "n",
        "max_static",
        "blob",
    ]

    def encode_partition(iterator):
        # Fully vectorized: ZERO per-run Python. Run/segment boundaries,
        # varbyte encoding (codec.encode_segments), and per-segment metadata
        # (reduceat max, fancy-indexed first/last docs) are each ONE numpy
        # pass over the whole task; the term column never leaves Arrow
        # (pc.take at segment starts) and the blob column is built
        # zero-copy from the concatenated byte stream + offsets. This is
        # what cleared the segments-stage scaling residual: the old
        # per-run emit paid numpy fixed cost + list appends per segment,
        # which dominated because most of the vocabulary has tiny df.
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
        if dict_bc is not None and "tid" in tbl.column_names:
            # dict layout (fused path, vocab under DICT_VOCAB_MAX): the
            # term string never rides the shuffle — tid = bucket<<26 |
            # rank-within-bucket, decoded per segment from the broadcast
            # reverse map (dict_tids sorted ascending, so searchsorted is
            # an exact index)
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
        if "pack" in tbl.column_names:
            # packed layout (fused path): doc_id<<4 | fancy_eligible<<3 |
            # flags — one long instead of (doc_id, flags, rank, bucket),
            # halving the bytes each posting drags through the shuffle and
            # the Arrow materialization. Bucket is recomputed per emitted
            # SEGMENT (vocabulary-sized work) instead of carried per
            # POSTING; fancy eligibility (rank_lo < rank < rank_hi) was
            # folded to one bit JVM-side before the shuffle.
            pack = tbl.column("pack").chunk(0).to_numpy()
            docs = pack >> 4
            flags = (pack & 7).astype(np.int64)
            fancy_ok = (pack & 8) != 0
            ranks = None
            buckets = None
        else:
            docs = tbl.column("doc_id").chunk(0).to_numpy()
            flags = tbl.column("flags").chunk(0).to_numpy().astype(np.int64)
            buckets = tbl.column("bucket").chunk(0).to_numpy()
            fancy_ok = None
            ranks = (
                tbl.column("rank").chunk(0).to_numpy().astype(np.int64)
                if "rank" in tbl.column_names
                else None
            )
        # run boundary = term change OR salt change OR non-ascending doc_id
        # (see the input contract above). A "run_salt" input column overrides
        # the computed salt: merge.py's fancy rebuild feeds disjoint
        # doc-range holes whose boundaries the global salt formula cannot
        # see — two holes of one term in one task would otherwise fuse into
        # a segment spanning ranges already covered by linked fancy
        # segments, breaking per-(term, kind) range disjointness.
        if "run_salt" in tbl.column_names:
            salts = tbl.column("run_salt").chunk(0).to_numpy().astype(np.int64)
        else:
            salts = np.trunc(docs * n_salts / n_docs).astype(np.int64)
        start_mask = np.empty(n, dtype=bool)
        start_mask[0] = True
        start_mask[1:] = (docs[1:] <= docs[:-1]) | (salts[1:] != salts[:-1])
        if n > 1:
            if terms is None:
                start_mask[1:] |= tids[1:] != tids[:-1]
            else:
                start_mask[1:] |= pc.not_equal(
                    terms.slice(1), terms.slice(0, n - 1)
                ).to_numpy(zero_copy_only=False)
        run_starts = np.flatnonzero(start_mask)
        run_id = np.cumsum(start_mask) - 1

        def emit_batches(d, f, st, bk, rid, abs_idx, kind):
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
                    if bk is None:
                        # packed layout: bucket = crc32(term) % 64,
                        # recomputed at segment granularity (same parity as
                        # the JVM F.crc32 expression — zlib.crc32 over
                        # UTF-8 bytes)
                        bk_seg = np.fromiter(
                            (
                                zlib.crc32(t.encode("utf-8")) % N_TERM_BUCKETS
                                for t in seg_terms.to_pylist()
                            ),
                            dtype=np.int32,
                            count=b - a,
                        )
                    else:
                        bk_seg = bk[ss].astype(np.int32, copy=False)
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
            yield from emit_batches(
                docs, flags, statics, buckets, run_id, None, "full"
            )
        hot_any = bool(hot) or (hot_tids is not None and hot_tids.size > 0)
        if (ranks is not None or fancy_ok is not None) and hot_any:
            if terms is None:
                run_hot = np.isin(tids[run_starts], hot_tids)
            else:
                run_hot = pc.is_in(
                    pc.take(terms, pa.array(run_starts)),
                    options=pc.SetLookupOptions(
                        value_set=pa.array(sorted(hot))
                    ),
                ).to_numpy(zero_copy_only=False)
            eligible = (
                fancy_ok
                if ranks is None
                else (ranks > rank_lo) & (ranks < rank_hi)
            )
            fidx = np.flatnonzero(run_hot[run_id] & eligible)
            if fidx.size:
                yield from emit_batches(
                    docs[fidx],
                    flags[fidx],
                    statics[fidx],
                    None if buckets is None else buckets[fidx],
                    run_id[fidx],
                    fidx,
                    "fancy",
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


# Measured bracket (BENCH_CLUSTER.md heap study): 2.0 GiB/core spills the
# fused shuffle (4g/2-core executors lose to staged), 4.0 GiB/core wins
# outright (8g/2-core sets the records) — the knee is placed between them.
FUSE_MIN_GIB_PER_CORE = 3.0


def _mem_gib(mem: str) -> float:
    """Parse a Spark memory string ('4g', '4096m', '2048k', bytes)."""
    m = str(mem).strip().lower()
    mult = {"k": 1 / (1024 * 1024), "m": 1 / 1024, "g": 1.0, "t": 1024.0}
    if m and m[-1] in mult:
        return float(m[:-1]) * mult[m[-1]]
    return float(m) / (1024**3)


def default_fuse_scatter(master: str, executor_memory: str, executor_cores) -> bool:
    """Pick the build layout from the deployment shape: the fused
    scatterless path holds the full posting shuffle + in-partition sort
    in executor memory, which the cluster heap study (BENCH_CLUSTER.md)
    showed spills at 2 GiB per executor core and wins outright at 4 —
    below the knee the staged write-then-rescan layout is faster.
    local[*] masters run
    one big driver-sized JVM where the fused path measured neutral-to-
    better, so they stay fused."""
    if str(master).startswith("local"):
        return True
    try:
        per_core = _mem_gib(executor_memory) / max(int(executor_cores), 1)
    except (ValueError, TypeError):
        return True
    return per_core >= FUSE_MIN_GIB_PER_CORE


def build_index(
    spark: SparkSession,
    transcripts: DataFrame,
    out_dir: str,
    *,
    fancy_threshold: int = FANCY_DF_THRESHOLD,
    seg_size: int = SEGMENT_SIZE,
    n_salts: int = 8,
    bucket_groups: int = 4,
    doc_id_offset: int = 0,
    io=None,
    ignore_hosts=None,
    drop_quote_urls: bool = False,
    index_gate: str | None = None,
    info_df_threshold: int = INFO_DF_THRESHOLD,
    fuse_scatter: bool | None = None,
    positions: bool = False,
) -> dict:
    """Build (or resume) the index under ``out_dir`` and atomically publish.

    ``io`` (a tableio.TableIO) is the storage seam for the PUBLISHED tables
    (docmeta/lexicon/postings) and the atomic generation publish — Iceberg
    when its runtime + a catalog are configured, parquet dirs + CURRENT
    pointer otherwise. Stage checkpoints (stage_docs/stage_postings and the
    per-group tmp dirs) are transient scratch and always live on the
    filesystem — they are the resume granularity, not the published state.

    Returns the build metrics dict (postings/sec, bytes, per-stage walls).
    """
    from .tableio import TableIO

    io = io or TableIO(spark)
    os.makedirs(out_dir, exist_ok=True)
    version = _pending_version(out_dir)
    vdir = os.path.join(out_dir, version)
    os.makedirs(vdir, exist_ok=True)
    lin = Lineage(os.path.join(vdir, "_lineage.jsonl"))
    metrics: dict = {"version": version}

    stage_docs = os.path.join(vdir, "stage_docs")
    stage_postings = os.path.join(vdir, "stage_postings")
    docmeta_dir = os.path.join(vdir, "docmeta")
    lexicon_dir = os.path.join(vdir, "lexicon")
    postings_dir = os.path.join(vdir, "postings")

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

    # ---- stage scatter (GenDb G2: 64-way term scatter) ---------------------
    # Shuffle key (bucket, tgrp, salt): tgrp spreads a bucket's vocabulary
    # over tasks, salt = contiguous doc-range splits hot terms WITHOUT
    # needing their df (no join against the postings stream). Because every
    # (bucket, tgrp, salt) group lands wholly inside one shuffle partition
    # and files are sorted by (term, doc_id), the scatter output already
    # satisfies the segment encoder's input contract — the segments stage
    # needs NO further shuffle or sort. The keys are hash expressions only
    # (never materialized as columns).
    nparts = max(spark.sparkContext.defaultParallelism * 2, 8)
    # encoder-group count (64 buckets × n_tgrp × n_salts) must comfortably
    # exceed the task count for load balance — grow the vocabulary fan-out
    # with the cluster (stays 8 below ~1024 cores, so local runs and tests
    # are unaffected)
    n_tgrp = max(8, nparts * 4 // (N_TERM_BUCKETS * max(n_salts, 1)) + 1)
    # a universal term's per-salt run is ~n_docs/n_salts postings; grow the
    # salt count so no single encode task ever holds more than ~256 segments
    # of one term (no-op below ~8M docs with the default seg_size). Recorded
    # in lineage so the encoder always splits on exactly the grouping the
    # scatter used, even on resume with changed args.
    eff_salts = max(n_salts, n_docs // (seg_size * 256) + 1)

    def _posting_stream(packed: bool = False) -> DataFrame:
        """Exploded posting rows with folded static score — the input of
        BOTH segment paths (staged scatter write / fused shuffle).

        ``packed=False`` (staged layout): (bucket, term, doc_id, flags,
        static, rank) — the on-disk scatter format, resumable per bucket
        group, parquet-stat-prunable by term.

        ``packed=True`` (fused shuffle): (term, pack, static) where
        pack = doc_id<<4 | fancy_eligible<<3 | flags. The shuffle is the
        build's largest data movement (every posting exactly once); packing
        drops the bucket and rank columns and merges flags into the doc id,
        roughly halving the bytes per posting through shuffle write/read,
        the partition sort, and the Arrow hand-off to the encoder. Bucket
        and fancy eligibility are recovered term-/bit-wise downstream
        (fancy window per FANCY_RANK_LO/HI — the encoder's defaults)."""
        sd = _with_doc_id(
            spark.read.parquet(stage_docs), doc_id_offset, pid_counts
        )
        base = (
            sd.select(
                "doc_id",
                "fd",
                "he",
                "rank",
                "backlinks",
                F.explode(F.arrays_zip("terms", "tflags")).alias("p"),
            )
            .select(
                F.col("p.terms").alias("term"),
                # tinyint: flags are 3 bits — narrower rows through the
                # scatter shuffle and files (the biggest data in the build)
                F.col("p.tflags").cast("tinyint").alias("flags"),
                "doc_id",
                "fd",
                "he",
                "rank",
                "backlinks",
            )
            # fold the four sidecar columns into the single pre-IDF static
            # score while still JVM-side (whole-stage codegen); float32 —
            # it only feeds the max_static pruning bounds (±1 margin)
            .withColumn("static", static_score_col(int(max_bl)).cast("float"))
        )
        if packed:
            eligible = (F.col("rank") > FANCY_RANK_LO) & (
                F.col("rank") < FANCY_RANK_HI
            )
            return base.select(
                "term",
                (
                    F.shiftleft(F.col("doc_id"), 4)
                    + F.when(eligible, F.lit(8)).otherwise(F.lit(0))
                    + F.col("flags").cast("bigint")
                ).alias("pack"),
                "static",
            )
        return base.withColumn(
            "bucket",
            (F.crc32(F.encode(F.col("term"), "UTF-8")) % N_TERM_BUCKETS).cast(
                "int"
            ),
        ).select("bucket", "term", "doc_id", "flags", "static", "rank")

    # Fused mode (default) never materializes the scatter files: the SAME
    # grouped shuffle feeds the segment encoder directly (sort → mapInArrow
    # → segment write in one job), eliminating the build's largest
    # intermediate write+rescan — the component bench/encode_control.py
    # proved is the host's non-scaling page-allocation cost. The staged
    # path remains for bucket-group-granular resume (fuse_scatter=False)
    # and is what a resumed pre-fused build keeps using. On small-memory
    # executors the fused in-job shuffle+sort spills where the staged
    # layout streams through the page cache (measured: BENCH_CLUSTER.md —
    # @4×4g executors fused loses 144 vs 118 s, @8g it wins outright), so
    # the default adapts to executor memory per core.
    if fuse_scatter is not None:
        fused = fuse_scatter
    else:
        fused = default_fuse_scatter(
            spark.conf.get("spark.master", "local"),
            spark.conf.get("spark.executor.memory", "4g"),
            spark.conf.get("spark.executor.cores", "2"),
        )
    if "scatter" in lin.done or any(s.startswith("segments_g") for s in lin.done):
        fused = False
    elif "lexicon" in lin.done or "segments_fused" in lin.done:
        fused = True

    if not fused and "scatter" not in lin.done:
        t0 = time.time()
        (
            _posting_stream().repartition(
                nparts,
                F.col("bucket"),
                F.pmod(F.hash("term"), F.lit(n_tgrp)),
                (F.col("doc_id") * eff_salts / F.lit(max(n_docs, 1))).cast("int"),
            )
            # (term, doc_id)-sorted files: each (tgrp, salt) group is one
            # set of contiguous sorted runs, and parquet row-group min/max
            # stats still prune term probes inside each bucket file.
            # bucket FIRST: partitionBy(bucket) writes require an ordering
            # on the partition column — leading with it makes this sort
            # satisfy that requirement, otherwise V1Writes inserts its own
            # (unstable) sort and scrambles the (term, doc_id) order the
            # segment encoder depends on
            .sortWithinPartitions("bucket", "term", "doc_id")
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(stage_postings)
        )
        lin.record(
            "scatter",
            layout="grouped_v2",
            eff_salts=int(eff_salts),
            wall_s=round(time.time() - t0, 3),
        )
    if not fused:
        scatter_grouped = lin.done["scatter"].get("layout") == "grouped_v2"
        eff_salts = int(lin.done["scatter"].get("eff_salts", eff_salts))

    # ---- fused lexicon + segments (scatterless path) ------------------------
    if fused and "lexicon" not in lin.done:
        t0 = time.time()
        # df per (bucket, term) straight off the staged docs (terms arrays
        # are per-doc-deduped, so count == document frequency) — map-side
        # combinable, output rows ∝ vocabulary. No _with_doc_id join: the
        # lexicon doesn't need doc ids, so the scan prunes to one column.
        lex = (
            spark.read.parquet(stage_docs)
            .select(F.explode("terms").alias("term"))
            .withColumn(
                "bucket",
                (F.crc32(F.encode(F.col("term"), "UTF-8")) % N_TERM_BUCKETS).cast(
                    "int"
                ),
            )
            .groupBy("bucket", "term")
            .agg(F.count("*").alias("df"))
        )
        # same sliver-file story as the segments write: re-key the
        # vocabulary-sized aggregate so each bucket dir holds a few
        # data-sized files instead of one per (agg task, bucket) pair
        lex = lex.repartition(
            F.col("bucket"), F.pmod(F.hash("term"), F.lit(4))
        ).sortWithinPartitions("bucket", "term")
        if io.backend == "parquet":
            lex_tmp = lexicon_dir + "_tmp_fused"
            io.write(lex, lex_tmp, partition_by=["bucket"])
            _move_bucket_dirs(lex_tmp, lexicon_dir)
        else:
            io.write(
                lex,
                lexicon_dir,
                mode="overwrite_partitions",
                partition_by=["bucket"],
            )
        # eff_salts rides the lineage so a resume with changed args still
        # splits encode runs on exactly the grouping this build shuffled
        lin.record(
            "lexicon", eff_salts=int(eff_salts), wall_s=round(time.time() - t0, 3)
        )
    if fused:
        eff_salts = int(lin.done["lexicon"].get("eff_salts", eff_salts))
    if fused and "segments_fused" not in lin.done:
        t0 = time.time()
        # one driver copy of the lexicon decides the shuffle layout: under
        # DICT_VOCAB_MAX terms, postings shuffle an int64 term id instead
        # of the term string (smaller rows, radix-sortable key) and the
        # same copy yields the hot-term set; above the cap, the string
        # layout + a hot-term collect (both re-derivable on resume)
        lex_df = io.read(lexicon_dir).select("bucket", "term", "df")
        # parquet backend: the vocabulary already sits on disk in
        # hive-partitioned parquet — a footer-metadata count and (under the
        # cap) a direct local columnar read replace the count() job and the
        # toArrow() collect job (guide §5: two fewer driver-blocking Spark
        # jobs per build; the serving tier reads these dirs the same way)
        lex_ds = None
        if io.backend == "parquet":
            import pyarrow.dataset as pads

            lex_ds = pads.dataset(lexicon_dir, partitioning="hive")
            vocab_n = lex_ds.count_rows()
        else:
            vocab_n = lex_df.count()
        dict_bc = None
        hot_bc = None
        tid_dim = None
        if 0 < vocab_n <= DICT_VOCAB_MAX:
            import pyarrow as pa
            import pyarrow.compute as pc

            if lex_ds is not None:
                ltbl = lex_ds.to_table(
                    columns=["bucket", "term", "df"]
                ).combine_chunks()
            else:
                ltbl = lex_df.toArrow().combine_chunks()
            order = pc.sort_indices(
                ltbl,
                sort_keys=[("bucket", "ascending"), ("term", "ascending")],
            )
            ltbl = ltbl.take(order).combine_chunks()
            bks = ltbl.column("bucket").chunk(0).to_numpy().astype(np.int64)
            dfs = ltbl.column("df").chunk(0).to_numpy()
            terms_arr = ltbl.column("term").chunk(0)
            # rank within bucket: arange minus each bucket run's start
            starts = np.flatnonzero(
                np.concatenate(([True], bks[1:] != bks[:-1]))
            )
            run_ix = np.cumsum(
                np.concatenate(([True], bks[1:] != bks[:-1]))
            ) - 1
            seq = np.arange(len(bks), dtype=np.int64) - starts[run_ix]
            tids = (bks << DICT_BUCKET_BITS) | seq
            dict_bc = spark.sparkContext.broadcast(
                {
                    "tids": tids,
                    "terms": terms_arr,
                    "hot_tids": tids[dfs > fancy_threshold],
                }
            )
            tid_dim = spark.createDataFrame(
                pd.DataFrame(
                    {"term": terms_arr.to_pylist(), "tid": tids}
                )
            )
        else:
            hot_terms = frozenset(
                r["term"]
                for r in lex_df.where(F.col("df") > fancy_threshold)
                .select("term")
                .collect()
            )
            hot_bc = (
                spark.sparkContext.broadcast(hot_terms) if hot_terms else None
            )
        encode_fn = _encode_partition_fn(
            seg_size,
            eff_salts,
            max(n_docs, 1),
            hot_terms_bc=hot_bc,
            dict_bc=dict_bc,
        )
        # each task Arrow-materializes its whole sorted shuffle partition —
        # bound the per-task posting count so worker memory stays flat as
        # the corpus grows (tasks scale out, not up)
        nparts_f = max(nparts, int(total_postings) // FUSED_ROWS_PER_TASK + 1)
        salt_expr = (
            F.shiftright(F.col("pack"), 4) * eff_salts / F.lit(max(n_docs, 1))
        ).cast("int")
        if dict_bc is not None:
            # dict rows: (tid, pack, static) — the broadcast hash join maps
            # term→tid JVM-side before the shuffle; bucket rides in the
            # tid's high bits so every grouping key is a numeric expression
            stream = (
                _posting_stream(packed=True)
                .join(F.broadcast(tid_dim), "term")
                .select("tid", "pack", "static")
                .repartition(
                    nparts_f,
                    F.shiftright(F.col("tid"), DICT_BUCKET_BITS),
                    F.pmod(F.hash("tid"), F.lit(n_tgrp)),
                    salt_expr,
                )
                # tid groups runs; pack ascending == doc_id ascending (doc
                # id occupies the high bits; each (term, doc) is unique)
                .sortWithinPartitions("tid", "pack")
            )
        else:
            # packed rows: same grouping keys as the staged scatter (bucket
            # and salt recomputed from term / pack>>4 inside the
            # repartition expressions), but each posting carries one long +
            # one float + the term instead of six columns
            stream = (
                _posting_stream(packed=True)
                .repartition(
                    nparts_f,
                    (
                        F.crc32(F.encode(F.col("term"), "UTF-8"))
                        % N_TERM_BUCKETS
                    ).cast("int"),
                    F.pmod(F.hash("term"), F.lit(n_tgrp)),
                    salt_expr,
                )
                .sortWithinPartitions("term", "pack")
            )
        # segment rows are ~8× smaller than the posting stream that produced
        # them, but a partitionBy(bucket) write straight off the encode tasks
        # emits one sliver file per (task, bucket) pair — 2620 × 7 KB at
        # bench scale, O(nparts_f × 64) tiny files at 100 TB. One cheap
        # re-key of the ENCODED rows bounds the output layout: ~4 term
        # slices per bucket, files sized by data not by task count (guide
        # §6.2 — compact on write; the extra exchange moves only the
        # compressed segments, never the raw postings).
        seg_slices = max(4, nparts_f // 16)
        encoded = (
            stream.mapInArrow(encode_fn, schema=SEGMENTS_SCHEMA)
            # no explicit partition count: AQE coalesces the re-key by
            # advisory size, so file count tracks DATA volume at any scale
            .repartition(
                F.col("bucket"), F.pmod(F.hash("term"), F.lit(seg_slices))
            )
            .sortWithinPartitions("bucket", "term", "first_doc")
        )
        if io.backend == "parquet":
            seg_tmp = postings_dir + "_tmp_fused"
            io.write(encoded, seg_tmp, partition_by=["bucket"])
            _move_bucket_dirs(seg_tmp, postings_dir)
        else:
            io.write(
                encoded,
                postings_dir,
                mode="overwrite_partitions",
                partition_by=["bucket"],
            )
        if hot_bc is not None:
            hot_bc.unpersist()
        if dict_bc is not None:
            dict_bc.unpersist()
        lin.record(
            "segments_fused",
            dict_encoded=dict_bc is not None,
            wall_s=round(time.time() - t0, 3),
        )

    # ---- stage segments, per bucket group ----------------------------------
    # One streaming pass per task cuts exact segments — full AND fancy kinds
    # in the same pass (hot-term set broadcast from the lexicon job). The
    # scatter files already group and sort the stream, so this stage is
    # shuffle-free: scan → encode → write. (A resumed pre-v2 scatter layout
    # gets the legacy re-shuffle + sort instead.)
    groups = (
        []
        if fused
        else [
            list(range(g, N_TERM_BUCKETS, bucket_groups))
            for g in range(bucket_groups)
        ]
    )
    # encode parallelism is set by file packing/splitting of the scatter
    # read — size read partitions so each bucket group fans out to ~nparts
    # tasks (row-group splits of one file are safe: the encoder's boundary
    # rule handles them). Restored after the loop.
    scatter_bytes = 0
    if os.path.isdir(stage_postings):
        for r, _, fs in os.walk(stage_postings):
            scatter_bytes += sum(
                os.path.getsize(os.path.join(r, f))
                for f in fs
                if f.endswith(".parquet")
            )
    read_part_bytes = max(
        4 << 20, scatter_bytes // max(nparts * len(groups), 1)
    )
    prev_mpb = spark.conf.get("spark.sql.files.maxPartitionBytes", None)

    def _legacy_regroup(df_):
        return df_.repartition(
            nparts,
            F.col("bucket"),
            F.pmod(F.hash("term"), F.lit(n_tgrp)),
            (F.col("doc_id") * eff_salts / F.lit(max(n_docs, 1))).cast("int"),
        ).sortWithinPartitions("term", "doc_id")

    spark.conf.set("spark.sql.files.maxPartitionBytes", str(read_part_bytes))
    try:
        for gi, buckets in enumerate(groups):
            step = f"segments_g{gi}"
            if step in lin.done:
                continue
            t0 = time.time()
            pg = spark.read.parquet(stage_postings).where(
                F.col("bucket").isin(buckets)
            )
            seg_tmp = postings_dir + f"_tmp_g{gi}"
            lex_tmp = lexicon_dir + f"_tmp_g{gi}"

            # lexicon first: per-term df is a map-side-combined hash
            # aggregate over the scatter files (output rows ∝ vocabulary,
            # not postings). persist → hot-term collect and the write share
            # ONE aggregation, and nothing re-reads the tmp dir (which is
            # schema-less when a group happens to hold zero postings —
            # gated/tiny corpora).
            lex = (
                pg.groupBy("bucket", "term").agg(F.count("*").alias("df")).persist()
            )
            # hot terms (df > threshold) get fancy accelerator lists
            # (GenDb.dpr:1053-1071). Hot terms are few BY DEFINITION (each
            # holds > threshold postings, so there are < n_postings/threshold
            # of them) — a broadcast set lets the encode workers emit full +
            # rank-filtered fancy segments from the same sorted stream.
            hot_terms = frozenset(
                r["term"]
                for r in lex.where(F.col("df") > fancy_threshold)
                .select("term")
                .collect()
            )
            if io.backend == "parquet":
                # per-group tmp dir + idempotent bucket-dir move (a crashed
                # group rerun overwrites its tmp, never the published dir)
                io.write(
                    lex.sortWithinPartitions("bucket", "term"),
                    lex_tmp,
                    partition_by=["bucket"],
                )
            else:
                # iceberg: identity-partition on the engine's crc32 bucket
                # column, NOT the bucket(64, term) transform — iceberg's
                # murmur buckets of term do not align with the crc32 groups,
                # so a group's dynamic partition overwrite would clobber
                # other groups' rows sharing an iceberg bucket. Identity
                # partitions are disjoint per group (idempotent under
                # resume) and prune the same bucket == b probe predicates.
                io.write(
                    lex.sortWithinPartitions("bucket", "term"),
                    lexicon_dir,
                    mode="overwrite_partitions",
                    partition_by=["bucket"],
                )
            lex.unpersist()
            hot_bc = spark.sparkContext.broadcast(hot_terms) if hot_terms else None
            encode_fn = _encode_partition_fn(
                seg_size, eff_salts, max(n_docs, 1), hot_terms_bc=hot_bc
            )

            # one shuffle-free pass: scan the pre-grouped scatter files and
            # stream-encode. Output sorted within files by (term, first_doc):
            # parquet row-group min/max stats then prune term probes inside
            # each bucket file
            stream = pg if scatter_grouped else _legacy_regroup(pg)
            encoded = stream.mapInArrow(
                encode_fn, schema=SEGMENTS_SCHEMA
            ).sortWithinPartitions("bucket", "term", "first_doc")
            if io.backend == "parquet":
                io.write(encoded, seg_tmp, partition_by=["bucket"])
                # idempotent move of finished bucket dirs into place
                _move_bucket_dirs(seg_tmp, postings_dir)
                _move_bucket_dirs(lex_tmp, lexicon_dir)
            else:
                # identity bucket partitions (see the lexicon write above)
                io.write(
                    encoded,
                    postings_dir,
                    mode="overwrite_partitions",
                    partition_by=["bucket"],
                )
            if hot_bc is not None:
                hot_bc.unpersist()
            lin.record(step, buckets=buckets, wall_s=round(time.time() - t0, 3))
    finally:
        if prev_mpb is not None:
            spark.conf.set("spark.sql.files.maxPartitionBytes", prev_mpb)
        else:
            spark.conf.unset("spark.sql.files.maxPartitionBytes")

    # ---- publish ------------------------------------------------------------
    if "publish" not in lin.done:
        t0 = time.time()
        if io.backend == "parquet" and not os.path.isdir(postings_dir):
            # fully-gated / empty corpus: publish a valid empty generation
            seg_stats = {"bytes": 0, "postings": 0, "segments": 0}
            os.makedirs(postings_dir, exist_ok=True)
            os.makedirs(lexicon_dir, exist_ok=True)
            unique_words, word_occurrences, high_df = 0, 0, []
        else:
            seg_stats = (
                io.read(postings_dir)
                .agg(
                    F.coalesce(F.sum(F.length("blob")), F.lit(0)).alias("bytes"),
                    F.coalesce(
                        F.sum(F.when(F.col("kind") == "full", F.col("n"))), F.lit(0)
                    ).alias("postings"),
                    F.count("*").alias("segments"),
                )
                .collect()[0]
            )
            unique_words, word_occurrences, high_df = lexicon_stats(
                lexicon_dir,
                info_df_threshold,
                lambda: io.read(lexicon_dir),
                local=io.backend == "parquet",
            )
        write_info_txt(vdir, unique_words, word_occurrences, high_df)
        meta = {
            "n_docs": int(n_docs),
            "max_backlinks": int(max_bl),
            "n_postings": int(total_postings),
            "compressed_bytes": int(seg_stats["bytes"]),
            "n_segments": int(seg_stats["segments"]),
            "fancy_threshold": fancy_threshold,
            "seg_size": seg_size,
            "n_salts": int(eff_salts),
            "n_buckets": N_TERM_BUCKETS,
            "unique_words": unique_words,
            "word_occurrences": word_occurrences,
            "high_df_terms": [[t, d] for t, d in high_df],
        }
        with open(os.path.join(vdir, "meta.json"), "w") as f:
            json.dump(meta, f, indent=1)
        lin.record("publish", wall_s=round(time.time() - t0, 3), **{
            "bytes": int(seg_stats["bytes"])
        })
        # atomic generation publish — CURRENT-pointer swap (ready2.dat
        # analog) on parquet, snapshot/version table on iceberg
        io.publish(out_dir, version)

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
    with open(os.path.join(vdir, "meta.json")) as f:
        metrics["compressed_bytes"] = json.load(f)["compressed_bytes"]
    metrics["lineage"] = os.path.join(vdir, "_lineage.jsonl")
    return metrics


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
    with open(os.path.join(vdir, "info.txt"), "w") as f:
        for term, df_ in sorted(high_df, key=lambda x: x[0]):
            f.write(f"{df_:10d} {term}\n")
        f.write(f"UniqueWords={unique_words}\n")
        f.write(f"WordOccurences={word_occurrences}\n")


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
    off = spark.createDataFrame(rows, ["_pid", "_off"])
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
