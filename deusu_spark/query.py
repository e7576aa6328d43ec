"""Distributed query engine: partition-pruned segment reads → vectorized
varbyte decode → docmeta join → saturating score aggregation → top-k.

Spark mapping of searchservernew.dpr's FindKeys/GenResults lifecycle
(SURVEY §3.1): the per-term sequential bitfield intersection becomes one
declarative plan — union of per-term decoded postings, groupBy(doc_id) with
an all-terms-present filter, left-anti join for NOTs, orderBy/limit top-k —
so Catalyst/AQE pick the physical strategy and nothing funnels through the
driver.

Scale levers (all exercised even though tests run on local[32]):
  - bucket+term predicate pushdown into the parquet/Iceberg scan (the
    crc32&63 partition layout mirrors keys00..63, GenDb.dpr:349)
  - segment metadata (first_doc/last_doc/n/max_static) is read without blobs
    (column pruning) and is BOUNDED on the driver: it is aggregated
    distributedly into doc-range blocks of n_docs/4096 (two-level metadata
    — identity on small corpora, <= ~4096 rows per term at any df), cached
    per term, so a df≈10^11 hot term never ships millions of rows
  - pruning decisions reach the scan as <= 64 (first_doc, last_doc) range
    predicates — never multi-megabyte isin literals — so parquet row-group
    min/max stats prune inside each bucket file:
      * AND queries: doc-range interval intersection across terms — only
        segments overlapping every term's coverage are decoded
      * single-term queries: block-max pruning — segments whose score upper
        bound cannot reach the current top-k threshold are never decoded
      * multi-term AND: block-max WAND — per-range summed score bounds;
        phase A decodes the highest-bound ranges to establish θ, phase B
        decodes every range whose bound can still reach θ (exact: bounds
        are true maxima, the margin covers JVM/numpy log rounding drift,
        and a thin phase A falls back to the full intersection)
  - two-pass fancy-hits execution (searchservernew.dpr:1836-1855): pass 1
    reads the rank-filtered accelerator lists, falls back to full postings
    when fewer than 1000 results — block-max WAND's semantic ancestor
    (GenDb.dpr:975-1109)
"""

from __future__ import annotations

import json
import os
import threading

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import codec
from .build import current_index_dir, static_scores
from .constants import (
    DEFAULT_WEIGHTS,
    FANCY_RANK_HI,
    FANCY_RANK_LO,
    MAX_RESULTS,
    SCORE_CLAMP,
)
from .queryplan import PlanTerm, compile_query
from .synth import crc32
from .textproc import fold

DECODED_SCHEMA = T.StructType(
    [
        T.StructField("ti", T.IntegerType()),
        T.StructField("doc_id", T.LongType()),
        T.StructField("flags", T.IntegerType()),
    ]
)

SCORED_SCHEMA = T.StructType(
    [
        T.StructField("ti", T.IntegerType()),
        T.StructField("doc_id", T.LongType()),
        T.StructField("score", T.DoubleType()),
    ]
)


class SearchEngine:
    def __init__(
        self,
        spark: SparkSession,
        index_root: str,
        io=None,
        version: str | None = None,
    ):
        """``version`` pins a retained snapshot ("v_NNNN") instead of the
        CURRENT pointer — published versions are immutable, so a pinned
        engine reproduces that snapshot's results regardless of later
        appends or takedowns (the Iceberg snapshot-id read, on parquet)."""
        from .tableio import TableIO

        self.spark = spark
        self.io = io or TableIO(spark)
        self.vdir = current_index_dir(index_root, version)
        with open(os.path.join(self.vdir, "meta.json")) as f:
            self.meta = json.load(f)
        self.docmeta = self.io.read(os.path.join(self.vdir, "docmeta"))
        self.lexicon = self.io.read(os.path.join(self.vdir, "lexicon"))
        self.postings = self.io.read(os.path.join(self.vdir, "postings"))
        # score-side docmeta join strategy threshold (also used just below
        # for the cache layout): under the cap the sidecars broadcast /
        # live python-side; above it the sort-merge join stands — docmeta
        # cannot broadcast at 10^12 docs
        self.docmeta_broadcast_max_docs = int(
            os.environ.get("SPARK_GRAFT_DOCMETA_BCAST_MAX", "8000000")
        )
        dmc = self.docmeta.select(
            "doc_id", "fd", "he", "rank", "backlinks", "dl"
        )  # the reference's in-RAM sidecar vectors (LoadCacheData)
        if int(self.meta["n_docs"]) > self.docmeta_broadcast_max_docs:
            # at-scale SMJ regime: cache docmeta already hash-partitioned
            # and sorted on the join key, so each batch's sidecar join
            # elides the docmeta-side exchange+sort and only shuffles the
            # decoded stream (measured −10% on the 24-batch at 10M docs;
            # the one-time shuffle is paid at first use of the cache)
            n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
            dmc = dmc.repartition(n_part, "doc_id").sortWithinPartitions(
                "doc_id"
            )
        self._docmeta_cols = dmc.cache()
        self.lexicon = self.lexicon.cache()
        self._avgdl: float | None = None
        # metadata is ALWAYS block-aggregated (two-level, bounded at any
        # df); setting this falsy is the test hook that forces visibly
        # coarse blocks even on tiny corpora (granularity-independence)
        self.driver_meta_cap = 100_000
        # pruning decisions reach the scan as at most this many range
        # predicates (coarsened supersets beyond that — correct, less tight)
        self.max_range_predicates = 64
        # batch mode shares one scan across every query's terms: the TOTAL
        # interval-predicate budget across all (term, kind) keys is capped
        # (4× the per-term cap) and split evenly, so the predicate tree —
        # and Catalyst's time optimizing it — stays bounded no matter how
        # many queries are batched (coarsening is always a correct superset)
        self.max_range_predicates_batch_total = 4 * self.max_range_predicates
        self._sidecar_bc = None  # lazy python-side sidecars (_sidecars_py)
        self.last_stats: dict = {}
        # logical deletions (incremental.delete_conversations): a sorted
        # doc_id array broadcast into every decode task — masking at decode
        # keeps every downstream count / WAND theta / two-pass decision
        # consistent with the serving engine on the same tombstoned index
        from .build import load_tombstones

        tomb = load_tombstones(self.vdir)
        self._tomb_bc = (
            spark.sparkContext.broadcast(tomb) if len(tomb) else None
        )
        self._tomb_df = (
            self.io.read(os.path.join(self.vdir, "tombstones"))
            if os.path.isdir(os.path.join(self.vdir, "tombstones"))
            else None
        )
        # per-term metadata cache (the searchserver analog of LoadCacheData's
        # in-RAM lexicon): one Spark job fetches a query's unseen terms —
        # df derivation, fancy decisions, and BOTH passes reuse it, so a
        # query costs one metadata job instead of three, zero when warm
        self._term_meta: dict[str, pd.DataFrame] = {}
        self._term_meta_max = 50_000  # bound the driver cache
        # search_many runs the fancy and full passes on two threads; the
        # cache dict (incl. its capacity clear()) must not be read between
        # another thread's fetch and its reads — _fetch_term_meta returns
        # the requested frames directly and guards all cache mutation
        self._term_meta_lock = threading.RLock()
        # multi-term WAND pays 2-3 plan executions; below this many
        # intersection-surviving postings a single unpruned pass wins
        self.wand_min_postings = 500_000

    @property
    def avgdl(self) -> float:
        if self._avgdl is None:
            self._avgdl = float(
                self.docmeta.agg(F.avg("dl")).collect()[0][0] or 1.0
            )
        return self._avgdl

    # -- lexicon probe ------------------------------------------------------
    def term_df(self, term: str) -> int:
        """df through the same cached term-metadata fetch compile() uses —
        one source of truth (round-2 review: the old lexicon collect was a
        second, cache-bypassing path)."""
        sub = self._fetch_term_meta([term]).get(term)
        if sub is None or sub.empty:
            return 0
        return int(sub[sub["kind"] == "full"]["n"].sum())

    def _suggest_rows(self, t: str) -> list[tuple[str, int]]:
        """ALL verified edit-distance<=1 lexicon terms for a folded term
        with their df — one bounded Spark job: the scan prunes to the
        ±1-length band, the SymSpell deletion-neighborhood test is an
        arrays_overlap against the query's own ≤len+1 keys (JVM column
        expressions, no explode join needed at query time), and the exact
        verify is the built-in levenshtein. Un-truncated so a federation
        coordinator can rank by GLOBAL df (query_local._suggest_candidates
        is the serving twin)."""
        qkeys = sorted({t[:i] + t[i + 1:] for i in range(len(t))} | {t})
        lex = (
            self.lexicon.where(
                (F.length("term") >= len(t) - 1)
                & (F.length("term") <= len(t) + 1)
            )
            .groupBy("term")
            .agg(F.max("df").alias("df"))
        )
        term_keys = F.array_union(
            F.array(F.col("term")),
            F.transform(
                F.sequence(F.lit(1), F.length("term")),
                lambda i: F.concat(
                    F.substring(F.col("term"), F.lit(1), i - 1),
                    F.col("term").substr(i + 1, F.length("term")),
                ),
            ),
        )
        cand = lex.where(
            F.arrays_overlap(
                term_keys, F.array(*[F.lit(x) for x in qkeys])
            )
            & (F.levenshtein(F.lit(t), F.col("term")) <= 1)
        )
        return [(r["term"], int(r["df"])) for r in cand.collect()]

    def suggest(self, term: str, k: int = 3) -> list[str]:
        """Distributed did-you-mean twin of LocalSearcher.suggest: [] for
        an empty or in-vocabulary term, else the SymSpell candidates
        ranked by (-df, term) — identical output to the serving engine on
        the same index (tested)."""
        t = fold(term.lower()) if term else term
        if not t or self.term_df(t) > 0:
            return []
        scored = sorted(self._suggest_rows(t), key=lambda x: (-x[1], x[0]))
        return [c for c, _ in scored[:k]]

    def _fetch_term_meta(self, keys: list[str]) -> dict[str, pd.DataFrame]:
        """One bucket/term-pruned metadata job for every unseen key (both
        kinds, no blobs), ALWAYS through the two-level doc-range-block
        aggregation: block size n_docs/4096 means a block row degenerates to
        exactly one segment on small corpora (block smaller than any
        segment span) and caps a df≈10^11 term at ~4096 rows on huge ones —
        the driver copy is bounded at every scale with one code path. df is
        exact at any granularity (n sums are preserved). Every pruning
        consumer treats rows as coverage+bound, so coarser rows only loosen
        pruning, never correctness.

        driver_meta_cap=0 is the test hook that forces visibly-coarse
        blocks even on a tiny corpus (pins granularity-independence).

        Returns the requested frames as {key: frame} so concurrent callers
        never re-read the shared (clearable) cache after releasing the
        lock; the Spark job itself runs unlocked (two threads fetching
        disjoint terms overlap; a duplicate fetch is harmless)."""
        with self._term_meta_lock:
            out = {
                k: self._term_meta[k] for k in keys if k in self._term_meta
            }
        missing = sorted(set(keys) - out.keys())
        if not missing:
            return out
        cond = None
        for t in missing:
            c = (F.col("bucket") == crc32(t) % 64) & (F.col("term") == t)
            cond = c if cond is None else (cond | c)
        n_docs = int(self.meta["n_docs"])
        blk = max(1, n_docs // 4096)
        if not self.driver_meta_cap:
            blk = max(blk, n_docs // 64, 1)
        pdf = (
            self.postings.where(cond)
            .select("term", "kind", "first_doc", "last_doc", "n", "max_static")
            .groupBy(
                "term", "kind", (F.floor(F.col("first_doc") / blk)).alias("_b")
            )
            .agg(
                F.min("first_doc").alias("first_doc"),
                F.max("last_doc").alias("last_doc"),
                F.sum("n").cast("int").alias("n"),
                F.max("max_static").alias("max_static"),
            )
            .drop("_b")
            .toPandas()
        )
        with self._term_meta_lock:
            if len(self._term_meta) + len(missing) > self._term_meta_max:
                self._term_meta.clear()
            for t in missing:
                sub = pdf[pdf["term"] == t].reset_index(drop=True)
                self._term_meta[t] = sub
                out[t] = sub
        return out

    def compile(self, query: str) -> list[PlanTerm]:
        # prefetch all candidate terms' metadata with ONE pruned job; df
        # derives from the full-kind row counts (sum n)
        from .queryplan import host_of, parse_query

        cands = set()
        for kw in parse_query(query):
            key = kw[1:] if kw[:1] in "+-" else kw
            if host_of(key) is None and ":" not in key:
                cands.add(key)
        self._fetch_term_meta(sorted(cands))  # ONE job; term_df is then warm
        return compile_query(query, self.meta["n_docs"], self.term_df)

    def explain(self, query: str) -> dict:
        """Query EXPLAIN: the compiled plan + physical decisions as plain
        data (shared shape across engines — queryplan.explain_plan)."""
        from .queryplan import explain_plan

        return explain_plan(
            query,
            self.compile(query),
            self.meta["n_docs"],
            self.meta["fancy_threshold"],
        )

    # -- public API ----------------------------------------------------------
    def search(
        self,
        query: str,
        k: int = 10,
        weights: dict[str, int] | None = None,
        prune: bool = True,
        mode: str = "deusu",
    ) -> list[tuple[int, int]]:
        """Top-k [(doc_id, score)] by (score desc, doc_id asc).

        mode='deusu': the reference scoring formula (SURVEY §2.6), integer
        scores, rank-identical to the oracle. mode='bm25': textbook
        BM25(k1=1.2, b=0.75) with binary TF and dl = body token count (the
        reference computes WordCount but discards it, SURVEY §2.6) — single
        full-postings pass, float scores.
        """
        w = dict(DEFAULT_WEIGHTS)
        if weights:
            w.update(weights)
        terms = self.compile(query)
        if not terms:
            return []
        # block-max bounds are computed for default deusu weights at build
        prune = prune and w == DEFAULT_WEIGHTS and mode == "deusu"

        if mode == "bm25":
            rows, _ = self._run_pass(
                terms, k, w, use_fancy=False, prune=False,
                need_count=False, mode="bm25",
            )
            return [(d, round(s, 6)) for d, s in rows[:k]]

        fancy_terms = [
            t
            for t in terms
            if t.host is None and t.df > self.meta["fancy_threshold"]
        ]
        if fancy_terms and not self._fancy_provably_underfills(terms):
            rows, count = self._run_pass(
                terms, k, w, use_fancy=True, prune=prune, need_count=True
            )
            if count >= MAX_RESULTS:
                return [(d, int(s)) for d, s in rows[:k]]
        rows, _ = self._run_pass(
            terms, k, w, use_fancy=False, prune=prune, need_count=False
        )
        return [(d, int(s)) for d, s in rows[:k]]

    def _fancy_provably_underfills(self, terms: list[PlanTerm]) -> bool:
        """True when the fancy pass's result count is PROVABLY below
        MAX_RESULTS — the AND result set is no larger than any positive
        term's posting count in the kinds that pass reads (fancy for hot
        terms, full for cold) — so the reference's '<1000 → full pass'
        rule (searchservernew.dpr:1848-1855) would fire unconditionally
        and the fancy execution can be skipped. Host terms' doc counts
        are not in the term metadata → False (keep the two-pass
        protocol). Results are identical by construction; the saved pass
        was ~25 % of the 120-query batch wall on the 10M-doc index."""
        thr = self.meta["fancy_threshold"]
        frames = self._fetch_term_meta(
            sorted({t.key for t in terms if t.host is None})
        )
        bound = None
        for t in terms:
            if t.action == "NOT":
                continue
            if t.host is not None:
                return False
            kind = "fancy" if (not t.fancy_hole and t.df > thr) else "full"
            sub = frames.get(t.key)
            n = (
                int(sub[sub["kind"] == kind]["n"].sum())
                if sub is not None
                else 0
            )
            bound = n if bound is None else min(bound, n)
        return bound is not None and bound < MAX_RESULTS

    def search_many(
        self,
        queries: list[str],
        k: int = 10,
        weights: dict[str, int] | None = None,
        prune: bool = True,
        mode: str = "deusu",
    ) -> list[list[tuple[int, int]]]:
        """Batch top-k: N queries amortized into ONE metadata job + one
        union decode/score plan per pass (at most two passes: fancy, then
        full for the queries the fancy accelerator under-fills — the same
        two-pass rule as search(), searchservernew.dpr:1848-1855).

        This is the offline/throughput shape a training-data pipeline needs
        (millions of retrieval queries): per-query results are
        rank-identical to search(), but fixed per-job Spark overhead is
        paid once per batch instead of 2-3× per query. Terms shared by
        several queries are scanned and decoded once; the per-query AND /
        NOT / top-k all happen inside the single plan (groupBy (query,
        doc) + window), so nothing funnels through the driver beyond the
        k·N result rows."""
        from .queryplan import host_of, parse_query

        w = dict(DEFAULT_WEIGHTS)
        if weights:
            w.update(weights)
        # ONE metadata prefetch for the union of all queries' terms
        cands = set()
        for q in queries:
            for kw in parse_query(q):
                key = kw[1:] if kw[:1] in "+-" else kw
                if host_of(key) is None and ":" not in key:
                    cands.add(key)
        self._fetch_term_meta(sorted(cands))
        compiled = [self.compile(q) for q in queries]  # warm: no more jobs
        nt = 0
        for terms in compiled:
            for t in terms:
                t.ti = nt
                nt += 1

        results: list[list[tuple[int, int]] | None] = [None] * len(queries)
        prune = prune and w == DEFAULT_WEIGHTS and mode == "deusu"

        if mode == "bm25":
            batch = [(qi, t) for qi, t in enumerate(compiled) if t]
            out = self._execute_many(
                batch, {qi: k for qi, _ in batch}, w, False, "bm25", False
            )
            return [
                [(d, round(s, 6)) for d, s in out.get(qi, [])[:k]] if t else []
                for qi, t in enumerate(compiled)
            ]

        fancy_batch, full_batch = [], []
        for qi, terms in enumerate(compiled):
            if not terms:
                results[qi] = []
                continue
            has_fancy = any(
                t.host is None and t.df > self.meta["fancy_threshold"]
                for t in terms
            )
            # two-pass shortcut (shared with search()): a query whose
            # fancy pass provably under-fills routes straight to the full
            # batch, skipping its fancy execution AND the serial residual
            # pass it would land in. Metadata is warm — no jobs.
            # (Routing single-term queries through per-query block-max
            # jobs instead of the union plan measured 5× SLOWER at 10M
            # docs — 40 queries × per-job scan/scheduling overhead drowns
            # the decode savings; the union plan IS the batch shape.)
            if has_fancy and self._fancy_provably_underfills(terms):
                has_fancy = False
            (fancy_batch if has_fancy else full_batch).append((qi, terms))

        # the fancy pass and the no-fancy full pass touch DISJOINT query
        # sets — run their plans CONCURRENTLY (Spark schedules jobs from
        # separate threads side by side), then a residual full pass picks
        # up only the fancy queries the accelerator under-filled
        def run_fancy():
            fetch = max(k, MAX_RESULTS + 1)
            return self._execute_many(
                fancy_batch,
                {qi: fetch for qi, _ in fancy_batch},
                w, True, mode, prune,
            )

        def run_full(batch):
            return self._execute_many(
                batch, {qi: k for qi, _ in batch}, w, False, mode, prune
            )

        residual: list[tuple[int, list[PlanTerm]]] = []
        self._sidecars_py()  # build the broadcast once, outside the threads
        out_fancy: dict = {}
        out_full: dict = {}
        if fancy_batch and full_batch:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=2) as ex:
                f_fancy = ex.submit(run_fancy)
                f_full = ex.submit(run_full, list(full_batch))
                out_fancy, out_full = f_fancy.result(), f_full.result()
        elif fancy_batch:
            out_fancy = run_fancy()
        elif full_batch:
            out_full = run_full(full_batch)
        for qi, _ in full_batch:
            results[qi] = [
                (d, int(s)) for d, s in out_full.get(qi, [])[:k]
            ]
        if fancy_batch:
            for qi, terms in fancy_batch:
                rows = out_fancy.get(qi, [])
                if len(rows) >= MAX_RESULTS:
                    results[qi] = [(d, int(s)) for d, s in rows[:k]]
                else:
                    residual.append((qi, terms))
        if residual:
            out_res = run_full(residual)
            for qi, _ in residual:
                results[qi] = [
                    (d, int(s)) for d, s in out_res.get(qi, [])[:k]
                ]
        return results  # type: ignore[return-value]

    def _execute_many(
        self,
        batch: list[tuple[int, list[PlanTerm]]],
        fetch_by_qi: dict[int, int],
        w: dict[str, int],
        use_fancy: bool,
        mode: str,
        prune: bool,
    ) -> dict[int, list[tuple[int, float]]]:
        """One union plan for a batch of compiled queries (globally unique
        ti). Per-query interval pruning stays driver-side and exact (the
        provably-empty AND check costs no job — metadata is cached); the
        scan sees per-(term, kind) interval UNIONS. AND, NOT, clamp and
        per-query top-k are a single groupBy + window:
            pcnt == n_pos  → every positive term present (Q7)
            has_neg == 0   → no negative term present (Q8, the left-anti)
            row_number ≤ fetch over (qi | score desc, doc_id asc) → Q13."""
        from pyspark.sql.window import Window

        out: dict[int, list[tuple[int, float]]] = {}
        all_terms = [t for _, terms in batch for t in terms]
        seg_meta = self._segment_meta(all_terms, use_fancy)
        live: list[tuple[int, list[PlanTerm], np.ndarray | None]] = []
        for qi, terms in batch:
            plain_pos = [
                t for t in terms
                if t.action in ("SET", "AND") and t.host is None
            ]
            intervals = None
            if prune and len(plain_pos) >= 2:
                intervals, empty = _intersect_coverage(
                    seg_meta, [t.ti for t in plain_pos]
                )
                if empty:
                    out[qi] = []
                    continue
            live.append((qi, terms, intervals))
        if not live:
            return out

        # dedupe decode + sidecar join + scoring by SCORING SIGNATURE: a
        # term shared by many queries (hot terms dominate real batches) is
        # decoded, docmeta-joined and scored ONCE per distinct
        # (key, host, url/title filter, backlink-asymmetry, SET, hole)
        # group; the per-query fan-out happens AFTER scoring as a
        # broadcast join on the (group → query-term) map, so the Arrow
        # transfer and the score stage carry each posting once
        import copy as _copy

        sig_to_gi: dict[tuple, int] = {}
        rep_terms: list[PlanTerm] = []
        gi_pairs: list[tuple[int, int]] = []  # (gi, member ti)
        gi_iv: dict[int, list | None] = {}
        for qi, terms, iv in live:
            for t in terms:
                sig = (
                    t.key,
                    t.host,
                    t.url_only,
                    t.title_only,
                    t.include_backlink,
                    t.action == "SET",
                    bool(t.fancy_hole),
                )
                gi = sig_to_gi.get(sig)
                if gi is None:
                    gi = len(rep_terms)
                    sig_to_gi[sig] = gi
                    rep = _copy.copy(t)
                    rep.ti = gi
                    rep_terms.append(rep)
                    gi_iv[gi] = []
                gi_pairs.append((gi, t.ti))
                # a group's scan interval is the union of its member
                # queries' intervals; any unrestricted member query makes
                # the shared scan unrestricted (downstream AND is exact)
                if gi_iv[gi] is not None:
                    if iv is None:
                        gi_iv[gi] = None
                    else:
                        gi_iv[gi].append(iv)
        per_gi_iv = {
            gi: np.concatenate(ivs)
            for gi, ivs in gi_iv.items()
            if ivs is not None and len(ivs)
        }
        scored = self._decode_score(
            rep_terms, use_fancy, None, per_gi_iv, w, mode
        )
        if scored is None:
            for qi, _, _ in live:
                out[qi] = []
            return out
        gi_map = self.spark.createDataFrame(
            gi_pairs, schema="gi int, ti int"
        )
        scored = (
            scored.withColumnRenamed("ti", "gi")
            .join(F.broadcast(gi_map), "gi")
            .drop("gi")
        )
        # per-query AND/NOT + top-k in one aggregation + window. Shapes
        # PROFILED SLOWER at 10M docs and reverted (kept here as the
        # measured record): (a) a pandas partial-top-k before the window
        # — crossed the whole candidate stream JVM↔Arrow once more;
        # (b) a (qi, doc-salt) two-level window — paid a second full-size
        # exchange; (c) routing single-term queries around the groupBy —
        # the un-cached `scored` lineage re-executed once per consumer.
        ti_map = self.spark.createDataFrame(
            [
                (t.ti, qi, t.action in ("SET", "AND"))
                for qi, terms, _ in live
                for t in terms
            ],
            schema="ti int, qi int, pos boolean",
        )
        qinfo = self.spark.createDataFrame(
            [
                (
                    qi,
                    sum(1 for t in terms if t.action in ("SET", "AND")),
                    int(fetch_by_qi[qi]),
                )
                for qi, terms, _ in live
            ],
            schema="qi int, n_pos int, fetch int",
        )
        pos_score = F.sum(F.when(F.col("pos"), F.col("score")))
        agg_score = (
            F.least(pos_score, F.lit(float(SCORE_CLAMP)))
            if mode == "deusu"
            else pos_score
        )
        cand = (
            scored.join(F.broadcast(ti_map), "ti")
            .groupBy("qi", "doc_id")
            .agg(
                F.sum(F.when(F.col("pos"), 1).otherwise(0)).alias("pcnt"),
                F.max(F.when(F.col("pos"), 0).otherwise(1)).alias("has_neg"),
                agg_score.alias("score"),
            )
            .join(F.broadcast(qinfo), "qi")
            .where((F.col("pcnt") == F.col("n_pos")) & (F.col("has_neg") == 0))
        )
        wnd = Window.partitionBy("qi").orderBy(F.desc("score"), F.asc("doc_id"))
        rows = (
            cand.withColumn("rn", F.row_number().over(wnd))
            .where(F.col("rn") <= F.col("fetch"))
            .select("qi", "doc_id", "score")
            .collect()
        )
        for qi, _, _ in live:
            out[qi] = []
        for r in rows:
            out[r["qi"]].append((r["doc_id"], r["score"]))
        for qi in out:
            out[qi].sort(key=lambda x: (-x[1], x[0]))
        self.last_stats = {
            "strategy": "batch",
            "n_queries": len(batch),
            "n_terms": sum(len(terms) for _, terms, _ in live),
            "n_term_groups": len(rep_terms),
        }
        return out

    def search_phrase(
        self,
        phrase: str,
        k: int = 10,
        weights: dict[str, int] | None = None,
    ) -> list[tuple[int, int]]:
        """Exact phrase top-k, verified from the POSITIONS sidecar
        (build_index(positions=True)) instead of rescanning ``text`` —
        the round-4 phrase/proximity index kind (a documented deviation
        from the positionless reference, DbTypes.pas:119-127).

        Plan: AND-retrieve the phrase's indexable terms in score order,
        verify adjacency from positions (deusu_spark.positions), and page
        the fetch up (×4) until k phrase matches are verified or the
        candidate stream is exhausted — so the verify stage only ever
        decodes candidate doc ranges, never the corpus. Scores are the
        ordinary AND scores (rank-identical to search() on the same
        terms); the phrase is a filter, exactly like the text-verify
        oracle path."""
        from .positions import (
            has_positions,
            phrase_pattern,
            verify_phrase_docs,
        )

        if not has_positions(self.vdir):
            raise RuntimeError(
                "no positions sidecar on this index — build with "
                "build_index(positions=True)"
            )
        pattern = phrase_pattern(phrase)
        if not pattern:
            return []
        query = " ".join(t for _, t in pattern)
        if len(pattern) == 1:
            return self.search(query, k=k, weights=weights)
        fetch = max(4 * k, 64)
        verified: list[tuple[int, int]] = []
        while True:
            rows = self.search(query, k=fetch, weights=weights)
            cand = np.asarray([d for d, _ in rows], dtype=np.int64)
            ok = set(
                verify_phrase_docs(
                    self.spark, self.vdir, pattern, cand, io=self.io
                ).tolist()
            )
            verified = [(d, s) for d, s in rows if d in ok]
            if len(verified) >= k or len(rows) < fetch:
                return verified[:k]
            fetch *= 4

    def search_near(
        self,
        query: str,
        k: int = 10,
        window: int = 8,
        weights: dict[str, int] | None = None,
    ) -> list[tuple[int, int]]:
        """Unordered proximity top-k (NEAR/w): docs where EVERY indexable
        query term occurs within one ``window``-token span, scored with
        the plain AND scores — the proximity operator the positions
        sidecar enables beyond exact phrases (same retrieve → verify →
        page loop as search_phrase; window = phrase length degenerates
        toward adjacency but unordered)."""
        from .positions import (
            has_positions,
            phrase_pattern,
            verify_near_docs,
        )

        if not has_positions(self.vdir):
            raise RuntimeError(
                "no positions sidecar on this index — build with "
                "build_index(positions=True)"
            )
        terms = [t for _, t in phrase_pattern(query)]
        if not terms:
            return []
        if len(set(terms)) == 1:
            return self.search(terms[0], k=k, weights=weights)
        qstr = " ".join(terms)
        fetch = max(4 * k, 64)
        verified: list[tuple[int, int]] = []
        while True:
            rows = self.search(qstr, k=fetch, weights=weights)
            cand = np.asarray([d for d, _ in rows], dtype=np.int64)
            ok = set(
                verify_near_docs(
                    self.spark, self.vdir, terms, window, cand, io=self.io
                ).tolist()
            )
            verified = [(d, s) for d, s in rows if d in ok]
            if len(verified) >= k or len(rows) < fetch:
                return verified[:k]
            fetch *= 4

    def search_proximity(
        self,
        query: str,
        k: int = 10,
        weights: dict[str, int] | None = None,
    ) -> list[tuple[int, int]]:
        """Proximity-RANKED top-k: every AND result keeps its plain
        integer score plus an exact-integer proximity boost
        ``PROXIMITY_SCALE // (minimal_window_span − n_terms + 1)`` from
        the positions sidecar (the standard 1/(window−k+1) proximity
        term) — tight co-occurrences outrank scattered ones instead of
        being a binary NEAR filter. Docs whose terms only co-occur
        across title/url (no full body window) keep boost 0. Bounded
        early termination: the base ranking pages ×4 until no unfetched
        candidate can reach the current top-k (boost ≤ SCALE). The
        reference has nothing like it — positions are the documented
        deviation (DbTypes.pas:119-127); ranking semantics are pinned by
        a brute-force text oracle + three-tier rank identity
        (tests/test_proximity.py)."""
        from .positions import (
            has_positions,
            min_span_docs,
            phrase_pattern,
            proximity_rerank,
        )

        if not has_positions(self.vdir):
            raise RuntimeError(
                "no positions sidecar on this index — build with "
                "build_index(positions=True)"
            )
        terms = [t for _, t in phrase_pattern(query)]
        if not terms:
            return []
        uniq = list(dict.fromkeys(terms))
        qstr = " ".join(terms)
        return proximity_rerank(
            lambda fetch: self.search(qstr, k=fetch, weights=weights),
            lambda cand: min_span_docs(
                self.spark, self.vdir, uniq, cand, io=self.io
            ),
            k,
            len(uniq),
        )

    def fetch_results(self, rows: list[tuple[int, int]]):
        """Q15 (ShowLink, searchservernew.dpr:1166-1204): join the engine's
        (doc_id, score) rows back to display fields as a rerank.Candidates,
        preserving engine order. rows is a top-k list (<= 1000) — the
        collect is bounded."""
        from .rerank import Candidates

        if not rows:
            return Candidates.from_rows([])
        ids = [int(d) for d, _ in rows]
        fetched = {
            r["doc_id"]: r.asDict()
            for r in self.docmeta.where(F.col("doc_id").isin(ids))
            .select(
                "doc_id", "url", "host", "title", "description",
                "rank", "backlinks",
            )
            .collect()
        }
        return Candidates.from_docmeta(rows, fetched)

    def search_page(
        self,
        query: str,
        startwith: int = 1,
        showcount: int = 10,
        **kw,
    ) -> list[tuple[int, int]]:
        """Pagination semantics — searchservernew.dpr:1820-1821,1328-1363:
        startwith clamped 1..991, showcount 10..1000, results beyond 1000
        never shown (startwith > 991 yields nothing beyond the top-1000)."""
        startwith = min(max(startwith, 1), 991)
        showcount = min(max(showcount, 10), 1000)
        rows = self.search(query, k=min(startwith + showcount - 1, 1000), **kw)
        return rows[startwith - 1 :]

    def query_info(self, query: str) -> dict:
        """Corpus/term statistics echoed by the reference response
        (searchservernew.dpr:1349-1357): corpussize + per-term df and idf."""
        terms = self.compile(query)
        return {
            "corpussize": int(self.meta["n_docs"]),
            "keywords": [
                {"keyword": t.key, "occurrences": t.df, "idf": round(t.idf, 6)}
                for t in terms
            ],
        }

    # -- one pass -------------------------------------------------------------
    def _run_pass(
        self,
        terms: list[PlanTerm],
        k: int,
        w: dict[str, int],
        use_fancy: bool,
        prune: bool,
        need_count: bool,
        mode: str = "deusu",
    ) -> tuple[list[tuple[int, int]], int]:
        """Execute one pass. Returns (ordered rows, count_signal) where
        count_signal = min(ResultCount, max(k, 1001)) — enough for the
        two-pass '<1000 results → full pass' decision
        (searchservernew.dpr:1848-1855)."""
        fetch = max(k, MAX_RESULTS + 1) if need_count else k
        pos = [t for t in terms if t.action in ("SET", "AND")]
        neg = [t for t in terms if t.action == "NOT"]
        plain_pos = [t for t in pos if t.host is None]

        single_plain = (
            prune
            and len(pos) == 1
            and not neg
            and pos[0].host is None
            and not pos[0].url_only
            and not pos[0].title_only
        )

        seg_meta = self._segment_meta(terms, use_fancy)
        self.last_stats = {
            "segments_total": int(len(seg_meta)),
            "segments_selected": int(len(seg_meta)),
            "strategy": "full",
        }
        if single_plain:
            # every posting of a single plain term is a result; blockmax
            # returns min(total, fetch) rows (it decodes everything whenever
            # fewer than fetch survive — tombstone masking can shrink a
            # segment below its metadata n), so len(rows) IS the count
            # signal, clamped at fetch exactly like the decoded paths
            rows = self._single_term_blockmax(pos[0], seg_meta, fetch, w, use_fancy)
            return rows, len(rows)

        # host terms read from docmeta, not segments — they carry no segment
        # coverage and must not constrain the interval intersection
        intervals = None
        if prune and len(plain_pos) >= 2:
            intervals, empty = _intersect_coverage(
                seg_meta, [t.ti for t in plain_pos]
            )
            if empty:
                self.last_stats.update(strategy="empty_and", segments_selected=0)
                return [], 0

        # multi-term block-max WAND: exact, score-bound-pruned AND execution.
        # Engaged only when enough postings survive the interval intersection
        # to amortize its extra plan executions (phase A + phase B each run
        # the full decode/score plan): below the floor, one unpruned pass is
        # strictly cheaper than two pruned ones.
        if (
            prune
            and mode == "deusu"
            and len(plain_pos) == len(pos) >= 2
            and not seg_meta.empty
            and _count_selected_postings(seg_meta, intervals) >= self.wand_min_postings
        ):
            return self._multi_term_blockmax(
                terms, pos, neg, seg_meta, intervals, fetch, w, use_fancy, mode
            )

        rows = self._execute(
            terms, pos, neg, seg_meta, intervals, fetch, w, use_fancy, mode
        )
        if intervals is not None:
            self.last_stats.update(
                strategy="interval",
                segments_selected=_count_selected(seg_meta, intervals),
            )
        return rows, len(rows)

    def _execute(
        self,
        terms: list[PlanTerm],
        pos: list[PlanTerm],
        neg: list[PlanTerm],
        seg_meta: pd.DataFrame,
        intervals: np.ndarray | None,
        fetch: int,
        w: dict[str, int],
        use_fancy: bool,
        mode: str,
    ) -> list[tuple[int, int]]:
        """Decode → score → AND/NOT → top-k, restricted to ``intervals``
        (None = everything). One declarative plan; no driver funnels."""
        if intervals is not None:
            intervals = _coarsen_intervals(intervals, self.max_range_predicates)
        scored = self._decode_score(terms, use_fancy, intervals, None, w, mode)
        if scored is None:
            return []
        pos_df = scored.where(F.col("ti").isin([t.ti for t in pos]))
        # per-term scores are each clamped; saturating sequential addition of
        # non-negative terms equals min(sum, clamp) (searchservernew.dpr:926)
        agg_score = (
            F.least(F.sum("score"), F.lit(float(SCORE_CLAMP)))
            if mode == "deusu"
            else F.sum("score")
        )
        cand = (
            pos_df.groupBy("doc_id")
            .agg(F.count("*").alias("cnt"), agg_score.alias("score"))
            .where(F.col("cnt") == len(pos))
            .drop("cnt")
        )
        if neg:
            neg_docs = scored.where(
                F.col("ti").isin([t.ti for t in neg])
            ).select("doc_id").distinct()
            cand = cand.join(neg_docs, "doc_id", "left_anti")
        rows = (
            cand.orderBy(F.desc("score"), F.asc("doc_id")).limit(fetch).collect()
        )
        return [(r["doc_id"], r["score"]) for r in rows]

    # -- multi-term block-max WAND ---------------------------------------------
    def _multi_term_blockmax(
        self,
        terms: list[PlanTerm],
        pos: list[PlanTerm],
        neg: list[PlanTerm],
        seg_meta: pd.DataFrame,
        intervals: np.ndarray | None,
        fetch: int,
        w: dict[str, int],
        use_fancy: bool,
        mode: str,
    ) -> tuple[list[tuple[int, int]], int]:
        """Exact top-k for multi-term AND with score-bound pruning — the
        multi-term generalization of _single_term_blockmax (the reference's
        accelerator-list ancestor: GenDb.dpr:975-1109 +
        searchservernew.dpr:1836-1855).

        Atomic doc-range sweep: segment boundaries of all positive terms cut
        the doc space into ranges on which each term's active segment (and
        hence its score bound) is constant. A range is a candidate iff every
        positive term covers it; its bound = Σ round(max_static·idf) of the
        active segments — a true upper bound on any doc's score inside it.

        Phase A decodes the highest-bound ranges (≈2·fetch docs of span) to
        establish θ = the fetch-th score; phase B decodes every candidate
        range whose bound ≥ θ - len(pos) (the margin covers the ≤1-point
        JVM-vs-numpy rounding drift per term). Every doc scoring ≥ θ lies in
        a phase-B range, and phase A's top-fetch all score ≥ θ, so phase B
        alone yields the exact global top-fetch (ties included). A thin
        phase A (< fetch matches) falls back to the full interval
        intersection — no pruning, plain correctness."""
        idf = {t.ti: t.idf for t in pos}
        los, his, bnds = [], [], []
        for t in pos:
            sub = seg_meta[seg_meta["ti"] == t.ti]
            if sub.empty:
                self.last_stats.update(strategy="wand_empty", segments_selected=0)
                return [], 0
            # the sweep's count==n_pos test needs per-term DISJOINT coverage
            # (block-aggregated rows may overlap when a segment spans a
            # block boundary) — merge overlapping rows, bound = max
            lo, hi, b = _disjoint_bounded(
                sub["first_doc"].to_numpy(np.int64),
                sub["last_doc"].to_numpy(np.int64),
                np.minimum(
                    np.round(sub["max_static"].to_numpy(np.float64) * idf[t.ti]),
                    SCORE_CLAMP,
                ),
            )
            los.append(lo)
            his.append(hi)
            bnds.append(b)
        starts = np.concatenate(los)
        ends = np.concatenate(his) + 1
        sb = np.concatenate(bnds)
        pts = np.concatenate([starts, ends])
        dcnt = np.concatenate(
            [np.ones(len(starts), np.int64), -np.ones(len(ends), np.int64)]
        )
        dbnd = np.concatenate([sb, -sb])
        order = np.argsort(pts, kind="stable")
        pts, dcnt, dbnd = pts[order], dcnt[order], dbnd[order]
        upts, uidx = np.unique(pts, return_index=True)
        cum_c = np.cumsum(np.add.reduceat(dcnt, uidx))
        cum_b = np.cumsum(np.add.reduceat(dbnd, uidx))
        act = cum_c[:-1] == len(pos)  # covered by every positive term
        alo = upts[:-1][act]
        ahi = (upts[1:] - 1)[act]
        ab = cum_b[:-1][act]
        if len(alo) == 0:
            self.last_stats.update(strategy="wand_empty", segments_selected=0)
            return [], 0

        # phase A: highest-bound ranges spanning ~2*fetch docs
        by_bound = np.argsort(-ab, kind="stable")
        span = (ahi - alo + 1)[by_bound]
        n_a = min(int(np.searchsorted(np.cumsum(span), 2 * fetch)) + 1, len(by_bound))
        if n_a == len(by_bound):
            # everything is already in phase A — single pass, no pruning
            iv = _merge_intervals(np.stack([alo, ahi], axis=1))
            rows = self._execute(
                terms, pos, neg, seg_meta, iv, fetch, w, use_fancy, mode
            )
            self.last_stats.update(
                strategy="wand_all", segments_selected=_count_selected(seg_meta, iv)
            )
            return rows, len(rows)
        sel_a = by_bound[:n_a]
        iv_a = _merge_intervals(np.stack([alo[sel_a], ahi[sel_a]], axis=1))
        rows_a = self._execute(
            terms, pos, neg, seg_meta, iv_a, fetch, w, use_fancy, mode
        )
        if len(rows_a) < fetch:
            rows = self._execute(
                terms, pos, neg, seg_meta, intervals, fetch, w, use_fancy, mode
            )
            self.last_stats.update(
                strategy="wand_fallback",
                segments_selected=_count_selected(seg_meta, intervals),
            )
            return rows, len(rows)
        theta = rows_a[fetch - 1][1]
        sel_b = ab >= (theta - len(pos))
        iv_b = _merge_intervals(np.stack([alo[sel_b], ahi[sel_b]], axis=1))
        rows = self._execute(
            terms, pos, neg, seg_meta, iv_b, fetch, w, use_fancy, mode
        )
        self.last_stats.update(
            strategy="wand", segments_selected=_count_selected(seg_meta, iv_b)
        )
        return rows, len(rows)

    def _kind(self, t: PlanTerm, use_fancy: bool) -> str:
        """Which postings kind a term reads on this index. ``fancy_hole``
        (set per-part by FederatedSearchEngine) forces the full postings —
        the rank-window mask in _score_rows then reconstructs the missing
        fancy list exactly."""
        if t.fancy_hole:
            return "full"
        return (
            "fancy"
            if use_fancy and t.df > self.meta["fancy_threshold"]
            else "full"
        )

    # -- segment metadata (no blobs, bounded driver copy) -----------------------
    def _segment_meta(self, terms: list[PlanTerm], use_fancy: bool) -> pd.DataFrame:
        """Per-query-term segment metadata for pruning decisions — assembled
        from the term-metadata cache (populated by compile()'s single
        fetch job); this method itself runs NO Spark job, so the fancy and
        full passes share one metadata read per query."""
        frames = self._fetch_term_meta(
            sorted({t.key for t in terms if t.host is None})
        )
        out = []
        for t in terms:
            if t.host is not None:
                continue
            kind = self._kind(t, use_fancy)
            sub = frames.get(t.key)
            if sub is None:
                continue
            s = sub[sub["kind"] == kind].copy()
            s["ti"] = t.ti
            out.append(s)
        if not out:
            return pd.DataFrame(
                columns=[
                    "ti", "term", "kind", "first_doc", "last_doc", "n", "max_static"
                ]
            )
        return pd.concat(out, ignore_index=True)

    # -- decode ------------------------------------------------------------------
    def _coalesce_scan(self, df: DataFrame) -> DataFrame:
        """Merge filtered-scan splits before an Arrow/Python stage.

        The postings scan plans one task per file split (655 at 1M turns,
        growing with the corpus), and EVERY task pays a Python-worker
        round trip in mapInPandas even when the pushed filter leaves it
        empty — measured ~15 s of empty round trips on a 100-query batch.
        A NARROW coalesce (no shuffle) to 2× the cluster's parallelism
        keeps the decode distributed at any cluster size while bounding
        the Python task count; coalesce to more partitions than exist is
        a no-op, so small scans are untouched."""
        target = 2 * self.spark.sparkContext.defaultParallelism
        return df.coalesce(target)

    def _plain_scan(
        self,
        terms: list[PlanTerm],
        use_fancy: bool,
        intervals: np.ndarray | None,
        per_term_intervals: dict[int, np.ndarray] | None = None,
    ):
        """Shared postings scan for the PLAIN terms of a (batch of)
        queries: one pushed-down condition per distinct (term, kind),
        scan splits coalesced for the Python stage that follows.

        Returns (segs DataFrame | None, specs) where specs maps
        (term, kind) → [(ti, url_only, title_only)] — the per-query-term
        fan-out the decode stage applies after decoding each blob once.

        The predicate is built as ONE SQL string and parsed once:
        building the same tree with Column operators costs a py4j round
        trip per operator (~4 s of driver wall on a 120-term batch);
        Catalyst sees identical predicates either way, so pushdown and
        bucket-directory pruning are unchanged."""

        def iv_for(t: PlanTerm) -> np.ndarray | None:
            if per_term_intervals is not None:
                return per_term_intervals.get(t.ti)
            return intervals

        term_specs: dict[tuple[str, str], list[tuple[int, bool, bool]]] = {}
        key_iv: dict[tuple[str, str], list | None] = {}
        for t in terms:
            if t.host is not None:
                continue
            kind = self._kind(t, use_fancy)
            k2 = (t.key, kind)
            term_specs.setdefault(k2, []).append(
                (t.ti, t.url_only, t.title_only)
            )
            iv_t = iv_for(t)
            if k2 not in key_iv:
                key_iv[k2] = [] if iv_t is not None else None
            if key_iv[k2] is not None:
                if iv_t is None:
                    key_iv[k2] = None
                else:
                    key_iv[k2].append(iv_t)
        if not key_iv:
            return None, term_specs
        # per-key interval budget: the whole scan predicate stays under
        # max_range_predicates_batch_total range terms however many keys
        # the batch unions (coarsening is a correct superset; downstream
        # AND/NOT filtering is exact)
        per_key_cap = max(
            2,
            min(
                self.max_range_predicates,
                self.max_range_predicates_batch_total // len(key_iv),
            ),
        )
        conds = []
        for (key, kind), ivs in key_iv.items():
            b = crc32(key) % 64
            kq = key.replace("'", "''")
            c = f"(bucket = {b} AND term = '{kq}' AND kind = '{kind}'"
            if ivs is not None:
                iv = _coarsen_intervals(
                    _merge_intervals(np.concatenate(ivs)), per_key_cap
                )
                rngs = " OR ".join(
                    f"(first_doc <= {int(hi)} AND last_doc >= {int(lo)})"
                    for lo, hi in iv
                )
                c += f" AND ({rngs})"
            conds.append(c + ")")
        segs = self._coalesce_scan(
            self.postings.where(F.expr(" OR ".join(conds))).select(
                "term", "kind", "blob"
            )
        )
        return segs, term_specs

    def _decode(
        self,
        terms: list[PlanTerm],
        use_fancy: bool,
        intervals: np.ndarray | None,
        per_term_intervals: dict[int, np.ndarray] | None = None,
    ) -> DataFrame | None:
        """DataFrame (ti, doc_id, flags) of all query-term postings after
        location filters; host terms contribute docmeta-derived rows.

        ``intervals`` (already coarsened to <= max_range_predicates) reaches
        the scan as (first_doc <= hi AND last_doc >= lo) range predicates —
        parquet row-group stats prune them; no isin literals.

        ``per_term_intervals`` (batch mode) overrides ``intervals`` per
        ``t.ti``: a term shared by several queries scans the UNION of its
        queries' intervals (absent key = that query is unrestricted, so the
        shared scan must be too). Unions only loosen pruning — the per-query
        AND/NOT aggregation downstream filters exactly."""
        parts: list[DataFrame] = []
        segs, specs = self._plain_scan(
            terms, use_fancy, intervals, per_term_intervals
        )
        if segs is not None:
            tomb_bc = self._tomb_bc

            def decode_fn(iterator):
                tomb = tomb_bc.value if tomb_bc is not None else None
                for pdf in iterator:
                    tis, dids, fls = [], [], []
                    for term, kind, blob in zip(
                        pdf["term"], pdf["kind"], pdf["blob"]
                    ):
                        docs, flags = codec.decode(bytes(blob))
                        if tomb is not None:
                            docs, flags = codec.remove_sorted(
                                docs, flags, tomb
                            )
                        for ti, uo, to in specs[(term, kind)]:
                            if uo:
                                m = (flags & 4) != 0
                            elif to:
                                m = (flags & 2) != 0
                            else:
                                m = slice(None)
                            d, f = docs[m], flags[m]
                            tis.append(np.full(len(d), ti, dtype=np.int32))
                            dids.append(d)
                            fls.append(f.astype(np.int32))
                    if tis:
                        yield pd.DataFrame(
                            {
                                "ti": np.concatenate(tis),
                                "doc_id": np.concatenate(dids),
                                "flags": np.concatenate(fls),
                            }
                        )

            parts.append(segs.mapInPandas(decode_fn, schema=DECODED_SCHEMA))

        # host terms: host_postings ≡ docmeta filtered by host. When an AND
        # interval restriction exists, docs outside it cannot be candidates
        # (they lack some plain term's coverage) — filter them at the scan.
        def iv_for(t: PlanTerm) -> np.ndarray | None:
            if per_term_intervals is not None:
                return per_term_intervals.get(t.ti)
            return intervals

        for t in terms:
            if t.host is not None:
                hc = F.col("host") == t.host
                iv_t = iv_for(t)
                if iv_t is not None:
                    iv_t = _coarsen_intervals(iv_t, self.max_range_predicates)
                    doc_iv = None
                    for lo, hi in iv_t:
                        e = (F.col("doc_id") >= int(lo)) & (
                            F.col("doc_id") <= int(hi)
                        )
                        doc_iv = e if doc_iv is None else (doc_iv | e)
                    hc = hc & doc_iv
                hp = self.docmeta.where(hc).select(
                    F.lit(t.ti).cast("int").alias("ti"),
                    "doc_id",
                    F.lit(0).cast("int").alias("flags"),
                )
                if self._tomb_df is not None:
                    hp = hp.join(
                        F.broadcast(self._tomb_df.select("doc_id")),
                        "doc_id",
                        "left_anti",
                    )
                parts.append(hp)

        if not parts:
            return None
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    # -- fused decode + score -------------------------------------------------
    def _sidecars_py(self):
        """Broadcast of the docmeta sidecar arrays (doc_id-sorted) for
        python-side score lookup inside the fused decode+score stage —
        the distributed twin of the serving engine's in-RAM sidecar
        vectors (LoadCacheData). Gated by docmeta_broadcast_max_docs:
        above it (cluster-scale corpora) this returns None and the
        decode → docmeta-join → score pipeline runs instead, because a
        10^12-doc sidecar cannot live in every python worker."""
        if int(self.meta["n_docs"]) > self.docmeta_broadcast_max_docs:
            return None
        if self._sidecar_bc is None:
            pdf = self._docmeta_cols.toPandas()
            order = np.argsort(pdf["doc_id"].to_numpy())
            self._sidecar_bc = self.spark.sparkContext.broadcast(
                {
                    "ids": pdf["doc_id"].to_numpy(np.int64)[order],
                    "fd": pdf["fd"].to_numpy(np.int64)[order],
                    "he": pdf["he"].to_numpy(np.int64)[order],
                    "rank": pdf["rank"].to_numpy(np.int64)[order],
                    "bl": pdf["backlinks"].to_numpy(np.int64)[order],
                    "dl": pdf["dl"].to_numpy(np.float64)[order],
                }
            )
        return self._sidecar_bc

    def _decode_score(
        self,
        terms: list[PlanTerm],
        use_fancy: bool,
        intervals: np.ndarray | None,
        per_term_intervals: dict[int, np.ndarray] | None,
        w,
        mode: str,
    ) -> DataFrame | None:
        """Scored postings (ti, doc_id, score) for the query terms in ONE
        python stage when the sidecars fit a broadcast: each blob is
        decoded AND scored inside the same task (sidecar lookup is a
        vectorized searchsorted against the broadcast arrays), so each
        posting crosses the JVM↔Arrow boundary once instead of twice and
        the per-posting docmeta join disappears from the plan. Host terms
        (docmeta-derived rows, no blobs) keep the joined path — they are
        per-host-sized, not corpus-sized. Falls back to
        _decode → _score_rows above the sidecar broadcast cap.

        Scores are bit-identical to the joined path: both call
        _term_score_block on the same arrays."""
        side = self._sidecars_py()
        if side is None:
            return self._decode_score_grouped(
                terms, use_fancy, intervals, per_term_intervals, w, mode
            )
        plain = [t for t in terms if t.host is None]
        host = [t for t in terms if t.host is not None]
        parts: list[DataFrame] = []
        if plain:
            segs, specs = self._plain_scan(
                plain, use_fancy, intervals, per_term_intervals
            )
            if segs is not None:
                plan = {
                    t.ti: {
                        "idf": t.idf,
                        "df": t.df,
                        "include_bl": t.include_backlink,
                        "is_host": False,
                        "is_set": t.action == "SET",
                        "hole": bool(t.fancy_hole),
                    }
                    for t in plain
                }
                max_bl = int(self.meta["max_backlinks"])
                n_docs = int(self.meta["n_docs"])
                avgdl = self.avgdl if mode == "bm25" else 1.0
                tomb_bc = self._tomb_bc

                def fused_fn(iterator):
                    sc = side.value
                    tomb = tomb_bc.value if tomb_bc is not None else None
                    ids = sc["ids"]
                    for pdf in iterator:
                        tis, dids, scs = [], [], []
                        for term, kind, blob in zip(
                            pdf["term"], pdf["kind"], pdf["blob"]
                        ):
                            docs, flags = codec.decode(bytes(blob))
                            if tomb is not None:
                                docs, flags = codec.remove_sorted(
                                    docs, flags, tomb
                                )
                            if not len(docs):
                                continue
                            pos_ = np.searchsorted(ids, docs)
                            # membership mask: a decoded doc_id absent from
                            # docmeta must DROP (inner-join semantics of the
                            # joined path), not alias a neighbor's sidecar row
                            okm = pos_ < len(ids)
                            hitm = np.zeros(len(docs), dtype=bool)
                            hitm[okm] = ids[pos_[okm]] == docs[okm]
                            if not hitm.all():
                                docs, flags = docs[hitm], flags[hitm]
                                pos_ = pos_[hitm]
                                if not len(docs):
                                    continue
                            fd = sc["fd"][pos_]
                            he = sc["he"][pos_]
                            rank = sc["rank"][pos_]
                            bl = sc["bl"][pos_]
                            dl = sc["dl"][pos_]
                            for ti, uo, to in specs[(term, kind)]:
                                if uo:
                                    m = (flags & 4) != 0
                                elif to:
                                    m = (flags & 2) != 0
                                else:
                                    m = slice(None)
                                p = plan[ti]
                                d = docs[m]
                                s = _term_score_block(
                                    p, mode, n_docs, avgdl, max_bl, w,
                                    flags[m], fd[m], he[m], rank[m],
                                    bl[m], dl[m],
                                )
                                if p["hole"]:
                                    keep = (rank[m] > FANCY_RANK_LO) & (
                                        rank[m] < FANCY_RANK_HI
                                    )
                                    d, s = d[keep], s[keep]
                                tis.append(
                                    np.full(len(d), ti, dtype=np.int32)
                                )
                                dids.append(d)
                                scs.append(s)
                        if tis:
                            yield pd.DataFrame(
                                {
                                    "ti": np.concatenate(tis),
                                    "doc_id": np.concatenate(dids),
                                    "score": np.concatenate(scs),
                                }
                            )

                parts.append(
                    segs.mapInPandas(fused_fn, schema=SCORED_SCHEMA)
                )
        if host:
            hdec = self._decode(
                host, use_fancy, intervals,
                per_term_intervals=per_term_intervals,
            )
            if hdec is not None:
                parts.append(self._score_rows(hdec, host, w, mode=mode))
        if not parts:
            return None
        out = parts[0]
        for pth in parts[1:]:
            out = out.unionByName(pth)
        return out

    def _decode_score_grouped(
        self,
        terms: list[PlanTerm],
        use_fancy: bool,
        intervals: np.ndarray | None,
        per_term_intervals: dict[int, np.ndarray] | None,
        w,
        mode: str,
    ) -> DataFrame | None:
        """At-scale (above the sidecar broadcast cap) scored postings:
        the docmeta sort-merge join runs on ONE row per distinct
        (term, kind, location-mask) posting — query-term fan-out happens
        AFTER the join, inside the score stage. A 120-query batch shares
        its hot terms across dozens of queries; fanning out before the
        join (the old shape) shuffled and sorted every shared term's
        postings once PER QUERY — the dominant cost of the 10M-doc batch
        profile. Scores are bit-identical to _score_rows: same
        _term_score_block on the same masked arrays (rank-identity
        pytest). Host terms keep the per-host-sized joined path."""
        plain = [t for t in terms if t.host is None]
        host = [t for t in terms if t.host is not None]
        parts: list[DataFrame] = []
        if plain:
            segs, specs = self._plain_scan(
                plain, use_fancy, intervals, per_term_intervals
            )
            if segs is not None:
                # group key: (term, kind, url_only, title_only) — one
                # decoded+joined row per group; gi -> the query terms it
                # fans out to in the score stage
                gkey: dict[tuple, int] = {}
                dec_specs: dict[tuple[str, str], list] = {}
                group_tis: dict[int, list[int]] = {}
                for (term, kind), lst in specs.items():
                    for ti, uo, to in lst:
                        k4 = (term, kind, uo, to)
                        if k4 not in gkey:
                            gkey[k4] = len(gkey)
                            dec_specs.setdefault((term, kind), []).append(
                                (gkey[k4], uo, to)
                            )
                        group_tis.setdefault(gkey[k4], []).append(ti)
                plan = {
                    t.ti: {
                        "idf": t.idf,
                        "df": t.df,
                        "include_bl": t.include_backlink,
                        "is_host": False,
                        "is_set": t.action == "SET",
                        "hole": bool(t.fancy_hole),
                    }
                    for t in plain
                }
                max_bl = int(self.meta["max_backlinks"])
                n_docs = int(self.meta["n_docs"])
                avgdl = self.avgdl if mode == "bm25" else 1.0
                tomb_bc = self._tomb_bc

                def decode_fn(iterator):
                    tomb = tomb_bc.value if tomb_bc is not None else None
                    for pdf in iterator:
                        gis, dids, fls = [], [], []
                        for term, kind, blob in zip(
                            pdf["term"], pdf["kind"], pdf["blob"]
                        ):
                            docs, flags = codec.decode(bytes(blob))
                            if tomb is not None:
                                docs, flags = codec.remove_sorted(
                                    docs, flags, tomb
                                )
                            for gi, uo, to in dec_specs[(term, kind)]:
                                if uo:
                                    m = (flags & 4) != 0
                                elif to:
                                    m = (flags & 2) != 0
                                else:
                                    m = slice(None)
                                d, f = docs[m], flags[m]
                                gis.append(
                                    np.full(len(d), gi, dtype=np.int32)
                                )
                                dids.append(d)
                                fls.append(f.astype(np.int32))
                        if gis:
                            yield pd.DataFrame(
                                {
                                    "ti": np.concatenate(gis),
                                    "doc_id": np.concatenate(dids),
                                    "flags": np.concatenate(fls),
                                }
                            )

                grouped = segs.mapInPandas(decode_fn, schema=DECODED_SCHEMA)
                joined = grouped.join(self._docmeta_cols, "doc_id")

                def score_fn(iterator):
                    for pdf in iterator:
                        n = len(pdf)
                        if n == 0:
                            continue
                        gi = pdf["ti"].to_numpy(np.int32)
                        flags = pdf["flags"].to_numpy(np.int64)
                        fd = pdf["fd"].to_numpy(np.int64)
                        he = pdf["he"].to_numpy(np.int64)
                        rank = pdf["rank"].to_numpy(np.int64)
                        bl = pdf["backlinks"].to_numpy(np.int64)
                        dl = pdf["dl"].to_numpy(np.float64)
                        doc_id = pdf["doc_id"].to_numpy(np.int64)
                        tis_o, dids_o, scs_o = [], [], []
                        for g, tis in group_tis.items():
                            m = gi == g
                            if not m.any():
                                continue
                            f_, fd_, he_, r_ = (
                                flags[m], fd[m], he[m], rank[m]
                            )
                            b_, d_, doc_ = bl[m], dl[m], doc_id[m]
                            for t_i in tis:
                                p = plan[t_i]
                                s = _term_score_block(
                                    p, mode, n_docs, avgdl, max_bl, w,
                                    f_, fd_, he_, r_, b_, d_,
                                )
                                dd = doc_
                                if p["hole"]:
                                    keep = (r_ > FANCY_RANK_LO) & (
                                        r_ < FANCY_RANK_HI
                                    )
                                    dd, s = dd[keep], s[keep]
                                tis_o.append(
                                    np.full(len(dd), t_i, dtype=np.int32)
                                )
                                dids_o.append(dd)
                                scs_o.append(s)
                        if tis_o:
                            yield pd.DataFrame(
                                {
                                    "ti": np.concatenate(tis_o),
                                    "doc_id": np.concatenate(dids_o),
                                    "score": np.concatenate(scs_o),
                                }
                            )

                parts.append(
                    joined.mapInPandas(score_fn, schema=SCORED_SCHEMA)
                )
        if host:
            hdec = self._decode(
                host, use_fancy, intervals,
                per_term_intervals=per_term_intervals,
            )
            if hdec is not None:
                parts.append(self._score_rows(hdec, host, w, mode=mode))
        if not parts:
            return None
        out = parts[0]
        for pth in parts[1:]:
            out = out.unionByName(pth)
        return out

    # -- scoring -------------------------------------------------------------
    def _score_rows(
        self,
        decoded: DataFrame,
        terms: list[PlanTerm],
        w,
        mode: str = "deusu",
    ) -> DataFrame:
        """Join sidecars and compute per-posting scores, vectorized.

        mode='deusu': the exact reference score (searchservernew.dpr:874-899
        + host path :355-364). mode='bm25': textbook BM25 weight with binary
        TF (idf = ln(1+(N-df+0.5)/(df+0.5)), k1=1.2, b=0.75).
        """
        plan = {
            t.ti: {
                "idf": t.idf,
                "df": t.df,
                "include_bl": t.include_backlink,
                "is_host": t.host is not None,
                "is_set": t.action == "SET",
                "hole": bool(t.fancy_hole),
            }
            for t in terms
        }
        hole_tis = [ti for ti, p in plan.items() if p["hole"]]
        max_bl = int(self.meta["max_backlinks"])
        n_docs = int(self.meta["n_docs"])
        avgdl = self.avgdl if mode == "bm25" else 1.0
        dm = self._docmeta_cols
        if int(self.meta["n_docs"]) <= self.docmeta_broadcast_max_docs:
            dm = F.broadcast(dm)
        joined = decoded.join(dm, "doc_id")

        def score_fn(iterator):
            for pdf in iterator:
                n = len(pdf)
                if n == 0:
                    continue
                ti = pdf["ti"].to_numpy(np.int32)
                out = np.zeros(n, dtype=np.float64)
                flags = pdf["flags"].to_numpy(np.int64)
                fd = pdf["fd"].to_numpy(np.int64)
                he = pdf["he"].to_numpy(np.int64)
                rank = pdf["rank"].to_numpy(np.int64)
                bl = pdf["backlinks"].to_numpy(np.int64)
                dl = pdf["dl"].to_numpy(np.float64)
                for t_i, p in plan.items():
                    m = ti == t_i
                    if not m.any():
                        continue
                    out[m] = _term_score_block(
                        p, mode, n_docs, avgdl, max_bl, w,
                        flags[m], fd[m], he[m], rank[m], bl[m], dl[m],
                    )
                doc_id = pdf["doc_id"].to_numpy(np.int64)
                if hole_tis:
                    # fancy-hole terms (federation): the part has no fancy
                    # segments, so their full postings stand in — keep only
                    # docs inside the domain-rank window, the exact per-doc
                    # predicate the fancy encoder applies (build.py fancy
                    # emit; GenDb.dpr:1053-1071)
                    keep = np.ones(n, dtype=bool)
                    for t_i in hole_tis:
                        m = ti == t_i
                        keep[m] = (rank[m] > FANCY_RANK_LO) & (
                            rank[m] < FANCY_RANK_HI
                        )
                    ti, doc_id, out = ti[keep], doc_id[keep], out[keep]
                yield pd.DataFrame(
                    {"ti": ti, "doc_id": doc_id, "score": out}
                )

        return joined.mapInPandas(score_fn, schema=SCORED_SCHEMA)

    # -- single-term block-max top-k --------------------------------------------
    def _single_term_blockmax(
        self,
        t: PlanTerm,
        seg_meta: pd.DataFrame,
        fetch: int,
        w: dict[str, int],
        use_fancy: bool,
    ) -> list[tuple[int, int]]:
        """Exact WAND-style top-k for a single plain term: decode segments in
        descending score-bound order; stop once no remaining segment's bound
        can reach the current kth score (strict <; ties are decoded).

        seg_meta rows may be coarse doc-range blocks (two-level metadata) —
        the algorithm is unchanged; ranges just prune less tightly, and the
        per-doc dedup below absorbs any cross-round overlap."""
        sm = seg_meta[seg_meta["ti"] == t.ti]
        if sm.empty:
            return []
        ns = sm["n"].to_numpy(np.int64)
        bounds = np.minimum(np.round(sm["max_static"].to_numpy() * t.idf), SCORE_CLAMP)
        order = np.argsort(-bounds, kind="stable")
        firsts = sm["first_doc"].to_numpy(np.int64)
        lasts = sm["last_doc"].to_numpy(np.int64)

        def _iv(sel):
            return _merge_intervals(np.stack([firsts[sel], lasts[sel]], axis=1))

        # round 1: decode the highest-bound segments covering >= fetch postings
        got, pos = 0, 0
        batch = []
        while pos < len(order) and got < fetch:
            batch.append(order[pos])
            got += int(ns[order[pos]])
            pos += 1
        heap = self._decode_segments(t, _iv(np.array(batch)), use_fancy, w)
        heap.sort(key=lambda r: (-r[1], r[0]))
        self.last_stats.update(strategy="single_blockmax", segments_selected=len(batch))
        if pos >= len(order):
            return heap[:fetch]
        if len(heap) < fetch:
            # metadata said the batch covered >= fetch postings but fewer
            # survived decode (tombstone masking) — no theta exists yet, so
            # the remaining segments must all be decoded for exactness
            rest_all = np.array(order[pos:])
            heap.extend(self._decode_segments(t, _iv(rest_all), use_fancy, w))
            heap = list({d: (d, s) for d, s in heap}.values())
            heap.sort(key=lambda r: (-r[1], r[0]))
            self.last_stats["segments_selected"] = len(order)
            return heap[:fetch]

        # round 2: any remaining segment whose bound can still reach the kth
        # score (ties included) must be decoded; after that the top-k is exact
        # because bounds are true per-segment maxima of round(static * idf).
        # The -1 margin covers the <=1-point rounding drift between the
        # JVM-computed max_static and numpy query-side scores (build.py
        # static_score_col parity note).
        theta = heap[fetch - 1][1]
        rest = np.array([i for i in order[pos:] if bounds[i] >= theta - 1])
        if len(rest):
            heap.extend(self._decode_segments(t, _iv(rest), use_fancy, w))
            # range decodes may overlap across rounds; duplicates carry the
            # same exact score — keep one per doc
            heap = list({d: (d, s) for d, s in heap}.values())
            heap.sort(key=lambda r: (-r[1], r[0]))
            self.last_stats["segments_selected"] = len(batch) + len(rest)
        return heap[:fetch]

    def _decode_segments(
        self, t: PlanTerm, intervals: np.ndarray, use_fancy: bool, w
    ) -> list[tuple[int, int]]:
        kind = self._kind(t, use_fancy)
        b = crc32(t.key) % 64
        iv = _coarsen_intervals(intervals, self.max_range_predicates)
        segs = self._coalesce_scan(
            self.postings.where(
                (F.col("bucket") == b)
                & (F.col("term") == t.key)
                & (F.col("kind") == kind)
                & _interval_filter_expr(iv)
            ).select("blob")
        )
        decoded = segs.mapInPandas(
            _decode_only_fn(t.ti, self._tomb_bc), schema=DECODED_SCHEMA
        )
        scored = self._score_rows(decoded, [t], w)
        rows = scored.select("doc_id", "score").collect()
        return [(r["doc_id"], r["score"]) for r in rows]


def _decode_only_fn(ti: int, tomb_bc=None):
    def fn(iterator):
        tomb = tomb_bc.value if tomb_bc is not None else None
        for pdf in iterator:
            dids, fls = [], []
            for blob in pdf["blob"]:
                d, f = codec.decode(bytes(blob))
                if tomb is not None:
                    d, f = codec.remove_sorted(d, f, tomb)
                dids.append(d)
                fls.append(f.astype(np.int32))
            if dids:
                d = np.concatenate(dids)
                yield pd.DataFrame(
                    {
                        "ti": np.full(len(d), ti, dtype=np.int32),
                        "doc_id": d,
                        "flags": np.concatenate(fls),
                    }
                )

    return fn


class FederatedSearchEngine:
    """Distributed query-time federation over k INDEPENDENTLY BUILT indexes
    — rank-identical to ``SearchEngine`` over ``merge.merge_indexes()`` of
    the same indexes, without running the merge. The distributed twin of
    query_local.FederatedSearcher, with the same three globalizations:

    - global corpus stats: the query compiles ONCE against summed df and
      n_docs (merged idf), and each part's max-backlink / n_docs / avgdl
      normalizers are overridden with the values the merged meta.json
      would carry;
    - global doc ids: part i's local ids shift by Σ n_docs_<i — the exact
      offset rule merge.py applies when it rebases segments;
    - fancy holes: a term hot globally but cold in one part has no fancy
      segments there; PlanTerm.fancy_hole makes that part execute full
      postings masked by the domain-rank window at score time
      (_score_rows), the per-doc predicate merge.py materializes offline.

    Execution stays fully distributed: each part runs its own pruned
    passes (two-level metadata, interval intersection, block-max WAND —
    unchanged and still exact per part, so merged per-part top-k is the
    exact global top-k), submitted concurrently from a thread pool — on a
    cluster the per-part jobs share executors, so federating costs no
    repartition or rewrite of index files. The coordinator applies the
    reference's two-pass rule on the SUMMED candidate counts
    (searchservernew.dpr:1848-1855): per-part counts clamp at
    max(k, 1001) ≥ MAX_RESULTS, so the summed signal crosses the
    1000-results threshold exactly when the merged index's would.

    Use case: querying index versions published per-tenant / per-time-
    window (incremental.py deltas) before — or instead of — compaction."""

    def __init__(
        self,
        spark: SparkSession,
        index_roots: list[str],
        io=None,
        parallel: bool = True,
    ):
        from concurrent.futures import ThreadPoolExecutor

        self.spark = spark
        self.parts = [SearchEngine(spark, r, io=io) for r in index_roots]
        thrs = {int(p.meta["fancy_threshold"]) for p in self.parts}
        if len(thrs) != 1:
            raise ValueError(
                f"federation needs one fancy policy, got thresholds {thrs}"
            )
        self.offsets: list[int] = []
        off = 0
        for p in self.parts:
            self.offsets.append(off)
            off += int(p.meta["n_docs"])
        self.n_docs = off
        gmax_bl = max(int(p.meta["max_backlinks"]) for p in self.parts)
        self.meta = dict(self.parts[0].meta)
        self.meta["n_docs"] = self.n_docs
        self.meta["max_backlinks"] = gmax_bl
        for p in self.parts:
            # scoring normalizers the merged index would carry (parts are
            # owned by the federation; sharing one engine is not supported)
            p.meta = dict(p.meta)
            p.meta["n_docs"] = self.n_docs
            p.meta["max_backlinks"] = gmax_bl
        self._avgdl: float | None = None
        self._pool = (
            ThreadPoolExecutor(max_workers=len(self.parts))
            if parallel and len(self.parts) > 1
            else None
        )

    def _map_parts(self, fn):
        if self._pool is not None:
            return list(self._pool.map(fn, self.parts))
        return [fn(p) for p in self.parts]

    @property
    def avgdl(self) -> float:
        """Global avgdl = Σ dl over every part / total docs — what the
        merged docmeta would average. Pushed into each part so bm25's
        length normalization uses the federation-wide value."""
        if self._avgdl is None:
            totals = self._map_parts(
                lambda p: float(
                    p.docmeta.agg(F.sum("dl")).collect()[0][0] or 0.0
                )
            )
            self._avgdl = sum(totals) / max(self.n_docs, 1)
            for p in self.parts:
                p._avgdl = self._avgdl
        return self._avgdl

    def term_df(self, term: str) -> int:
        return sum(p.term_df(term) for p in self.parts)

    def suggest(self, term: str, k: int = 3) -> list[str]:
        """Federated did-you-mean, same globalization rule as the serving
        FederatedSearcher: every part contributes its FULL verified
        candidate set (one bounded job each, concurrent), ranking uses
        the SUMMED df — a term present in only one part competes on its
        true federation-wide frequency."""
        t = fold(term.lower()) if term else term
        if not t or self.term_df(t) > 0:
            return []
        dfs: dict[str, int] = {}
        for rows in self._map_parts(lambda p: p._suggest_rows(t)):
            for c, d in rows:
                dfs[c] = dfs.get(c, 0) + d
        scored = sorted(dfs.items(), key=lambda x: (-x[1], x[0]))
        return [c for c, _ in scored[:k]]

    def compile(self, query: str) -> list[PlanTerm]:
        """Global compile: ONE pruned metadata job per part (concurrent)
        prefetches every candidate term, then df sums across parts."""
        from .queryplan import host_of, parse_query

        cands = set()
        for kw in parse_query(query):
            key = kw[1:] if kw[:1] in "+-" else kw
            if host_of(key) is None and ":" not in key:
                cands.add(key)
        sc = sorted(cands)
        self._map_parts(lambda p: p._fetch_term_meta(sc))
        return compile_query(query, self.n_docs, self.term_df)

    def explain(self, query: str) -> dict:
        """Federated EXPLAIN: the GLOBAL plan plus per-part fancy holes
        (same shape as the serving FederatedSearcher.explain; the hole
        rule is _part_terms')."""
        from .queryplan import explain_plan

        terms = self.compile(query)
        out = explain_plan(
            query, terms, self.n_docs, self.meta["fancy_threshold"]
        )
        thr = self.meta["fancy_threshold"]
        bounds = self.offsets + [self.n_docs]
        out["parts"] = [
            {
                "part": i,
                "n_docs": bounds[i + 1] - bounds[i],
                "doc_offset": self.offsets[i],
                "fancy_holes": [
                    t.key
                    for t in terms
                    if t.host is None
                    and t.df > thr
                    and p.term_df(t.key) <= thr
                ],
            }
            for i, p in enumerate(self.parts)
        ]
        return out

    def _part_terms(
        self, p: SearchEngine, terms: list[PlanTerm], use_fancy: bool
    ) -> list[PlanTerm]:
        """Per-part plan: flag fancy holes (global df above the threshold,
        this part built below it). term_df is warm after compile() for
        plain terms — no extra jobs."""
        if not use_fancy:
            return terms
        import dataclasses

        thr = self.meta["fancy_threshold"]
        return [
            dataclasses.replace(t, fancy_hole=True)
            if t.host is None and t.df > thr and p.term_df(t.key) <= thr
            else t
            for t in terms
        ]

    def search(
        self,
        query: str,
        k: int = 10,
        weights: dict[str, int] | None = None,
        prune: bool = True,
        mode: str = "deusu",
    ) -> list[tuple[int, int]]:
        """Top-k [(doc_id, score)] on the federated (merged) id space, by
        (score desc, doc_id asc) — the SearchEngine.search contract."""
        w = dict(DEFAULT_WEIGHTS)
        if weights:
            w.update(weights)
        terms = self.compile(query)
        if not terms:
            return []
        prune = prune and w == DEFAULT_WEIGHTS and mode == "deusu"
        if mode == "bm25":
            _ = self.avgdl  # ensure the global normalizer is pushed down
        rows, _ = self._two_pass(terms, k, w, prune, mode)
        if mode == "bm25":
            return [(d, round(s, 6)) for d, s in rows[:k]]
        return [(d, int(s)) for d, s in rows[:k]]

    def _two_pass(self, terms, k, w, prune, mode):
        if mode == "deusu" and any(
            t.host is None and t.df > self.meta["fancy_threshold"]
            for t in terms
        ):
            rows, total = self._run(terms, k, w, True, prune, mode)
            if total >= MAX_RESULTS:
                return rows, total
        return self._run(terms, k, w, False, prune, mode)

    def _run(
        self, terms, k: int, w, use_fancy: bool, prune: bool, mode: str
    ) -> tuple[list[tuple[int, int]], int]:
        """One federated pass: every part executes its own pruned pass
        concurrently; merge by (score desc, global doc asc); sum counts."""

        def one_part(arg):
            p, off = arg
            rows, cnt = p._run_pass(
                self._part_terms(p, terms, use_fancy),
                k,
                w,
                use_fancy=use_fancy,
                prune=prune,
                need_count=use_fancy,
                mode=mode,
            )
            return cnt, [(d + off, s) for d, s in rows]

        args = list(zip(self.parts, self.offsets))
        if self._pool is not None:
            outs = list(self._pool.map(one_part, args))
        else:
            outs = [one_part(a) for a in args]
        merged: list[tuple[int, int]] = []
        total = 0
        for cnt, rows in outs:
            total += cnt
            merged.extend(rows)
        merged.sort(key=lambda r: (-r[1], r[0]))
        return merged, total

    def search_many(
        self,
        queries: list[str],
        k: int = 10,
        weights: dict[str, int] | None = None,
        prune: bool = True,
        mode: str = "deusu",
    ) -> list[list[tuple[int, int]]]:
        """Batch federation, fully amortized: ONE union metadata prefetch
        per part, then at most two union decode/score plans PER PART for
        the whole batch (fancy, then full for the under-filled queries) —
        N queries over P parts cost ~2·P plans, not N·P. The two-pass
        decision and fancy-hole flags stay per-query GLOBAL (parts' own
        search_many cannot be delegated to); per-query results are
        rank-identical to search()."""
        from .queryplan import host_of, parse_query

        w = dict(DEFAULT_WEIGHTS)
        if weights:
            w.update(weights)
        cands = set()
        for q in queries:
            for kw in parse_query(q):
                key = kw[1:] if kw[:1] in "+-" else kw
                if host_of(key) is None and ":" not in key:
                    cands.add(key)
        sc = sorted(cands)
        self._map_parts(lambda p: p._fetch_term_meta(sc))
        compiled = [self.compile(q) for q in queries]  # warm: no more jobs
        nt = 0
        for terms in compiled:
            for t in terms:
                t.ti = nt
                nt += 1
        prune = prune and w == DEFAULT_WEIGHTS and mode == "deusu"
        results: list[list[tuple[int, int]] | None] = [None] * len(queries)

        if mode == "bm25":
            _ = self.avgdl
            batch = [(qi, t) for qi, t in enumerate(compiled) if t]
            merged, _ = self._run_many(
                batch, {qi: k for qi, _ in batch}, w, False, mode, prune
            )
            return [
                [(d, round(s, 6)) for d, s in merged.get(qi, [])[:k]]
                if t
                else []
                for qi, t in enumerate(compiled)
            ]

        fancy_batch, full_batch = [], []
        for qi, terms in enumerate(compiled):
            if not terms:
                results[qi] = []
                continue
            has_fancy = any(
                t.host is None and t.df > self.meta["fancy_threshold"]
                for t in terms
            )
            (fancy_batch if has_fancy else full_batch).append((qi, terms))

        if fancy_batch:
            fetch = max(k, MAX_RESULTS + 1)
            merged, counts = self._run_many(
                fancy_batch, {qi: fetch for qi, _ in fancy_batch},
                w, True, mode, prune,
            )
            for qi, terms in fancy_batch:
                if counts.get(qi, 0) >= MAX_RESULTS:
                    results[qi] = [
                        (d, int(s)) for d, s in merged.get(qi, [])[:k]
                    ]
                else:
                    full_batch.append((qi, terms))
        if full_batch:
            merged, _ = self._run_many(
                full_batch, {qi: k for qi, _ in full_batch},
                w, False, mode, prune,
            )
            for qi, _ in full_batch:
                results[qi] = [(d, int(s)) for d, s in merged.get(qi, [])[:k]]
        return results  # type: ignore[return-value]

    def _run_many(
        self, batch, fetch_by_qi, w, use_fancy: bool, mode: str, prune: bool
    ) -> tuple[dict[int, list[tuple[int, float]]], dict[int, int]]:
        """One federated batch pass: every part runs ONE union plan for the
        whole batch (_execute_many, hole-flagged terms per part), parts
        concurrent. Returns (merged rows per query, summed count signal per
        query — per-part counts clamp at fetch ≥ 1001, so the summed
        ≥1000 decision matches the merged index's exactly)."""

        def one_part(arg):
            p, off = arg
            pb = [
                (qi, self._part_terms(p, terms, use_fancy))
                for qi, terms in batch
            ]
            out = p._execute_many(pb, fetch_by_qi, w, use_fancy, mode, prune)
            return {
                qi: [(d + off, s) for d, s in rows]
                for qi, rows in out.items()
            }

        args = list(zip(self.parts, self.offsets))
        if self._pool is not None:
            outs = list(self._pool.map(one_part, args))
        else:
            outs = [one_part(a) for a in args]
        merged: dict[int, list[tuple[int, float]]] = {
            qi: [] for qi, _ in batch
        }
        counts: dict[int, int] = {qi: 0 for qi, _ in batch}
        for po in outs:
            for qi, rows in po.items():
                counts[qi] += len(rows)
                merged[qi].extend(rows)
        for qi in merged:
            merged[qi].sort(key=lambda r: (-r[1], r[0]))
        return merged, counts

    def fetch_results(self, rows: list[tuple[int, int]]):
        """Q15 display fetch: resolve each global doc id to its owning
        part's docmeta (bisect on the offset table, one fetch per part),
        preserving order."""
        from .rerank import fetch_partitioned

        return fetch_partitioned(self.parts, self.offsets, rows, rebase=True)

    def query_info(self, query: str) -> dict:
        terms = self.compile(query)
        return {
            "corpussize": self.n_docs,
            "keywords": [
                {"keyword": t.key, "occurrences": t.df, "idf": round(t.idf, 6)}
                for t in terms
            ],
        }


def _term_score_block(
    p: dict,
    mode: str,
    n_docs: int,
    avgdl: float,
    max_bl: int,
    w,
    flags: np.ndarray,
    fd: np.ndarray,
    he: np.ndarray,
    rank: np.ndarray,
    bl: np.ndarray,
    dl: np.ndarray,
) -> np.ndarray:
    """Scores for ONE query-term's postings (arrays pre-masked to the
    term). ``p`` is the per-term plan entry (idf/df/include_bl/is_host/
    is_set). The single scoring implementation shared by the joined score
    stage (_score_rows) and the fused decode+score stage — the reference
    formula, searchservernew.dpr:874-899 + host path :355-364."""
    import math as _math

    if mode == "bm25":
        if p["is_host"]:
            return np.zeros(len(dl), dtype=np.float64)
        idf = _math.log(1.0 + (n_docs - p["df"] + 0.5) / (p["df"] + 0.5))
        return (
            idf
            * (1.2 + 1.0)
            / (1.0 + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
        )
    if p["is_host"]:
        v = np.full(len(fd), w["b1"], dtype=np.float64)
        v += (31 - (fd & 31)) * w["b7"]
        if p["is_set"]:
            v += np.round(_bl_value(bl, max_bl))
        return np.clip(v, 1, SCORE_CLAMP)
    s = static_scores(
        flags, fd, he, rank, bl, max_bl,
        include_backlink=p["include_bl"], weights=w,
    )
    return np.minimum(np.round(s * p["idf"]), SCORE_CLAMP)


def _bl_value(bl: np.ndarray, max_bl: int) -> np.ndarray:
    import math

    ln_mbl = math.log(max_bl) if max_bl > 0 else 0.0
    if ln_mbl <= 0:
        return np.where(bl == 0, 1.0, 0.0)
    return np.where(bl == 0, 1.0, 2500.0 * np.log(np.maximum(bl, 1)) / ln_mbl)


def _intersect_coverage(
    seg_meta: pd.DataFrame, pos_tis: list[int]
) -> tuple[np.ndarray | None, bool]:
    """Doc-range pruning for AND queries: a doc can only match if every
    positive term has a segment covering it. Returns (merged global
    intersection intervals, empty_flag). intervals None = no pruning
    possible; empty_flag True = the AND result is provably empty."""
    if len(pos_tis) < 2 or seg_meta.empty:
        return None, False
    inter = None
    for ti in pos_tis:
        sub = seg_meta[seg_meta["ti"] == ti]
        if sub.empty:
            # a positive term with no postings: AND result is empty
            return None, True
        iv = _merge_intervals(sub[["first_doc", "last_doc"]].to_numpy(np.int64))
        inter = iv if inter is None else _intersect_intervals(inter, iv)
        if len(inter) == 0:
            return inter, True
    return inter, False


def _coarsen_intervals(iv: np.ndarray, max_n: int) -> np.ndarray:
    """Reduce a sorted, disjoint interval list to <= max_n intervals by
    closing the smallest gaps — a SUPERSET of the input, so pruning built on
    it stays correct; it just decodes a few extra segments. This is what
    bounds every scan filter to a fixed number of range predicates instead
    of multi-megabyte literals."""
    if len(iv) <= max_n:
        return iv
    gaps = iv[1:, 0] - iv[:-1, 1]
    keep = np.sort(np.argsort(-gaps, kind="stable")[: max_n - 1])
    out, prev = [], 0
    for g in keep:
        out.append([iv[prev, 0], iv[g, 1]])
        prev = g + 1
    out.append([iv[prev, 0], iv[-1, 1]])
    return np.array(out, dtype=np.int64)


def _interval_filter_expr(iv: np.ndarray):
    """OR-chain of (first_doc <= hi AND last_doc >= lo) range predicates —
    pushed into the parquet scan (row-group min/max pruning)."""
    c = None
    for lo, hi in iv:
        e = (F.col("first_doc") <= int(hi)) & (F.col("last_doc") >= int(lo))
        c = e if c is None else (c | e)
    return c if c is not None else F.lit(False)


def _count_selected_postings(
    seg_meta: pd.DataFrame, intervals: np.ndarray | None
) -> int:
    """Σn of the metadata rows the current pruning selects — the estimated
    decode volume that decides whether WAND's extra passes pay off."""
    if seg_meta.empty:
        return 0
    if intervals is None:
        return int(seg_meta["n"].sum())
    keep = _overlaps_any(
        seg_meta["first_doc"].to_numpy(np.int64),
        seg_meta["last_doc"].to_numpy(np.int64),
        intervals,
    )
    return int(seg_meta["n"].to_numpy(np.int64)[keep].sum())


def _count_selected(seg_meta: pd.DataFrame, intervals: np.ndarray | None) -> int:
    """Driver-side bookkeeping: how many metadata rows the current pruning
    selects (exposed via SearchEngine.last_stats for tests/telemetry)."""
    if seg_meta.empty:
        return 0
    if intervals is None:
        return int(len(seg_meta))
    keep = _overlaps_any(
        seg_meta["first_doc"].to_numpy(np.int64),
        seg_meta["last_doc"].to_numpy(np.int64),
        intervals,
    )
    return int(keep.sum())


def _disjoint_bounded(
    lo: np.ndarray, hi: np.ndarray, b: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Merge STRICTLY overlapping (not merely adjacent) intervals, keeping
    the max bound — preserves per-interval bound tightness while giving the
    WAND sweep the disjoint per-term coverage it requires."""
    order = np.argsort(lo, kind="stable")
    out_lo: list[int] = []
    out_hi: list[int] = []
    out_b: list[float] = []
    for i in order:
        if out_lo and lo[i] <= out_hi[-1]:
            out_hi[-1] = max(out_hi[-1], int(hi[i]))
            out_b[-1] = max(out_b[-1], float(b[i]))
        else:
            out_lo.append(int(lo[i]))
            out_hi.append(int(hi[i]))
            out_b.append(float(b[i]))
    return (
        np.array(out_lo, dtype=np.int64),
        np.array(out_hi, dtype=np.int64),
        np.array(out_b, dtype=np.float64),
    )


def _merge_intervals(iv: np.ndarray) -> np.ndarray:
    if len(iv) == 0:
        return iv
    iv = iv[np.argsort(iv[:, 0])]
    out = [iv[0].tolist()]
    for lo, hi in iv[1:]:
        if lo <= out[-1][1] + 1:
            out[-1][1] = max(out[-1][1], hi)
        else:
            out.append([lo, hi])
    return np.array(out, dtype=np.int64)


def _intersect_intervals(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    out = []
    i = j = 0
    while i < len(a) and j < len(b):
        lo = max(a[i][0], b[j][0])
        hi = min(a[i][1], b[j][1])
        if lo <= hi:
            out.append([lo, hi])
        if a[i][1] < b[j][1]:
            i += 1
        else:
            j += 1
    return np.array(out, dtype=np.int64) if out else np.empty((0, 2), dtype=np.int64)


def _overlaps_any(lo: np.ndarray, hi: np.ndarray, inter: np.ndarray) -> np.ndarray:
    if len(inter) == 0:
        return np.zeros(len(lo), dtype=bool)
    keep = np.zeros(len(lo), dtype=bool)
    for ilo, ihi in inter:
        keep |= (lo <= ihi) & (hi >= ilo)
    return keep
