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

Every posting is scored inside the ``mapInPandas`` stages by
``scoring.score_term``, the same numpy kernel the serving tier
(query_local) calls on its resident sidecars.

The request rules are the one ``query_local._Coordinator`` every
searcher shares: compile, explain, suggest, the fancy-hole rule and the
two-pass rule, here with its provable under-fill shortcut
(``_fancy_bound``). ``_Distributed`` adds what only this tier does: the
one-job term-metadata prefetch, query_info and the search_many schedule.
SearchEngine and FederatedSearchEngine differ only in how a pass runs:
SearchEngine runs it on its own index, FederatedSearchEngine (a
``query_local._Federation``) runs it on every part and merges.

Pagination and the phrase, NEAR/w and proximity-ranked operators are
``query_local._SearchViews``, the one implementation every engine tier
shares: one request loop over this engine's search() and one set of
per-doc numpy kernels (``positions``). SearchEngine supplies only the
Spark read of the candidates' positions (``_candidate_positions``): a
pruned scan of the positions sidecar, decoded in mapInPandas, whose
candidate rows are collected to the driver.
"""

from __future__ import annotations

import json
import os
import threading
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import codec
from .build import current_index_dir
from .constants import DEFAULT_WEIGHTS, MAX_RESULTS, SCORE_CLAMP
from .queryplan import (
    PlanTerm,
    coarsen_intervals,
    lexicon_key,
    merge_intervals,
    parse_query,
)
from .query_local import _Coordinator, _Federation, _SearchViews
from .scoring import idf_scaled, location_mask, score_term, term_plan
from .synth import crc32

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

# score-side docmeta join strategy: up to this many docs the sidecars are
# broadcast into the python score stage; above it the sort-merge join
# stands — docmeta cannot broadcast at 10^12 docs
DOCMETA_BROADCAST_MAX_DOCS = 8_000_000


class _Distributed(_Coordinator):
    """The distributed tier's request front over the shared request
    rules, used by SearchEngine and FederatedSearchEngine: the one-job
    term-metadata prefetch, query_info, search and the search_many
    schedule. A subclass supplies ``_fancy_bound(terms)`` and the two
    passes: ``_pass(terms, k, w, use_fancy, prune, mode)`` → (rows by
    (score desc, doc_id asc), count signal), and
    ``_execute_many(batch, fetch_by_qi, w, use_fancy, mode, prune)`` →
    {qi: rows}, where a query's row count is its count signal."""

    def _prefetch(self, queries: list[str]) -> None:
        """One bucket/term-pruned metadata job per index for every
        lexicon key of ``queries``: df derivation, the fancy decisions
        and both passes then read the warm term-metadata cache."""
        keys = set()
        for q in queries:
            for kw in parse_query(q):
                key, in_lexicon = lexicon_key(kw)
                if in_lexicon:
                    keys.add(key)
        keys = sorted(keys)
        self._map(lambda e: e._fetch_term_meta(keys), self._indexes())

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
        w, prune = _request(weights, prune, mode)
        return _page(self._ranked(query, k, w, mode, prune), k, mode)

    def search_many(
        self,
        queries: list[str],
        k: int = 10,
        weights: dict[str, int] | None = None,
        prune: bool = True,
        mode: str = "deusu",
    ) -> list[list[tuple[int, int]]]:
        """Batch top-k: N queries amortized into ONE metadata job (per
        engine) + one union decode/score plan per pass (at most three
        passes: fancy and full side by side, then the full pass for the
        queries the fancy accelerator under-fills — the same two-pass
        rule as search(), searchservernew.dpr:1848-1855).

        This is the offline/throughput shape a training-data pipeline needs
        (millions of retrieval queries): per-query results are
        rank-identical to search(), but fixed per-job Spark overhead is
        paid once per batch instead of 2-3× per query. Terms shared by
        several queries are scanned and decoded once; the per-query AND /
        NOT / top-k all happen inside the single plan (groupBy (query,
        doc) + window), so nothing funnels through the driver beyond the
        k·N result rows."""
        w, prune = _request(weights, prune, mode)
        self._prefetch(queries)  # ONE job for the union of all queries
        compiled = [self.compile(q) for q in queries]  # warm: no more jobs
        nt = 0
        for terms in compiled:
            for t in terms:
                t.ti = nt
                nt += 1
        # (Routing single-term queries through per-query block-max jobs
        # instead of the union plan measured 5× SLOWER at 10M docs — 40
        # queries × per-job scan/scheduling overhead drowns the decode
        # savings; the union plan IS the batch shape.)
        fancy_batch, full_batch = [], []
        for qi, terms in enumerate(compiled):
            if terms:
                runs_fancy = self._runs_fancy(terms, mode)
                (fancy_batch if runs_fancy else full_batch).append((qi, terms))
        fetch = max(k, MAX_RESULTS + 1)

        def run(batch, use_fancy):
            n = fetch if use_fancy else k
            return self._execute_many(
                batch, {qi: n for qi, _ in batch}, w, use_fancy, mode, prune
            )

        # the sidecar broadcasts, once, outside the threads
        self._map(lambda e: e._sidecars_py(), self._indexes())
        # the fancy pass and the no-fancy full pass touch DISJOINT query
        # sets — run their plans CONCURRENTLY (Spark schedules jobs from
        # separate threads side by side), then a residual full pass picks
        # up only the fancy queries the accelerator under-filled
        out_fancy: dict = {}
        out_full: dict = {}
        if fancy_batch and full_batch:
            with ThreadPoolExecutor(max_workers=2) as ex:
                f_fancy = ex.submit(run, fancy_batch, True)
                f_full = ex.submit(run, full_batch, False)
                out_fancy, out_full = f_fancy.result(), f_full.result()
        elif fancy_batch:
            out_fancy = run(fancy_batch, True)
        elif full_batch:
            out_full = run(full_batch, False)
        out = {**out_fancy, **out_full}
        residual = [
            (qi, terms)
            for qi, terms in fancy_batch
            if len(out.get(qi, [])) < MAX_RESULTS
        ]
        if residual:
            out.update(run(residual, False))
        return [_page(out.get(qi, []), k, mode) for qi in range(len(queries))]


class SearchEngine(_Distributed, _SearchViews):
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
        # score-side docmeta join strategy (also picks the cache layout
        # just below); settable per engine, like wand_min_postings
        self.docmeta_broadcast_max_docs = DOCMETA_BROADCAST_MAX_DOCS
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
    def _own_df(self, term: str) -> int:
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
        coordinator can rank by GLOBAL df (LocalSearcher._suggest_rows is
        the serving twin)."""
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

    # the shared batch driver, also bound in this class's own namespace:
    # perfbench/trace.py wraps SearchEngine.search_many from the class
    # dict, which then times this engine's batches only
    search_many = _Distributed.search_many

    def _fancy_bound(self, terms: list[PlanTerm]) -> int | None:
        """Upper bound on the fancy pass's result count: the AND result
        set is no larger than any positive term's posting count in the
        kind that pass reads (fancy for hot terms, full for cold terms and
        fancy holes, which only over-estimates). Host terms' doc counts
        are not in the term metadata → None (keep the two-pass
        protocol)."""
        frames = self._fetch_term_meta(
            sorted({t.key for t in terms if t.host is None})
        )
        bound = None
        for t in terms:
            if t.action == "NOT":
                continue
            if t.host is not None:
                return None
            sub = frames.get(t.key)
            kind = self._postings_kind(t.key, t.df, True)[0]
            n = (
                int(sub[sub["kind"] == kind]["n"].sum()) if sub is not None else 0
            )
            bound = n if bound is None else min(bound, n)
        return bound

    def _pass(self, terms, k, w, use_fancy, prune, mode):
        return self._run_pass(
            terms, k, w, use_fancy=use_fancy, prune=prune,
            need_count=use_fancy, mode=mode,
        )

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
        # (key, host, url/title filter, backlink-asymmetry, SET) group
        # (a pass's postings kind follows from the key); the per-query
        # fan-out happens AFTER scoring as a broadcast join on the
        # (group → query-term) map, so the Arrow transfer and the score
        # stage carry each posting once
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

    def _candidate_positions(
        self, terms, cand: np.ndarray
    ) -> dict[str, dict[int, np.ndarray]]:
        """term → {candidate doc → positions} for the sorted ids ``cand``:
        one scan of the terms' positions segments, pushed down to their
        bucket/term and the candidates' coarsened doc ranges and read
        through ``self.io`` (Iceberg too), decoded by
        positions.doc_positions in mapInPandas. Only candidate docs'
        positions reach the driver: candidates × terms × positions per
        doc, and the positional request loop bounds the candidates."""
        from .positions import doc_positions

        iv = coarsen_intervals(
            merge_intervals(np.stack([cand, cand], axis=1)),
            self.max_range_predicates,
        )
        rngs = " OR ".join(
            f"(first_doc <= {hi} AND last_doc >= {lo})" for lo, hi in iv.tolist()
        )
        conds = []
        for t in terms:
            tq = t.replace("'", "''")
            conds.append(f"(bucket = {crc32(t) % 64} AND term = '{tq}' AND ({rngs}))")
        segs = self.io.read(os.path.join(self.vdir, "positions")).where(
            F.expr(" OR ".join(conds))
        )
        cand_bc = self.spark.sparkContext.broadcast(cand)

        def decode(iterator):
            for pdf in iterator:
                out = {"term": [], "doc_id": [], "pos": []}
                for term, blob in zip(pdf["term"], pdf["blob"]):
                    for d, p in doc_positions(bytes(blob), cand_bc.value).items():
                        out["term"].append(term)
                        out["doc_id"].append(d)
                        out["pos"].append(p)
                yield pd.DataFrame(out)

        try:
            rows = (
                self._coalesce_scan(segs.select("term", "blob"))
                .mapInPandas(decode, schema="term string, doc_id long, pos array<long>")
                .collect()
            )
        finally:
            cand_bc.unpersist()
        term_pos: dict[str, dict[int, np.ndarray]] = {t: {} for t in terms}
        for r in rows:
            term_pos[r["term"]][r["doc_id"]] = np.asarray(r["pos"], dtype=np.int64)
        return term_pos

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
        count_signal = min(ResultCount, max(k, 1001)) = len(rows) — enough
        for the two-pass '<1000 results → full pass' decision
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
            intervals = coarsen_intervals(intervals, self.max_range_predicates)
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
                idf_scaled(sub["max_static"].to_numpy(np.float64), idf[t.ti]),
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
            iv = merge_intervals(np.stack([alo, ahi], axis=1))
            rows = self._execute(
                terms, pos, neg, seg_meta, iv, fetch, w, use_fancy, mode
            )
            self.last_stats.update(
                strategy="wand_all", segments_selected=_count_selected(seg_meta, iv)
            )
            return rows, len(rows)
        sel_a = by_bound[:n_a]
        iv_a = merge_intervals(np.stack([alo[sel_a], ahi[sel_a]], axis=1))
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
        iv_b = merge_intervals(np.stack([alo[sel_b], ahi[sel_b]], axis=1))
        rows = self._execute(
            terms, pos, neg, seg_meta, iv_b, fetch, w, use_fancy, mode
        )
        self.last_stats.update(
            strategy="wand", segments_selected=_count_selected(seg_meta, iv_b)
        )
        return rows, len(rows)

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
            kind = self._postings_kind(t.key, t.df, use_fancy)[0]
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

        Returns (segs DataFrame | None, specs, groups): specs maps
        (term, kind) → [(gi, url_only, title_only)], one entry per
        distinct location mask, and groups maps gi → the query terms' ti
        scored from that group's postings — the decode stage decodes
        each blob once and masks it once per group.

        ``intervals`` reaches the scan as (first_doc <= hi AND last_doc
        >= lo) range predicates — parquet row-group stats prune them; no
        isin literals. ``per_term_intervals`` (batch mode) overrides it
        per ``t.ti``: a term shared by several queries scans the UNION of
        its queries' intervals (absent key = that query is unrestricted,
        so the shared scan must be too). Unions only loosen pruning — the
        per-query AND/NOT aggregation downstream filters exactly.

        The predicate is built as ONE SQL string and parsed once:
        building the same tree with Column operators costs a py4j round
        trip per operator (~4 s of driver wall on a 120-term batch);
        Catalyst sees identical predicates either way, so pushdown and
        bucket-directory pruning are unchanged."""
        specs: dict[tuple[str, str], list[tuple[int, bool, bool]]] = {}
        groups: dict[int, list[int]] = {}
        gkey: dict[tuple, int] = {}
        key_iv: dict[tuple[str, str], list | None] = {}
        for t in terms:
            if t.host is not None:
                continue
            kind = self._postings_kind(t.key, t.df, use_fancy)[0]
            k2 = (t.key, kind)
            k4 = (t.key, kind, t.url_only, t.title_only)
            if k4 not in gkey:
                gkey[k4] = len(gkey)
                specs.setdefault(k2, []).append(
                    (gkey[k4], t.url_only, t.title_only)
                )
                groups[gkey[k4]] = []
            groups[gkey[k4]].append(t.ti)
            iv_t = _iv_for(t, intervals, per_term_intervals)
            if k2 not in key_iv:
                key_iv[k2] = [] if iv_t is not None else None
            if key_iv[k2] is not None:
                if iv_t is None:
                    key_iv[k2] = None
                else:
                    key_iv[k2].append(iv_t)
        if not key_iv:
            return None, specs, groups
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
                iv = coarsen_intervals(
                    merge_intervals(np.concatenate(ivs)), per_key_cap
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
        return segs, specs, groups

    def _host_rows(
        self,
        terms: list[PlanTerm],
        intervals: np.ndarray | None,
        per_term_intervals: dict[int, np.ndarray] | None,
    ) -> DataFrame:
        """(ti, doc_id, flags=0) rows of HOST terms: host_postings ≡
        docmeta filtered by host, tombstoned docs removed. When an AND
        interval restriction exists, docs outside it cannot be candidates
        (they lack some plain term's coverage) — filter them at the scan."""
        out = None
        for t in terms:
            hc = F.col("host") == t.host
            iv_t = _iv_for(t, intervals, per_term_intervals)
            if iv_t is not None:
                iv_t = coarsen_intervals(iv_t, self.max_range_predicates)
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
            out = hp if out is None else out.unionByName(hp)
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
        """Scored postings (ti, doc_id, score) of the query terms.

        Under the sidecar broadcast cap each blob is decoded AND scored
        inside ONE python stage (sidecar lookup is a vectorized
        searchsorted against the broadcast arrays), so each posting
        crosses the JVM↔Arrow boundary once and the per-posting docmeta
        join disappears from the plan. Above the cap the decoded postings
        sort-merge join docmeta with ONE row per distinct (term, kind,
        location mask) group, and the fan-out to query terms happens
        after the join, inside the score stage: a 120-query batch shares
        its hot terms across dozens of queries, and fanning out before
        the join shuffled each shared term's postings once PER QUERY (the
        dominant cost of the 10M-doc batch profile). Host terms
        (docmeta-derived rows, no blobs) always take the joined score
        stage — they are per-host-sized, not corpus-sized.

        Scores are bit-identical on every path: all call
        scoring.score_term on the same arrays."""
        segs, specs, groups = self._plain_scan(
            terms, use_fancy, intervals, per_term_intervals
        )
        # a fancy hole keeps only its fancy-window docs at score time
        plan = {
            t.ti: term_plan(
                t,
                t.host is None and self._postings_kind(t.key, t.df, use_fancy)[1],
            )
            for t in terms
        }
        ctx = self._score_ctx(w, mode)
        parts: list[DataFrame] = []
        if segs is not None:
            side = self._sidecars_py()
            if side is not None:
                fn = _fused_score_fn(side, self._tomb_bc, specs, groups, plan, ctx)
                parts.append(segs.mapInPandas(fn, schema=SCORED_SCHEMA))
            else:
                decoded = segs.mapInPandas(
                    _decode_fn(self._tomb_bc, specs), schema=DECODED_SCHEMA
                )
                parts.append(self._score_rows(decoded, groups, plan, ctx))
        host = [t for t in terms if t.host is not None]
        if host:
            parts.append(
                self._score_rows(
                    self._host_rows(host, intervals, per_term_intervals),
                    {t.ti: [t.ti] for t in host},
                    plan,
                    ctx,
                )
            )
        if not parts:
            return None
        out = parts[0]
        for pth in parts[1:]:
            out = out.unionByName(pth)
        return out

    # -- scoring -------------------------------------------------------------
    def _score_ctx(self, w, mode: str) -> dict:
        """The scoring kernels' per-query constants (avgdl only for bm25:
        computing it costs a Spark job)."""
        return dict(
            mode=mode,
            w=w,
            max_bl=int(self.meta["max_backlinks"]),
            n_docs=int(self.meta["n_docs"]),
            avgdl=self.avgdl if mode == "bm25" else 1.0,
        )

    def _score_rows(
        self,
        decoded: DataFrame,
        groups: dict[int, list[int]],
        plan: dict[int, dict],
        ctx: dict,
    ) -> DataFrame:
        """Join decoded (gi, doc_id, flags) rows to the docmeta sidecars
        (broadcast under the cap, sort-merge above it) and score each
        group's rows once per query term ti in ``groups[gi]`` with
        scoring.score_term."""
        dm = self._docmeta_cols
        if int(self.meta["n_docs"]) <= self.docmeta_broadcast_max_docs:
            dm = F.broadcast(dm)
        return decoded.join(dm, "doc_id").mapInPandas(
            _joined_score_fn(groups, plan, ctx), schema=SCORED_SCHEMA
        )

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
        bounds = idf_scaled(sm["max_static"].to_numpy(), t.idf)
        order = np.argsort(-bounds, kind="stable")
        firsts = sm["first_doc"].to_numpy(np.int64)
        lasts = sm["last_doc"].to_numpy(np.int64)

        def decode(sel) -> list[tuple[int, int]]:
            iv = merge_intervals(np.stack([firsts[sel], lasts[sel]], axis=1))
            scored = self._decode_score([t], use_fancy, iv, None, w, "deusu")
            rows = scored.select("doc_id", "score").collect()
            return [(r["doc_id"], r["score"]) for r in rows]

        # round 1: decode the highest-bound segments covering >= fetch postings
        got, pos = 0, 0
        batch = []
        while pos < len(order) and got < fetch:
            batch.append(order[pos])
            got += int(ns[order[pos]])
            pos += 1
        heap = decode(np.array(batch))
        heap.sort(key=lambda r: (-r[1], r[0]))
        self.last_stats.update(strategy="single_blockmax", segments_selected=len(batch))
        if pos >= len(order):
            return heap[:fetch]
        if len(heap) < fetch:
            # metadata said the batch covered >= fetch postings but fewer
            # survived decode (tombstone masking) — no theta exists yet, so
            # the remaining segments must all be decoded for exactness
            heap.extend(decode(np.array(order[pos:])))
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
            heap.extend(decode(rest))
            # range decodes may overlap across rounds; duplicates carry the
            # same exact score — keep one per doc
            heap = list({d: (d, s) for d, s in heap}.values())
            heap.sort(key=lambda r: (-r[1], r[0]))
            self.last_stats["segments_selected"] = len(batch) + len(rest)
        return heap[:fetch]

class FederatedSearchEngine(_Federation, _Distributed):
    """The distributed federation (``query_local._Federation``): every
    part is a SearchEngine, rank-identical to ``SearchEngine`` over
    ``merge.merge_indexes()`` of the same indexes. The global n_docs and
    max-backlink normalizers go into each part's meta, the global avgdl
    into each part once bm25 needs it.

    Execution stays fully distributed: each part runs its own pruned
    passes (two-level metadata, interval intersection, block-max WAND —
    unchanged and still exact per part, so merged per-part top-k is the
    exact global top-k), submitted concurrently from a thread pool — on a
    cluster the per-part jobs share executors, so federating costs no
    repartition or rewrite of index files. The shared two-pass rule runs
    on the SUMMED candidate counts (searchservernew.dpr:1848-1855):
    per-part counts clamp at max(k, 1001) ≥ MAX_RESULTS, so the summed
    signal crosses the 1000-results threshold exactly when the merged
    index's would."""

    def __init__(
        self,
        spark: SparkSession,
        index_roots: list[str],
        io=None,
        parallel: bool = True,
    ):
        self.spark = spark
        self._federate([SearchEngine(spark, r, io=io) for r in index_roots])
        for p in self.parts:
            # scoring normalizers the merged index would carry (parts are
            # owned by the federation; sharing one engine is not supported)
            p.meta = dict(
                p.meta,
                n_docs=self.n_docs,
                max_backlinks=self.meta["max_backlinks"],
            )
        self._avgdl: float | None = None
        self._init_pool(len(self.parts), parallel)

    @property
    def avgdl(self) -> float:
        """Global avgdl = Σ dl over every part / total docs — what the
        merged docmeta would average. Pushed into each part so bm25's
        length normalization uses the federation-wide value."""
        if self._avgdl is None:
            totals = self._map(
                lambda p: float(
                    p.docmeta.agg(F.sum("dl")).collect()[0][0] or 0.0
                ),
                self.parts,
            )
            self._avgdl = sum(totals) / max(self.n_docs, 1)
            for p in self.parts:
                p._avgdl = self._avgdl
        return self._avgdl

    def _fancy_bound(self, terms: list[PlanTerm]) -> int | None:
        """Σ of the parts' fancy-count bounds (a part reads a fancy hole's
        full postings, which can only over-estimate its fancy count)."""
        bounds = [p._fancy_bound(terms) for p in self.parts]
        return None if None in bounds else sum(bounds)

    def _pass(self, terms, k, w, use_fancy, prune, mode):
        """One federated pass: every part executes its own pruned pass,
        concurrently."""
        rows = self._merge_parts(
            lambda p: {0: p._pass(terms, k, w, use_fancy, prune, mode)[0]}, mode
        ).get(0, [])
        return rows, len(rows)

    def _execute_many(self, batch, fetch_by_qi, w, use_fancy, mode, prune):
        """One federated batch pass: every part runs ONE union plan for the
        whole batch (SearchEngine._execute_many), parts concurrent — N
        queries over P parts cost ~P plans per pass, not N·P."""
        return self._merge_parts(
            lambda p: p._execute_many(batch, fetch_by_qi, w, use_fancy, mode, prune),
            mode,
        )

    def _merge_parts(self, run, mode: str) -> dict[int, list]:
        """``run(part)`` → {qi: rows} on every part; each part's rows shift
        by its doc-id offset and merge per qi by (score desc, global doc
        asc). Nothing is cut, so a merged list's length is the SUM of the
        parts' count signals (a part's signal is its row count, clamped at
        fetch)."""
        if mode == "bm25":
            _ = self.avgdl  # push the global normalizer into every part
        merged: dict[int, list] = {}
        for off, out in zip(self.offsets, self._map(run, self.parts)):
            for qi, rows in out.items():
                merged.setdefault(qi, []).extend((d + off, s) for d, s in rows)
        for rows in merged.values():
            rows.sort(key=lambda r: (-r[1], r[0]))
        return merged


def _sidecar_cols(pdf: pd.DataFrame) -> dict[str, np.ndarray]:
    """The scoring kernels' sidecar arrays from a docmeta-joined batch."""
    return {
        "fd": pdf["fd"].to_numpy(np.int64),
        "he": pdf["he"].to_numpy(np.int64),
        "rank": pdf["rank"].to_numpy(np.int64),
        "bl": pdf["backlinks"].to_numpy(np.int64),
        "dl": pdf["dl"].to_numpy(np.float64),
    }


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
        iv = merge_intervals(sub[["first_doc", "last_doc"]].to_numpy(np.int64))
        inter = iv if inter is None else _intersect_intervals(inter, iv)
        if len(inter) == 0:
            return inter, True
    return inter, False


def _request(weights, prune: bool, mode: str) -> tuple[dict[str, int], bool]:
    """A request's weights (defaults overlaid) and whether it may prune:
    block-max bounds are computed for default deusu weights at build."""
    w = dict(DEFAULT_WEIGHTS)
    if weights:
        w.update(weights)
    return w, prune and w == DEFAULT_WEIGHTS and mode == "deusu"


def _page(rows, k: int, mode: str) -> list[tuple[int, int]]:
    """The top k of a pass's rows as the API returns them: integer deusu
    scores, bm25 scores rounded to 6 places."""
    if mode == "bm25":
        return [(d, round(s, 6)) for d, s in rows[:k]]
    return [(d, int(s)) for d, s in rows[:k]]


def _iv_for(t: PlanTerm, intervals, per_term_intervals):
    if per_term_intervals is not None:
        return per_term_intervals.get(t.ti)
    return intervals


def _decoded(pdf: pd.DataFrame, tomb):
    """(term, kind, docs, flags) of each scanned blob, tombstoned docs
    removed — masking at decode keeps every downstream count, WAND θ and
    two-pass decision consistent with the serving engine."""
    for term, kind, blob in zip(pdf["term"], pdf["kind"], pdf["blob"]):
        docs, flags = codec.decode(bytes(blob))
        if tomb is not None:
            docs, flags = codec.remove_sorted(docs, flags, tomb)
        yield term, kind, docs, flags


def _frame(tis: list, dids: list, col: str, vals: list) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "ti": np.concatenate(tis),
            "doc_id": np.concatenate(dids),
            col: np.concatenate(vals),
        }
    )


def _fused_score_fn(side_bc, tomb_bc, specs, groups, plan, ctx):
    """mapInPandas body of the fused stage: decode each blob and score it
    against the broadcast sidecar arrays in the same task."""

    def fn(iterator):
        sc = side_bc.value
        ids = sc["ids"]
        tomb = tomb_bc.value if tomb_bc is not None else None
        for pdf in iterator:
            tis, dids, scs = [], [], []
            for term, kind, docs, flags in _decoded(pdf, tomb):
                pos = np.searchsorted(ids, docs)
                # membership mask: a decoded doc_id absent from docmeta
                # must DROP (inner-join semantics of the joined path), not
                # alias a neighbor's sidecar row
                ok = pos < len(ids)
                hit = np.zeros(len(docs), dtype=bool)
                hit[ok] = ids[pos[ok]] == docs[ok]
                if not hit.all():
                    docs, flags, pos = docs[hit], flags[hit], pos[hit]
                if not len(docs):
                    continue
                side = {c: sc[c][pos] for c in ("fd", "he", "rank", "bl", "dl")}
                for gi, uo, to in specs[(term, kind)]:
                    m = location_mask(flags, uo, to)
                    for ti in groups[gi]:
                        d, s = score_term(
                            plan[ti], docs[m], flags[m], side, m, **ctx
                        )
                        tis.append(np.full(len(d), ti, dtype=np.int32))
                        dids.append(d)
                        scs.append(s)
            if tis:
                yield _frame(tis, dids, "score", scs)

    return fn


def _decode_fn(tomb_bc, specs):
    """mapInPandas body of the above-cap decode stage: one (gi, doc_id,
    flags) row per posting of each location-mask group."""

    def fn(iterator):
        tomb = tomb_bc.value if tomb_bc is not None else None
        for pdf in iterator:
            gis, dids, fls = [], [], []
            for term, kind, docs, flags in _decoded(pdf, tomb):
                for gi, uo, to in specs[(term, kind)]:
                    m = location_mask(flags, uo, to)
                    d = docs[m]
                    gis.append(np.full(len(d), gi, dtype=np.int32))
                    dids.append(d)
                    fls.append(flags[m].astype(np.int32))
            if gis:
                yield _frame(gis, dids, "flags", fls)

    return fn


def _joined_score_fn(groups, plan, ctx):
    """mapInPandas body of the joined score stage: each docmeta-joined
    group's rows are scored once per query term of the group."""

    def fn(iterator):
        for pdf in iterator:
            if len(pdf) == 0:
                continue
            gi = pdf["ti"].to_numpy(np.int32)
            flags = pdf["flags"].to_numpy(np.int64)
            doc_id = pdf["doc_id"].to_numpy(np.int64)
            side = _sidecar_cols(pdf)
            tis, dids, scs = [], [], []
            for g, members in groups.items():
                m = gi == g
                if not m.any():
                    continue
                side_g = {c: a[m] for c, a in side.items()}
                docs_g, flags_g = doc_id[m], flags[m]
                for ti in members:
                    d, s = score_term(
                        plan[ti], docs_g, flags_g, side_g, None, **ctx
                    )
                    tis.append(np.full(len(d), ti, dtype=np.int32))
                    dids.append(d)
                    scs.append(s)
            if tis:
                yield _frame(tis, dids, "score", scs)

    return fn


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
