"""Serving-mode searcher: answers queries from the *built* index with
numpy + pyarrow only — no Spark jobs per query.

This is the architectural twin of the reference's query server
(searchservernew.dpr:1464-1632 LoadCacheData slurps the per-doc sidecar
vectors into RAM and streams postings from the keys/fancy files): docmeta
sidecars live in driver arrays, posting segments are read lazily through
pyarrow with bucket/term predicate pushdown. Use it for interactive /
high-QPS serving; use query.SearchEngine for distributed batch scoring.
Both are rank-identical to the oracle (tested).

The DocMeta display columns (url, host, title, description, rank,
backlinks) are resident too, in doc-id order, so the ShowLink display
fetch (``fetch_results``) is a numpy take that hands R1-R4 a columnar
``rerank.Candidates``. Beside them sits the per-doc R1 feature memo
(``rerank.doc_features``: the normalized URL, domain, title and snippet
and the URL shape), filled the first time a doc is a re-rank candidate.
On the synthetic transcript corpus the display strings cost about
0.4 KB per doc and a filled memo entry about 0.6 KB. ShardedSearcher and
FederatedSearcher route each fetched id to the shard or part that owns
it, one fetch per owner.

All three searchers share one request path (``_Coordinator``): the Q14
result cache, the reference's two-pass rule and batch search. They differ
only in how a pass runs: LocalSearcher runs it on its own docs, while
ShardedSearcher and FederatedSearcher (``_FanOut``) run it on every member
searcher and merge. Each posting is scored by ``scoring.term_scores``, the
kernel the distributed engine's Spark stages call too.

Pagination and phrase, NEAR/w and proximity-ranked retrieval are
``_SearchViews``, which LocalSearcher, ShardedSearcher and the distributed
query.SearchEngine all use; a tier supplies only the read of its
candidates' positions."""

from __future__ import annotations

import json
import os
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow.dataset as pads

from .build import current_index_dir, load_tombstones
from .constants import DEFAULT_WEIGHTS, MAX_RESULTS, SCORE_CLAMP
from .queryplan import PlanTerm, compile_query, is_fancy_term, needs_fancy_pass
from .scoring import in_fancy_window, location_mask, term_plan, term_scores
from .textproc import fold
from . import codec
from .synth import crc32


class _Coordinator:
    """The serving query server's request path, shared by every serving
    searcher: the Q14 result cache in front of everything, the
    reference's two-pass rule, and batch search. A subclass supplies
    ``meta``, ``compile(query)`` and ``_pass(terms, w, use_fancy, mode,
    fetch, min_count)``, which returns one pass's top ``fetch`` rows by
    (score desc, doc_id asc), or None when the pass found fewer than
    ``min_count`` candidates (so a discarded pass builds no top-k)."""

    def _init_result_cache(self) -> None:
        # Q14 result cache — searchservernew.dpr:1077-1101: 2048 slots keyed
        # by crc32 of (query, weights, mode); a slot holds ONE entry (new
        # queries evict colliding ones), hits must match the full key. The
        # reference caches the whole top-1000 so pagination re-slices for
        # free; we do the same. A coordinator keeps it in front of its
        # fan-out, so a repeat costs no member work.
        self._result_cache: dict[int, tuple[str, list]] = {}
        self.cache_slots = 2048
        self.cache_hits = 0
        self.cache_misses = 0

    def search(
        self,
        query: str,
        k: int = 10,
        weights: dict[str, int] | None = None,
        mode: str = "deusu",
    ) -> list[tuple[int, int]]:
        w = dict(DEFAULT_WEIGHTS)
        if weights:
            w.update(weights)
        # Q14: the top-1000 for (query, weights, mode) is cached whole; any
        # k <= 1000 (and any pagination slice) is served from the cached
        # list. Larger k (an API extension beyond the reference's top-1000
        # contract) bypasses the cache so results never depend on call order.
        if k > MAX_RESULTS:
            return self._search_uncached(query, k, w, mode)[:k]
        cache_key = f"{query}\x00{mode}\x00{sorted(w.items())}"
        slot = crc32(cache_key) % self.cache_slots
        hit = self._result_cache.get(slot)
        if hit is not None and hit[0] == cache_key:
            self.cache_hits += 1
            return hit[1][:k]
        self.cache_misses += 1
        rows = self._search_uncached(query, k, w, mode)
        self._result_cache[slot] = (cache_key, rows)
        return rows[:k]

    def search_many(
        self,
        queries: list[str],
        k: int = 10,
        weights: dict[str, int] | None = None,
        mode: str = "deusu",
    ) -> list[list[tuple[int, int]]]:
        """Batch serving twin of SearchEngine.search_many: per-query results
        identical to search(). The amortization is the decoded-term cache —
        a (term, kind) shared by several queries in the batch is read and
        varbyte-decoded once per searcher — plus the Q14 result cache for
        repeats."""
        return [
            self.search(q, k=k, weights=weights, mode=mode) for q in queries
        ]

    def _search_uncached(
        self, query: str, k: int, w: dict[str, int], mode: str
    ) -> list[tuple[int, int]]:
        terms = self.compile(query)
        if not terms:
            return []
        fetch = max(k, MAX_RESULTS)  # cache the full top-1000
        # two-pass rule (searchservernew.dpr:1836-1855): the fancy pass
        # stands only if it finds at least MAX_RESULTS candidates
        if mode != "bm25" and needs_fancy_pass(
            terms, self.meta["fancy_threshold"]
        ):
            rows = self._pass(terms, w, True, mode, fetch, MAX_RESULTS)
            if rows is not None:
                return rows
        return self._pass(terms, w, False, mode, fetch, 0)


class _SearchViews:
    """Views over a tier's own ranked ``search()``, shared by every engine
    tier (LocalSearcher, ShardedSearcher and query.SearchEngine): the
    result page, and phrase, NEAR/w and proximity-ranked retrieval over
    the positions sidecar (build_index(positions=True)).

    The positional operators AND-retrieve in score order and check the
    candidates with the per-doc kernels of ``positions``. A tier supplies
    only ``_candidate_positions(terms, ids)`` → {term: {doc: positions}}
    for sorted candidate ids (a pyarrow read on the serving tier, a Spark
    scan on the distributed one). ``_on_owners(cand, fn)`` returns
    ``fn(searcher, ids)`` for each searcher owning some of the sorted
    candidate ids: the searcher itself, or, on ShardedSearcher, every
    shard holding some of them. So all tiers are rank-identical (tested).
    Positions are a documented deviation from the positionless reference
    (DbTypes.pas:119-127): the verify decodes only the candidates'
    segments and never rescans ``text``."""

    def search_page(
        self, query: str, startwith: int = 1, showcount: int = 10, **kw
    ) -> list[tuple[int, int]]:
        """Pagination — searchservernew.dpr:1820-1821,1328-1363:
        startwith clamped 1..991, showcount 10..1000, results beyond 1000
        never shown (startwith > 991 yields nothing beyond the top-1000)."""
        startwith = min(max(startwith, 1), 991)
        showcount = min(max(showcount, 10), 1000)
        rows = self.search(query, k=min(startwith + showcount - 1, 1000), **kw)
        return rows[startwith - 1 :]

    def _on_owners(self, cand: np.ndarray, fn) -> list:
        return [fn(self, cand)]

    def _positional_pattern(self, query: str) -> list[tuple[int, str]]:
        from .positions import has_positions, phrase_pattern

        if not has_positions(self.vdir):
            raise RuntimeError(
                "no positions sidecar on this index — build with "
                "build_index(positions=True)"
            )
        return phrase_pattern(query)

    def _per_owner(self, terms, cand: np.ndarray, kernel) -> list:
        """``kernel({term: {doc: positions}})`` on each owner of the
        sorted candidate ids, reading only the owner's candidates."""
        if not len(cand):
            return []
        return self._on_owners(
            cand, lambda sh, c: kernel(sh._candidate_positions(terms, c))
        )

    def _verified_top(self, query, terms, k, weights, kernel):
        """Top-k of ``query`` whose docs are in ``kernel``'s set: page the
        fetch ×4 until k verify or the candidate stream ends; scores are
        the plain AND scores (the check is a filter). The check is per
        doc, so each page checks only the candidates no earlier page
        checked."""
        fetch = max(4 * k, 64)
        checked: set[int] = set()
        ok: set[int] = set()
        while True:
            rows = self.search(query, k=fetch, weights=weights)
            cand = np.asarray(
                sorted(d for d, _ in rows if d not in checked), dtype=np.int64
            )
            ok.update(*self._per_owner(terms, cand, kernel))
            checked.update(cand.tolist())
            verified = [(d, s) for d, s in rows if d in ok]
            if len(verified) >= k or len(rows) < fetch:
                return verified[:k]
            fetch *= 4

    def search_phrase(
        self,
        phrase: str,
        k: int = 10,
        weights: dict[str, int] | None = None,
    ) -> list[tuple[int, int]]:
        """Exact phrase top-k: AND-retrieve the phrase's indexable terms in
        score order and keep the docs where they occur at the phrase's
        token offsets (positions.phrase_docs). Scores are the ordinary AND
        scores, so this equals the text-verify oracle path."""
        from .positions import phrase_docs

        pattern = self._positional_pattern(phrase)
        if not pattern:
            return []
        query = " ".join(t for _, t in pattern)
        if len(pattern) == 1:
            return self.search(query, k=k, weights=weights)
        return self._verified_top(
            query,
            {t for _, t in pattern},
            k,
            weights,
            lambda tp: phrase_docs(tp, pattern),
        )

    def search_near(
        self,
        query: str,
        k: int = 10,
        window: int = 8,
        weights: dict[str, int] | None = None,
    ) -> list[tuple[int, int]]:
        """Unordered proximity top-k (NEAR/w): docs where every indexable
        query term occurs within one ``window``-token span
        (positions.near_docs), with the plain AND scores."""
        from .positions import near_docs

        terms = [t for _, t in self._positional_pattern(query)]
        if not terms:
            return []
        uniq = list(dict.fromkeys(terms))
        if len(uniq) == 1:
            return self.search(uniq[0], k=k, weights=weights)
        return self._verified_top(
            " ".join(terms),
            uniq,
            k,
            weights,
            lambda tp: near_docs(tp, uniq, int(window)),
        )

    def search_proximity(
        self,
        query: str,
        k: int = 10,
        weights: dict[str, int] | None = None,
    ) -> list[tuple[int, int]]:
        """Proximity-RANKED top-k: every AND result keeps its plain integer
        score plus ``PROXIMITY_SCALE // (minimal_window_span − n_terms +
        1)`` (positions.proximity_boost; 0 without a full body window).
        positions.proximity_rerank pages the base ranking ×4 until no
        unfetched candidate can reach the top-k; each owner computes the
        minimal windows of its own candidates (positions.min_spans)."""
        from .positions import min_spans, proximity_rerank

        terms = [t for _, t in self._positional_pattern(query)]
        if not terms:
            return []
        uniq = list(dict.fromkeys(terms))
        qstr = " ".join(terms)

        def spans_of(cand: np.ndarray) -> dict[int, int]:
            out: dict[int, int] = {}
            for part in self._per_owner(
                uniq, cand, lambda tp: min_spans(tp, uniq)
            ):
                out.update(part)
            return out

        return proximity_rerank(
            lambda fetch: self.search(qstr, k=fetch, weights=weights),
            spans_of,
            k,
            len(uniq),
        )


class LocalSearcher(_Coordinator, _SearchViews):
    def __init__(
        self,
        index_root: str,
        doc_range: tuple[int, int] | None = None,
        version: str | None = None,
    ):
        """``doc_range=(lo, hi)`` restricts this searcher to docs in
        [lo, hi): it loads only that slice of the docmeta sidecars (the
        only O(n_docs) driver state) and decodes only posting segments
        overlapping the range — the serving-tier shard of ShardedSearcher.
        Default None = the whole corpus (the reference's single-server
        LoadCacheData shape). ``version`` pins a retained immutable
        snapshot ("v_NNNN") instead of the CURRENT pointer."""
        self.vdir = current_index_dir(index_root, version)
        with open(os.path.join(self.vdir, "meta.json")) as f:
            self.meta = json.load(f)
        self.doc_lo = doc_range[0] if doc_range else 0
        self.doc_hi = (
            doc_range[1] if doc_range else int(self.meta["n_docs"])
        )
        # logical deletions (incremental.delete_conversations): masked at
        # decode so counts / two-pass decisions see only surviving docs
        tomb = load_tombstones(self.vdir)
        self._tomb = tomb[(tomb >= self.doc_lo) & (tomb < self.doc_hi)]
        dm_ds = pads.dataset(
            os.path.join(self.vdir, "docmeta"), partitioning="hive"
        )
        dm_filter = None
        if doc_range is not None:
            dm_filter = (pads.field("doc_id") >= self.doc_lo) & (
                pads.field("doc_id") < self.doc_hi
            )
        dm = dm_ds.to_table(
            columns=[
                "doc_id", "host", "fd", "he", "rank", "backlinks", "dl",
                "url", "title", "description",
            ],
            filter=dm_filter,
        )
        order = np.argsort(dm["doc_id"].to_numpy())
        self.fd = dm["fd"].to_numpy()[order].astype(np.int64)
        self.he = dm["he"].to_numpy()[order].astype(np.int64)
        self.rank = dm["rank"].to_numpy()[order].astype(np.int64)
        self.backlinks = dm["backlinks"].to_numpy()[order].astype(np.int64)
        self.dl = dm["dl"].to_numpy()[order].astype(np.int64)
        hosts = np.asarray(dm["host"].to_pandas())[order]
        # display columns, resident like the sidecars (the ShowLink fetch
        # is a take), and the per-doc R1 feature memo (rerank.doc_features),
        # filled the first time a doc is a re-rank candidate
        self._host = hosts
        self._url, self._title, self._desc = (
            dm[c].to_numpy(zero_copy_only=False)[order]
            for c in ("url", "title", "description")
        )
        self._features: list = [None] * len(order)
        self._host_docs: dict[str, np.ndarray] = {}
        host_order = np.argsort(hosts, kind="stable")
        sorted_hosts = hosts[host_order]
        bounds = np.flatnonzero(
            np.concatenate(([True], sorted_hosts[1:] != sorted_hosts[:-1]))
        )[: len(sorted_hosts)]  # an empty corpus has no host runs
        for i, s in enumerate(bounds):
            e = bounds[i + 1] if i + 1 < len(bounds) else len(sorted_hosts)
            hd = np.sort(host_order[s:e]).astype(np.int64) + self.doc_lo
            if len(self._tomb):
                hd = codec.remove_sorted(hd, hd, self._tomb)[0]
            self._host_docs[sorted_hosts[s]] = hd
        self._postings = pads.dataset(
            os.path.join(self.vdir, "postings"), partitioning="hive"
        )
        self._lexicon = pads.dataset(
            os.path.join(self.vdir, "lexicon"), partitioning="hive"
        )
        self._df_cache: dict[str, int] = {}
        # decoded-term cache: a (term, kind) decodes ONCE per searcher and
        # is shared across queries — the serving-batch amortization (the
        # reference gets the analogous reuse from the OS page cache over
        # its always-open keys/fancy files, searchservernew.dpr:1464-1632).
        # Size-bounded by total cached postings, LRU-evicted (hits refresh
        # recency, so a hot term re-probed by every warm query survives a
        # stream of one-shot tail terms — FIFO evicted hot entries in
        # exactly insertion order and thrashed the 10M-doc warm stream);
        # entries are marked read-only — every consumer works on masked
        # copies. Hit/miss/eviction counters expose the accounting.
        self._term_cache: dict[tuple[str, str], tuple[np.ndarray, np.ndarray]] = {}
        self._term_cache_elems = 0
        self.term_cache_max_elems = 1 << 22  # ~4M postings ≈ 64 MB int64 pairs
        self.term_cache_hits = 0
        self.term_cache_misses = 0
        self.term_cache_evictions = 0
        self._init_result_cache()
        self.n_docs = int(self.meta["n_docs"])
        self.max_bl = int(self.meta["max_backlinks"])
        self.avgdl = float(self.dl.mean()) if len(self.dl) else 1.0

    # ------------------------------------------------------------------
    def term_df(self, term: str) -> int:
        if term in self._df_cache:
            return self._df_cache[term]
        b = crc32(term) % 64
        t = self._lexicon.to_table(
            filter=(pads.field("bucket") == b) & (pads.field("term") == term),
            columns=["df"],
        )
        df = int(t["df"][0].as_py()) if t.num_rows else 0
        self._df_cache[term] = df
        return df

    def _term_postings(
        self, term: str, use_fancy: bool, df: int
    ) -> tuple[np.ndarray, np.ndarray]:
        kind = "fancy" if use_fancy and df > self.meta["fancy_threshold"] else "full"
        if kind == "fancy" and self.term_df(term) <= self.meta["fancy_threshold"]:
            # fancy-hole fallback (federation: the GLOBAL df crossed the
            # threshold but THIS index was built with local df below it, so
            # no fancy segments exist here). The fancy list is a pure
            # per-doc predicate — term present AND domain rank inside the
            # window (build.py fancy emit; GenDb.dpr:1053-1071) — so it is
            # reconstructed exactly from the full postings + the rank
            # sidecar, which is precisely what merge.py's fancy-hole
            # rebuild materializes offline.
            docs, flags = self._term_postings(term, False, df)
            m = in_fancy_window(self.rank[docs - self.doc_lo])
            return docs[m], flags[m]
        ckey = (term, kind)
        hit = self._term_cache.get(ckey)
        if hit is not None:
            # LRU refresh: re-insert so eviction order tracks recency
            self._term_cache.pop(ckey)
            self._term_cache[ckey] = hit
            self.term_cache_hits += 1
            return hit
        self.term_cache_misses += 1
        b = crc32(term) % 64
        flt = (
            (pads.field("bucket") == b)
            & (pads.field("term") == term)
            & (pads.field("kind") == kind)
        )
        sharded = self.doc_lo > 0 or self.doc_hi < int(self.meta["n_docs"])
        if sharded:
            # only segments overlapping this shard's doc range (pushed to
            # the parquet read via row-group first/last_doc stats)
            flt = (
                flt
                & (pads.field("first_doc") < self.doc_hi)
                & (pads.field("last_doc") >= self.doc_lo)
            )
        t = self._postings.to_table(filter=flt, columns=["first_doc", "blob"])
        if t.num_rows == 0:
            docs = np.empty(0, dtype=np.int64)
            flags = np.empty(0, dtype=np.int64)
            return self._cache_put(ckey, docs, flags)
        order = np.argsort(t["first_doc"].to_numpy())
        docs_l, flags_l = [], []
        blobs = t["blob"].to_pylist()
        for i in order:
            d, f = codec.decode(blobs[i])
            docs_l.append(d)
            flags_l.append(f.astype(np.int64))
        docs = np.concatenate(docs_l)
        flags = np.concatenate(flags_l)
        if sharded:
            m = (docs >= self.doc_lo) & (docs < self.doc_hi)
            docs, flags = docs[m], flags[m]
        docs, flags = codec.remove_sorted(docs, flags, self._tomb)
        return self._cache_put(ckey, docs, flags)

    def _cache_put(
        self, ckey: tuple[str, str], docs: np.ndarray, flags: np.ndarray
    ) -> tuple[np.ndarray, np.ndarray]:
        if len(docs) <= self.term_cache_max_elems:
            while (
                self._term_cache
                and self._term_cache_elems + len(docs)
                > self.term_cache_max_elems
            ):
                # least-recently-used first (hits re-append, so iteration
                # order == recency order)
                old = next(iter(self._term_cache))
                od, _ = self._term_cache.pop(old)
                self._term_cache_elems -= len(od)
                self.term_cache_evictions += 1
            docs.setflags(write=False)
            flags.setflags(write=False)
            self._term_cache[ckey] = (docs, flags)
            self._term_cache_elems += len(docs)
        return docs, flags

    # ------------------------------------------------------------------
    def suggest(self, term: str, k: int = 3) -> list[str]:
        """Did-you-mean for a zero-hit query term: SymSpell deletion-
        neighborhood lookup against the index lexicon (the serving twin
        of pipelines.q_spell_correct), candidates verified with an exact
        edit-distance<=1 check and ranked by df (the reference's query
        box — cgi/suchmaschine.dpr — has no suggester; this is the
        feature users ask for first). The deletion map is built lazily on
        first use and sized by the lexicon (vocab x avg-len entries) —
        the classic suggester-service memory trade; shard it with the
        serving tier when the lexicon outgrows one box."""
        t = fold(term.lower()) if term else term
        if not t or self.term_df(t) > 0:
            return []
        cands = self._suggest_candidates(t)
        return sorted(cands, key=lambda c: (-self._suggest_df[c], c))[:k]

    def _suggest_candidates(self, t: str) -> set[str]:
        """ALL verified edit-distance<=1 lexicon terms for a folded term —
        the un-truncated set a federation coordinator needs to rank by
        GLOBAL df (truncating per part first could drop the global
        winner)."""
        dmap = self._suggest_map()
        cands: set[str] = set()
        for key in _deletions(t) | {t}:
            cands.update(dmap.get(key, ()))
        return {c for c in cands if _lev_le1(t, c)}

    def _suggest_map(self) -> dict[str, list[str]]:
        if getattr(self, "_sugg", None) is None:
            tbl = self._lexicon.to_table(columns=["term", "df"])
            dfs: dict[str, int] = {}
            for trm, d in zip(
                tbl["term"].to_pylist(), tbl["df"].to_pylist()
            ):
                dfs[trm] = max(dfs.get(trm, 0), int(d))
            sugg: dict[str, list[str]] = {}
            for trm in dfs:
                for key in _deletions(trm) | {trm}:
                    sugg.setdefault(key, []).append(trm)
            self._sugg = sugg
            self._suggest_df = dfs
        return self._sugg

    # ------------------------------------------------------------------
    def compile(self, query: str) -> list[PlanTerm]:
        return compile_query(query, self.n_docs, self.term_df)

    def explain(self, query: str) -> dict:
        """Query EXPLAIN — identical shape (and content, same index) to
        SearchEngine.explain: compile() is shared machinery."""
        from .queryplan import explain_plan

        return explain_plan(
            query, self.compile(query), self.n_docs, self.meta["fancy_threshold"]
        )

    # the shared request path, also bound in this class's own namespace:
    # perfbench/trace.py wraps LocalSearcher.search from the class dict,
    # which then times single-server calls only
    search = _Coordinator.search

    def _candidate_positions(
        self, terms, cand: np.ndarray
    ) -> dict[str, dict[int, np.ndarray]]:
        """term → {candidate doc → positions} for the sorted ids ``cand``,
        decoded from only the positions segments overlapping the
        candidate range."""
        from .positions import doc_positions

        pos_ds = pads.dataset(
            os.path.join(self.vdir, "positions"), partitioning="hive"
        )
        lo, hi = int(cand[0]), int(cand[-1])
        term_pos: dict[str, dict[int, np.ndarray]] = {}
        for t in terms:
            tbl = pos_ds.to_table(
                filter=(pads.field("bucket") == crc32(t) % 64)
                & (pads.field("term") == t)
                & (pads.field("first_doc") <= hi)
                & (pads.field("last_doc") >= lo),
                columns=["blob"],
            )
            term_pos[t] = {}
            for blob in tbl["blob"].to_pylist():
                term_pos[t].update(doc_positions(blob, cand))
        return term_pos

    def _pass(self, terms, w, use_fancy, mode, fetch, min_count):
        docs, vals = self._run_pass(terms, w, use_fancy, mode)
        if len(docs) < min_count:
            return None
        return self._topk(docs, vals, fetch, is_float=mode == "bm25")

    def fetch_results(self, rows: list[tuple[int, int]]):
        """Q15 (ShowLink, searchservernew.dpr:1166-1204): join the engine's
        (doc_id, score) rows back to their display fields, in engine order,
        as a rerank.Candidates — the input to the R1-R4 post-processing
        layer. A take on the resident display columns; ids outside this
        searcher's doc range are dropped."""
        from .rerank import Candidates

        ids = np.array([int(d) for d, _ in rows], dtype=np.int64)
        scores = np.array([int(s) for _, s in rows], dtype=np.int64)
        loc = ids - self.doc_lo
        ok = (loc >= 0) & (loc < len(self._url))
        if not ok.all():
            ids, scores, loc = ids[ok], scores[ok], loc[ok]
        return Candidates(
            doc_id=ids,
            value=scores,
            backlinks=self.backlinks[loc],
            domain_rank=self.rank[loc],
            url=self._url[loc],
            title=self._title[loc],
            snippet=self._desc[loc],
            host=self._host[loc],
            memo=self._features,
            slot=loc,
        )

    @staticmethod
    def _topk(docs, vals, k, is_float=False):
        if len(docs) == 0:
            return []
        order = np.lexsort((docs, -vals))[:k]
        if is_float:
            return [(int(docs[i]), round(float(vals[i]), 6)) for i in order]
        return [(int(docs[i]), int(vals[i])) for i in order]

    def _run_pass(self, terms, w, use_fancy, mode="deusu"):
        """Sequential acSet/acAnd/acNot over sorted doc arrays (the bitfield
        walk of searchservernew.dpr:742-954 as numpy set algebra); each
        positive term's postings are scored by scoring.term_scores."""
        side = {
            "fd": self.fd,
            "he": self.he,
            "rank": self.rank,
            "bl": self.backlinks,
            "dl": self.dl,
        }
        ctx = dict(
            mode=mode, w=w, max_bl=self.max_bl, n_docs=self.n_docs,
            avgdl=self.avgdl,
        )
        cand_docs = np.empty(0, dtype=np.int64)
        cand_vals = np.empty(0, dtype=np.float64)
        for t in terms:
            if t.host is not None:
                docs = self._host_docs.get(t.host, np.empty(0, dtype=np.int64))
                flags = np.zeros(len(docs), dtype=np.int64)  # host rows: no flags
            else:
                docs, flags = self._term_postings(t.key, use_fancy, t.df)
                m = location_mask(flags, t.url_only, t.title_only)
                docs, flags = docs[m], flags[m]
            if t.action == "NOT":
                hit = np.isin(cand_docs, docs, assume_unique=True)
                cand_docs, cand_vals = cand_docs[~hit], cand_vals[~hit]
                continue
            # sidecar arrays hold [doc_lo, hi)
            vals = term_scores(term_plan(t), flags, side, docs - self.doc_lo, **ctx)
            if t.action == "SET":
                cand_docs, cand_vals = docs, vals
                continue
            # AND: docs ascending on both sides → searchsorted intersection
            pos = np.searchsorted(docs, cand_docs)
            pos_ok = pos < len(docs)
            hit = np.zeros(len(cand_docs), dtype=bool)
            hit[pos_ok] = docs[pos[pos_ok]] == cand_docs[pos_ok]
            cand_docs = cand_docs[hit]
            base = cand_vals[hit] + vals[pos[hit]]
            cand_vals = np.minimum(base, SCORE_CLAMP) if mode == "deusu" else base
            if len(cand_docs) == 0:
                break
        return cand_docs, cand_vals


class _FanOut(_Coordinator):
    """Coordinator over member LocalSearchers (doc-range shards or
    independently built parts). A pass runs on every member, its local ids
    shift by the member's doc-id offset, the members' top-``fetch`` arrays
    merge in one lexsort by (score desc, doc_id asc) and their candidate
    counts sum for the two-pass rule — so both decisions equal the single
    server's. With
    ``parallel`` the members run on a thread pool: their work is
    numpy/pyarrow, which releases the GIL, and the merge is independent
    of completion order."""

    def _init_fan_out(self, members, offsets, parallel: bool) -> None:
        self._members = list(zip(members, offsets))
        self._pool = (
            ThreadPoolExecutor(max_workers=len(members))
            if parallel and len(members) > 1
            else None
        )
        self._init_result_cache()

    def _map(self, fn, items: list) -> list:
        if self._pool is not None and len(items) > 1:
            return list(self._pool.map(fn, items))
        return [fn(x) for x in items]

    def _pass(self, terms, w, use_fancy, mode, fetch, min_count):
        def one(member):
            s, off = member
            docs, vals = s._run_pass(terms, w, use_fancy, mode)
            n = len(docs)
            if n > fetch:  # only a member's top fetch can place
                keep = np.lexsort((docs, -vals))[:fetch]
                docs, vals = docs[keep], vals[keep]
            return n, docs + off if off else docs, vals

        outs = self._map(one, self._members)
        if sum(n for n, _, _ in outs) < min_count:
            return None
        # one merge over the members' unrounded scores, exactly the single
        # server's top-k (bm25 rounds after the merge, as it does there)
        return LocalSearcher._topk(
            np.concatenate([d for _, d, _ in outs]),
            np.concatenate([v for _, _, v in outs]),
            fetch,
            is_float=mode == "bm25",
        )


class ShardedSearcher(_FanOut, _SearchViews):
    """Doc-range-sharded serving tier — the beyond-10^8-docs design
    (round-2 review, Missing #4). LocalSearcher's per-doc sidecar vectors
    are its only O(n_docs) RAM; sharding the corpus into S contiguous doc
    ranges bounds each serving node at n_docs/S sidecar rows, and each
    shard decodes only the posting segments overlapping its range (the
    segment first/last_doc predicates push into its parquet reads — the
    doc-range-disjoint segment invariant is what makes that exact).

    Every per-query operation (static score, AND intersection, NOT
    subtraction) is per-doc, so a shard answers the full query restricted
    to its range; the coordinator merges shard top-k lists by
    (score desc, doc_id asc) and sums the shards' candidate counts for the
    reference's two-pass '<1000 results → full pass' decision — both
    decisions then equal the single-server ones exactly (pinned by
    test_serving_shards rank-identity against LocalSearcher/oracle).

    In production each shard is a separate server process behind a thin
    fan-out (this class in-process is the same code path); the Q14 result
    cache belongs in front of the fan-out, exactly where the reference
    puts it. In-process the shards fan out on a thread pool
    (``parallel=True``), overlapping shard CPU the way separate shard
    servers would."""

    def __init__(self, index_root: str, n_shards: int = 2, parallel: bool = True):
        with open(
            os.path.join(current_index_dir(index_root), "meta.json")
        ) as f:
            meta = json.load(f)
        n_docs = int(meta["n_docs"])
        step = max(1, -(-n_docs // n_shards))  # ceil
        ranges = [
            (lo, min(lo + step, n_docs)) for lo in range(0, n_docs, step)
        ]
        self.shards = [LocalSearcher(index_root, doc_range=r) for r in ranges]
        self.meta = self.shards[0].meta
        self.vdir = self.shards[0].vdir
        # bm25 needs the GLOBAL avgdl on every shard (a shard's local mean
        # would skew its scores)
        total_dl = sum(float(s.dl.sum()) for s in self.shards)
        avgdl = total_dl / max(n_docs, 1)
        for s in self.shards:
            s.avgdl = avgdl
        # shards already answer in global doc ids: offset 0
        self._init_fan_out(self.shards, [0] * len(self.shards), parallel)

    def compile(self, query: str) -> list[PlanTerm]:
        return self.shards[0].compile(query)

    def _on_owners(self, cand: np.ndarray, fn) -> list:
        """``fn(shard, ids)`` for each shard owning some of the sorted
        candidate ids — exactly what separate shard servers (holding only
        their range's positions segments) would do."""
        work = []
        for sh in self.shards:
            lo = np.searchsorted(cand, sh.doc_lo, side="left")
            hi = np.searchsorted(cand, sh.doc_hi, side="left")
            if hi > lo:
                work.append((sh, cand[lo:hi]))
        return self._map(lambda a: fn(*a), work)

    def fetch_results(self, rows: list[tuple[int, int]]):
        """Q15 display fetch: each global doc id from the shard whose doc
        range holds it (one fetch per shard), in input order."""
        from .rerank import fetch_partitioned

        return fetch_partitioned(
            self.shards, [s.doc_lo for s in self.shards], rows, rebase=False
        )


class FederatedSearcher(_FanOut):
    """Query-time federation over k INDEPENDENTLY BUILT indexes —
    rank-identical to querying merge.merge_indexes() of the same indexes,
    without running the merge. Three things make per-part execution exact
    under global semantics:

    - global corpus stats: the query compiles ONCE against summed df and
      n_docs (so every part scores with the merged idf), and each part's
      avgdl / max-backlink normalizers are overridden with the global
      values the merged index would carry;
    - global doc ids: part i's local ids shift by Σ n_docs_<i — the exact
      offset rule merge.py applies when it rebases segments;
    - fancy holes: a term hot globally but cold in one part has no fancy
      segments there; _term_postings reconstructs that part's fancy list
      exactly from full postings + the domain-rank window (the list is a
      pure per-doc predicate), which is what merge.py materializes
      offline.

    The coordinator then merges per-part top-k by (score desc, doc asc)
    and sums candidate counts for the reference's two-pass rule — the
    same coordinator contract as ShardedSearcher, so results match the
    merged index's single server bit-for-bit (tests/test_merge.py pins
    it). Use case: querying index versions that are published per-tenant
    / per-time-window and not yet (or never) compacted into one."""

    def __init__(self, index_roots: list[str], parallel: bool = True):
        self.parts = [LocalSearcher(r) for r in index_roots]
        thrs = {int(p.meta["fancy_threshold"]) for p in self.parts}
        if len(thrs) != 1:
            raise ValueError(
                f"federation needs one fancy policy, got thresholds {thrs}"
            )
        self.meta = self.parts[0].meta
        self.offsets = []
        off = 0
        for p in self.parts:
            self.offsets.append(off)
            off += int(p.meta["n_docs"])
        self.n_docs = off
        total_dl = sum(float(p.dl.sum()) for p in self.parts)
        avgdl = total_dl / max(self.n_docs, 1)
        gmax_bl = max(p.max_bl for p in self.parts)
        for p in self.parts:
            p.avgdl = avgdl
            p.max_bl = gmax_bl
            p.n_docs = self.n_docs  # bm25 idf must use the global corpus
        self._init_fan_out(self.parts, self.offsets, parallel)

    def term_df(self, term: str) -> int:
        return sum(p.term_df(term) for p in self.parts)

    def compile(self, query: str) -> list[PlanTerm]:
        return compile_query(query, self.n_docs, self.term_df)

    def explain(self, query: str) -> dict:
        """Federated EXPLAIN: the GLOBAL plan (summed-df compile), plus a
        per-part list of fancy HOLES — terms whose global df crosses the
        accelerator threshold while that part was built with a local df
        below it, so the part reconstructs the fancy list from full
        postings + its rank sidecar at query time."""
        from .queryplan import explain_plan

        terms = self.compile(query)
        out = explain_plan(
            query, terms, self.n_docs, self.meta["fancy_threshold"]
        )
        thr = self.meta["fancy_threshold"]
        out["parts"] = [
            {
                "part": i,
                "n_docs": int(p.meta["n_docs"]),
                "doc_offset": self.offsets[i],
                "fancy_holes": [
                    t.key
                    for t in terms
                    if is_fancy_term(t, thr) and p.term_df(t.key) <= thr
                ],
            }
            for i, p in enumerate(self.parts)
        ]
        return out

    def suggest(self, term: str, k: int = 3) -> list[str]:
        """Federated did-you-mean, identical to the merged index's
        suggester: every part contributes its FULL verified candidate set
        (no per-part truncation) and ranking uses the summed (global) df —
        a term present in only one part still competes on its true
        federation-wide frequency."""
        t = fold(term.lower()) if term else term
        if not t or self.term_df(t) > 0:
            return []
        cands: set[str] = set()
        for p in self.parts:
            cands.update(p._suggest_candidates(t))
        scored = sorted(
            ((self.term_df(c), c) for c in cands), key=lambda x: (-x[0], x[1])
        )
        return [c for _, c in scored[:k]]

    def fetch_results(self, rows: list[tuple[int, int]]):
        """Resolve global doc ids back to their owning part's docmeta
        (bisect on the offset table, one fetch per part), preserving the
        input order — the Q15 display-fetch contract of the other
        searchers."""
        from .rerank import fetch_partitioned

        return fetch_partitioned(self.parts, self.offsets, rows, rebase=True)


def _deletions(t: str) -> set[str]:
    return {t[:i] + t[i + 1:] for i in range(len(t))}


def _lev_le1(a: str, b: str) -> bool:
    """Exact levenshtein(a, b) <= 1 in one pass (no DP table needed at
    this bound): equal lengths allow one substitution, off-by-one lengths
    one insertion/deletion."""
    if a == b:
        return True
    la, lb = len(a), len(b)
    if abs(la - lb) > 1:
        return False
    if la == lb:
        return sum(x != y for x, y in zip(a, b)) <= 1
    if la > lb:
        a, b, la, lb = b, a, lb, la
    i = 0
    while i < la and a[i] == b[i]:
        i += 1
    return a[i:] == b[i + 1:]

