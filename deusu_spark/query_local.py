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
it, one fetch per owner."""

from __future__ import annotations

import json
import math
import os
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow.dataset as pads

from .build import current_index_dir, load_tombstones, static_scores
from .constants import (
    DEFAULT_WEIGHTS,
    FANCY_RANK_HI,
    FANCY_RANK_LO,
    MAX_RESULTS,
    SCORE_CLAMP,
)
from .queryplan import PlanTerm, compile_query
from .textproc import fold
from . import codec
from .synth import crc32


class LocalSearcher:
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
        )
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
        # Q14 result cache — searchservernew.dpr:1077-1101: 2048 slots keyed
        # by crc32 of (query, weights, mode); a slot holds ONE entry (new
        # queries evict colliding ones), hits must match the full key. The
        # reference caches the whole top-1000 so pagination re-slices for
        # free; we do the same.
        self._result_cache: dict[int, tuple[str, list]] = {}
        self.cache_slots = 2048
        self.cache_hits = 0
        self.cache_misses = 0
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
            loc = docs - self.doc_lo
            m = (self.rank[loc] > FANCY_RANK_LO) & (self.rank[loc] < FANCY_RANK_HI)
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
        dmap = self._suggest_map()
        cands: set[str] = set()
        for key in _deletions(t) | {t}:
            cands.update(dmap.get(key, ()))
        scored = sorted(
            ((self._suggest_df[c], c) for c in cands if _lev_le1(t, c)),
            key=lambda x: (-x[0], x[1]),
        )
        return [c for _, c in scored[:k]]

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

    def search_phrase(
        self,
        phrase: str,
        k: int = 10,
        weights: dict[str, int] | None = None,
    ) -> list[tuple[int, int]]:
        """Serving-tier phrase top-k — the exact twin of
        SearchEngine.search_phrase (positions sidecar required, built by
        build_index(positions=True)): AND-retrieve in score order, verify
        adjacency from decoded positions of the candidate docs only, page
        the fetch ×4 until k matches verify. Scores are the plain AND
        scores; results are rank-identical to the distributed path."""
        from .positions import has_positions, phrase_pattern

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
        while True:
            rows = self.search(query, k=fetch, weights=weights)
            cand = np.asarray(sorted(d for d, _ in rows), dtype=np.int64)
            ok = self._phrase_verify(pattern, cand)
            verified = [(d, s) for d, s in rows if d in ok]
            if len(verified) >= k or len(rows) < fetch:
                return verified[:k]
            fetch *= 4

    def _candidate_positions(
        self, terms: set[str], cand: np.ndarray
    ) -> dict[str, dict[int, np.ndarray]]:
        """term → {candidate doc → positions}, decoded from only the
        positions segments overlapping the candidate range (shared by
        the phrase and NEAR verifiers)."""
        from . import poscodec

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
            per: dict[int, np.ndarray] = {}
            for blob in tbl["blob"].to_pylist():
                d, c, p = poscodec.decode_positions(blob)
                idx = np.searchsorted(cand, d)
                okm = idx < len(cand)
                hit = np.zeros(len(d), dtype=bool)
                hit[okm] = cand[idx[okm]] == d[okm]
                if not hit.any():
                    continue
                cstarts = np.zeros(len(d) + 1, dtype=np.int64)
                np.cumsum(c, out=cstarts[1:])
                for di in np.flatnonzero(hit):
                    per[int(d[di])] = p[cstarts[di] : cstarts[di + 1]]
            term_pos[t] = per
        return term_pos

    def _phrase_verify(
        self, pattern: list[tuple[int, str]], cand: np.ndarray
    ) -> set[int]:
        """Docs among sorted ``cand`` containing the phrase."""
        if len(cand) == 0:
            return set()
        term_pos = self._candidate_positions({t for _, t in pattern}, cand)
        out: set[int] = set()
        for doc in cand.tolist():
            starts = None
            okdoc = True
            for off, t in pattern:
                p = term_pos[t].get(doc)
                if p is None:
                    okdoc = False
                    break
                s = p - off
                starts = s if starts is None else np.intersect1d(starts, s)
                if len(starts) == 0:
                    okdoc = False
                    break
            if okdoc and starts is not None and len(starts):
                out.add(doc)
        return out

    def search_near(
        self,
        query: str,
        k: int = 10,
        window: int = 8,
        weights: dict[str, int] | None = None,
    ) -> list[tuple[int, int]]:
        """Serving-tier unordered proximity top-k (NEAR/w) — the exact
        twin of SearchEngine.search_near: plain AND scores, verified by
        the shared minimal-window sweep (positions.near_window_match)."""
        from .positions import has_positions, phrase_pattern

        if not has_positions(self.vdir):
            raise RuntimeError(
                "no positions sidecar on this index — build with "
                "build_index(positions=True)"
            )
        terms = [t for _, t in phrase_pattern(query)]
        if not terms:
            return []
        uniq = list(dict.fromkeys(terms))
        if len(uniq) == 1:
            return self.search(uniq[0], k=k, weights=weights)
        qstr = " ".join(terms)
        fetch = max(4 * k, 64)
        while True:
            rows = self.search(qstr, k=fetch, weights=weights)
            cand = np.asarray(sorted(d for d, _ in rows), dtype=np.int64)
            ok = self._near_verify(uniq, int(window), cand)
            verified = [(d, s) for d, s in rows if d in ok]
            if len(verified) >= k or len(rows) < fetch:
                return verified[:k]
            fetch *= 4

    def _near_verify(
        self, uniq: list[str], window: int, cand: np.ndarray
    ) -> set[int]:
        """Docs among sorted ``cand`` where every term in ``uniq`` occurs
        within one ``window``-token span (shared by the single-server and
        sharded-coordinator NEAR paths)."""
        from .positions import near_window_match

        ok: set[int] = set()
        if not len(cand):
            return ok
        term_pos = self._candidate_positions(set(uniq), cand)
        for doc in cand.tolist():
            lists = [term_pos[t].get(doc) for t in uniq]
            if any(p is None for p in lists):
                continue
            if near_window_match(lists, window):
                ok.add(doc)
        return ok

    def _min_spans(
        self, uniq: list[str], cand: np.ndarray
    ) -> dict[int, int]:
        """{doc: minimal covering window span} over sorted ``cand`` for
        the unique terms — the serving spans_of for proximity ranking
        (shared min_cover_window sweep; docs without full body
        co-occurrence absent)."""
        from .positions import min_cover_window

        out: dict[int, int] = {}
        if not len(cand):
            return out
        term_pos = self._candidate_positions(set(uniq), cand)
        for doc in cand.tolist():
            lists = [term_pos[t].get(doc) for t in uniq]
            if any(p is None for p in lists):
                continue
            out[doc] = int(min_cover_window(lists))
        return out

    def search_proximity(
        self,
        query: str,
        k: int = 10,
        weights: dict[str, int] | None = None,
    ) -> list[tuple[int, int]]:
        """Serving-tier proximity-RANKED top-k — the exact twin of
        SearchEngine.search_proximity (same shared rerank loop, boost and
        sweep; rank-identical, tested)."""
        from .positions import (
            has_positions,
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
            lambda cand: self._min_spans(uniq, cand),
            k,
            len(uniq),
        )

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
        varbyte-decoded once — plus the Q14 result cache for repeats."""
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
        if mode == "bm25":
            docs, vals = self._run_pass(terms, w, use_fancy=False, mode="bm25")
            return self._topk(docs, vals, fetch, is_float=True)
        if any(
            t.host is None and t.df > self.meta["fancy_threshold"] for t in terms
        ):
            docs, vals = self._run_pass(terms, w, use_fancy=True)
            if len(docs) >= MAX_RESULTS:
                return self._topk(docs, vals, fetch)
        docs, vals = self._run_pass(terms, w, use_fancy=False)
        return self._topk(docs, vals, fetch)

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

    def search_page(
        self, query: str, startwith: int = 1, showcount: int = 10, **kw
    ) -> list[tuple[int, int]]:
        """Pagination — searchservernew.dpr:1820-1821,1328-1363."""
        startwith = min(max(startwith, 1), 991)
        showcount = min(max(showcount, 10), 1000)
        rows = self.search(query, k=min(startwith + showcount - 1, 1000), **kw)
        return rows[startwith - 1 :]

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
        walk of searchservernew.dpr:742-954 as numpy set algebra)."""
        cand_docs = np.empty(0, dtype=np.int64)
        cand_vals = np.empty(0, dtype=np.float64)
        for i, t in enumerate(terms):
            action = "SET" if i == 0 else t.action
            if t.host is not None:
                docs = self._host_docs.get(t.host, np.empty(0, dtype=np.int64))
                loc = docs - self.doc_lo  # sidecar arrays hold [doc_lo, hi)
                if mode == "bm25":
                    vals = np.zeros(len(docs))
                else:
                    v = w["b1"] + (31 - (self.fd[loc] & 31)) * w["b7"]
                    if action == "SET":
                        v = v + np.round(_blv(self.backlinks[loc], self.max_bl))
                    vals = np.clip(v, 1, SCORE_CLAMP)
            else:
                docs, flags = self._term_postings(t.key, use_fancy, t.df)
                if t.url_only:
                    m = (flags & 4) != 0
                    docs, flags = docs[m], flags[m]
                elif t.title_only:
                    m = (flags & 2) != 0
                    docs, flags = docs[m], flags[m]
                loc = docs - self.doc_lo
                if mode == "bm25":
                    idf = math.log(
                        1.0 + (self.n_docs - t.df + 0.5) / (t.df + 0.5)
                    )
                    vals = (
                        idf
                        * 2.2
                        / (1.0 + 1.2 * (0.25 + 0.75 * self.dl[loc] / self.avgdl))
                    )
                else:
                    s = static_scores(
                        flags,
                        self.fd[loc],
                        self.he[loc],
                        self.rank[loc],
                        self.backlinks[loc],
                        self.max_bl,
                        include_backlink=t.include_backlink,
                        weights=w,
                    )
                    vals = np.minimum(np.round(s * t.idf), SCORE_CLAMP)

            if action == "SET":
                cand_docs, cand_vals = docs, vals.astype(np.float64)
            elif action == "AND":
                # docs ascending on both sides → searchsorted intersection
                pos = np.searchsorted(docs, cand_docs)
                pos_ok = pos < len(docs)
                hit = np.zeros(len(cand_docs), dtype=bool)
                hit[pos_ok] = docs[pos[pos_ok]] == cand_docs[pos_ok]
                add = np.zeros(hit.sum())
                pos2 = np.searchsorted(docs, cand_docs[hit])
                add = vals[pos2]
                cand_docs = cand_docs[hit]
                base = cand_vals[hit] + add
                cand_vals = (
                    np.minimum(base, SCORE_CLAMP) if mode == "deusu" else base
                )
            else:  # NOT
                hit = np.isin(cand_docs, docs, assume_unique=True)
                cand_docs, cand_vals = cand_docs[~hit], cand_vals[~hit]
            if action == "AND" and len(cand_docs) == 0:
                return cand_docs, cand_vals
        return cand_docs, cand_vals


class ShardedSearcher:
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
    (``parallel=True``): the per-shard work is numpy/pyarrow, which
    releases the GIL, so the fan-out overlaps shard CPU the way separate
    shard servers would; results merge deterministically regardless of
    completion order (global (score desc, doc_id asc) sort; candidate
    totals are an order-free sum)."""

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
        self._pool = (
            ThreadPoolExecutor(max_workers=len(self.shards))
            if parallel and len(self.shards) > 1
            else None
        )
        # bm25 needs the GLOBAL avgdl on every shard (a shard's local mean
        # would skew its scores)
        total_dl = sum(float(s.dl.sum()) for s in self.shards)
        avgdl = total_dl / max(n_docs, 1)
        for s in self.shards:
            s.avgdl = avgdl
        # Q14 result cache IN FRONT of the fan-out (exactly where the
        # reference puts it, searchservernew.dpr:1077-1101, and where the
        # class docstring has always placed it): a repeat costs zero shard
        # work. Same 2048-slot crc32-keyed shape as LocalSearcher.
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
        if k > MAX_RESULTS:  # beyond the cached top-1000: compute directly
            return self._search_uncached(query, k, w, mode)[:k]
        cache_key = f"{query}\x00{mode}\x00{sorted(w.items())}"
        slot = crc32(cache_key) % self.cache_slots
        hit = self._result_cache.get(slot)
        if hit is not None and hit[0] == cache_key:
            self.cache_hits += 1
            return hit[1][:k]
        self.cache_misses += 1
        rows = self._search_uncached(query, max(k, MAX_RESULTS), w, mode)
        self._result_cache[slot] = (cache_key, rows)
        return rows[:k]

    def _search_uncached(
        self, query: str, k: int, w: dict[str, int], mode: str
    ) -> list[tuple[int, int]]:
        terms = self.shards[0].compile(query)
        if not terms:
            return []
        fetch = max(k, MAX_RESULTS)

        def one_shard(sh, use_fancy: bool, md: str):
            docs, vals = sh._run_pass(terms, w, use_fancy, mode=md)
            return len(docs), sh._topk(docs, vals, fetch, is_float=md == "bm25")

        def run(use_fancy: bool, md: str):
            if self._pool is not None:
                parts = list(
                    self._pool.map(
                        lambda sh: one_shard(sh, use_fancy, md), self.shards
                    )
                )
            else:
                parts = [one_shard(sh, use_fancy, md) for sh in self.shards]
            rows: list = []
            total = 0
            for n, top in parts:
                total += n
                rows.extend(top)
            rows.sort(key=lambda r: (-r[1], r[0]))
            return rows[:fetch], total

        if mode == "bm25":
            rows, _ = run(False, "bm25")
            return rows[:k]
        if any(
            t.host is None and t.df > self.meta["fancy_threshold"]
            for t in terms
        ):
            rows, total = run(True, "deusu")
            if total >= MAX_RESULTS:
                return rows[:k]
        rows, _ = run(False, "deusu")
        return rows[:k]

    def search_many(
        self,
        queries: list[str],
        k: int = 10,
        weights: dict[str, int] | None = None,
        mode: str = "deusu",
    ) -> list[list[tuple[int, int]]]:
        """Batch over the shard fan-out; each shard's decoded-term cache
        amortizes shared terms across the batch within its doc range."""
        return [
            self.search(q, k=k, weights=weights, mode=mode) for q in queries
        ]

    def _verify_sharded(self, cand: np.ndarray, verify_one) -> set[int]:
        """Fan a sorted candidate array out to its owning shards (contiguous
        doc ranges) and union the per-shard position verdicts —
        ``verify_one(shard, shard_cand) -> set[int]``. Each shard verifies
        only its own range, exactly what separate shard servers (holding
        only their range's positions segments) would do."""
        work = []
        for sh in self.shards:
            lo = np.searchsorted(cand, sh.doc_lo, side="left")
            hi = np.searchsorted(cand, sh.doc_hi, side="left")
            if hi > lo:
                work.append((sh, cand[lo:hi]))
        if self._pool is not None and len(work) > 1:
            parts = list(
                self._pool.map(lambda a: verify_one(a[0], a[1]), work)
            )
        else:
            parts = [verify_one(sh, c) for sh, c in work]
        ok: set[int] = set()
        for p in parts:
            ok |= p
        return ok

    def search_phrase(
        self,
        phrase: str,
        k: int = 10,
        weights: dict[str, int] | None = None,
    ) -> list[tuple[int, int]]:
        """Coordinator phrase top-k — rank-identical to
        LocalSearcher.search_phrase on the same index (CLAUDE.md contract:
        every semantics addition lands on LocalSearcher AND
        ShardedSearcher together). Retrieval is the coordinator's own
        merged search(); verification fans the candidates out to their
        owning shards and pages fetch ×4 until k survive."""
        from .positions import has_positions, phrase_pattern

        if not has_positions(self.shards[0].vdir):
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
        while True:
            rows = self.search(query, k=fetch, weights=weights)
            cand = np.asarray(sorted(d for d, _ in rows), dtype=np.int64)
            ok = self._verify_sharded(
                cand, lambda sh, c: sh._phrase_verify(pattern, c)
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
        """Coordinator NEAR/w top-k — rank-identical to
        LocalSearcher.search_near (same shared minimal-window sweep on the
        shard owning each candidate; global (score desc, doc_id asc)
        ordering comes from the coordinator's merged search())."""
        from .positions import has_positions, phrase_pattern

        if not has_positions(self.shards[0].vdir):
            raise RuntimeError(
                "no positions sidecar on this index — build with "
                "build_index(positions=True)"
            )
        terms = [t for _, t in phrase_pattern(query)]
        if not terms:
            return []
        uniq = list(dict.fromkeys(terms))
        if len(uniq) == 1:
            return self.search(uniq[0], k=k, weights=weights)
        qstr = " ".join(terms)
        fetch = max(4 * k, 64)
        while True:
            rows = self.search(qstr, k=fetch, weights=weights)
            cand = np.asarray(sorted(d for d, _ in rows), dtype=np.int64)
            ok = self._verify_sharded(
                cand, lambda sh, c: sh._near_verify(uniq, int(window), c)
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
        """Coordinator proximity-RANKED top-k — rank-identical to
        LocalSearcher.search_proximity: base retrieval is the merged
        coordinator search(); each shard computes minimal windows for its
        own candidates (shared sweep), the coordinator merges the span
        dicts and applies the shared rerank loop."""
        from .positions import (
            has_positions,
            phrase_pattern,
            proximity_rerank,
        )

        if not has_positions(self.shards[0].vdir):
            raise RuntimeError(
                "no positions sidecar on this index — build with "
                "build_index(positions=True)"
            )
        terms = [t for _, t in phrase_pattern(query)]
        if not terms:
            return []
        uniq = list(dict.fromkeys(terms))
        qstr = " ".join(terms)

        def spans_of(cand: np.ndarray) -> dict[int, int]:
            work = []
            for sh in self.shards:
                lo = np.searchsorted(cand, sh.doc_lo, side="left")
                hi = np.searchsorted(cand, sh.doc_hi, side="left")
                if hi > lo:
                    work.append((sh, cand[lo:hi]))
            if self._pool is not None and len(work) > 1:
                parts = list(
                    self._pool.map(
                        lambda a: a[0]._min_spans(uniq, a[1]), work
                    )
                )
            else:
                parts = [sh._min_spans(uniq, c) for sh, c in work]
            out: dict[int, int] = {}
            for p in parts:
                out.update(p)
            return out

        return proximity_rerank(
            lambda fetch: self.search(qstr, k=fetch, weights=weights),
            spans_of,
            k,
            len(uniq),
        )

    def fetch_results(self, rows: list[tuple[int, int]]):
        """Q15 display fetch: each global doc id from the shard whose doc
        range holds it (one fetch per shard), in input order."""
        from .rerank import fetch_partitioned

        return fetch_partitioned(
            self.shards, [s.doc_lo for s in self.shards], rows, rebase=False
        )


class FederatedSearcher:
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
        self._pool = (
            ThreadPoolExecutor(max_workers=len(self.parts))
            if parallel and len(self.parts) > 1
            else None
        )
        # Q14 result cache in front of the part fan-out (same placement
        # as ShardedSearcher — the coordinator is the query server)
        self._result_cache: dict[int, tuple[str, list]] = {}
        self.cache_slots = 2048
        self.cache_hits = 0
        self.cache_misses = 0

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
                    if t.host is None
                    and t.df > thr
                    and p.term_df(t.key) <= thr
                ],
            }
            for i, p in enumerate(self.parts)
        ]
        return out

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
        if k > MAX_RESULTS:
            return self._search_uncached(query, k, w, mode)[:k]
        cache_key = f"{query}\x00{mode}\x00{sorted(w.items())}"
        slot = crc32(cache_key) % self.cache_slots
        hit = self._result_cache.get(slot)
        if hit is not None and hit[0] == cache_key:
            self.cache_hits += 1
            return hit[1][:k]
        self.cache_misses += 1
        rows = self._search_uncached(query, max(k, MAX_RESULTS), w, mode)
        self._result_cache[slot] = (cache_key, rows)
        return rows[:k]

    def _search_uncached(
        self, query: str, k: int, w: dict[str, int], mode: str
    ) -> list[tuple[int, int]]:
        terms = self.compile(query)
        if not terms:
            return []
        fetch = max(k, MAX_RESULTS)

        def one_part(arg, use_fancy: bool, md: str):
            p, off = arg
            docs, vals = p._run_pass(terms, w, use_fancy, mode=md)
            top = p._topk(docs, vals, fetch, is_float=md == "bm25")
            return len(docs), [(d + off, v) for d, v in top]

        def run(use_fancy: bool, md: str):
            args = list(zip(self.parts, self.offsets))
            if self._pool is not None:
                parts = list(
                    self._pool.map(lambda a: one_part(a, use_fancy, md), args)
                )
            else:
                parts = [one_part(a, use_fancy, md) for a in args]
            rows: list = []
            total = 0
            for n, top in parts:
                total += n
                rows.extend(top)
            rows.sort(key=lambda r: (-r[1], r[0]))
            return rows[:fetch], total

        if mode == "bm25":
            rows, _ = run(False, "bm25")
            return rows[:k]
        if any(
            t.host is None and t.df > self.meta["fancy_threshold"]
            for t in terms
        ):
            rows, total = run(True, "deusu")
            if total >= MAX_RESULTS:
                return rows[:k]
        rows, _ = run(False, "deusu")
        return rows[:k]

    def search_many(
        self,
        queries: list[str],
        k: int = 10,
        weights: dict[str, int] | None = None,
        mode: str = "deusu",
    ) -> list[list[tuple[int, int]]]:
        return [
            self.search(q, k=k, weights=weights, mode=mode) for q in queries
        ]

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


def _blv(bl: np.ndarray, max_bl: int) -> np.ndarray:
    ln_mbl = math.log(max_bl) if max_bl > 0 else 0.0
    if ln_mbl <= 0:
        return np.where(bl == 0, 1.0, 0.0)
    return np.where(bl == 0, 1.0, 2500.0 * np.log(np.maximum(bl, 1)) / ln_mbl)
