"""Driver-side query compiler (the engine's own port of the reference's
query pipeline — independent of the oracle's copy so that tests cross-check
two implementations).

Ports:
  fold+ExtractKeywords  searchservernew.dpr:1790-1817, 251-284
  RefineSearch          searchservernew.dpr:1409-1460
  OptimizeQuery         searchservernew.dpr:988-1053 (+ auto host-rewrite
                        inside FindKeyWordResultCount, :631-643)
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from typing import Callable

import numpy as np

from . import textproc
from .constants import MAX_QUERY_KEYWORDS, is_fill_word

_KILL = set('"/&*,+')


def parse_query(query: str) -> list[str]:
    q = textproc.fold(query)
    q = "".join(" " if c in _KILL else c for c in q)
    kws = q.split()[:MAX_QUERY_KEYWORDS]

    # RefineSearch: infix and/und → '+next', not/nicht → '-next'
    i = 0
    while i < len(kws) - 1:
        if kws[i] in ("und", "and"):
            nxt = kws[i + 1]
            if nxt[:1] in "+-":
                nxt = nxt[1:]
            kws[i + 1] = "+" + nxt
            del kws[i]
        elif kws[i] in ("nicht", "not"):
            nxt = kws[i + 1]
            if nxt[:1] in "+-":
                nxt = nxt[1:]
            kws[i + 1] = "-" + nxt
            del kws[i]
        else:
            i += 1
    # stopword removal on the raw keyword incl. prefix (reference quirk)
    return [k for k in kws if not is_fill_word(k)]


@dataclass
class PlanTerm:
    key: str  # bare lookup key (prefixes stripped)
    action: str  # SET | AND | NOT
    df: int
    host: str | None = None
    url_only: bool = False
    title_only: bool = False
    idf: float = 0.0
    include_backlink: bool = False
    ti: int = -1


def is_fancy_term(t: PlanTerm, fancy_threshold: int) -> bool:
    """A plain term whose df exceeds the threshold has a fancy accelerator
    list (GenDb.dpr:975-1109); host terms never do."""
    return t.host is None and t.df > fancy_threshold


def needs_fancy_pass(terms: list[PlanTerm], fancy_threshold: int) -> bool:
    """The reference's two-pass rule (searchservernew.dpr:1836-1855): a
    query with any fancy term runs the fancy pass first, and falls back to
    the full pass when that finds fewer than MAX_RESULTS results."""
    return any(is_fancy_term(t, fancy_threshold) for t in terms)


def host_of(key: str) -> str | None:
    """Host-term detection — searchservernew.dpr:696-736."""
    kl = key.lower()
    if kl.startswith(("host:", "site:")):
        return key[5:]
    if kl.startswith("www."):
        return key
    if kl.endswith((".de", ".com")):
        return "www." + key
    return None


def lexicon_key(kw: str) -> tuple[str, bool]:
    """A parsed keyword's bare key (its +/- prefix stripped) and whether
    that key is looked up in the lexicon: host terms (host:, site:, www.,
    .de, .com) and field-prefixed keys (inurl:, intitle:) are not."""
    key = kw[1:] if kw[:1] in "+-" else kw
    return key, host_of(key) is None and ":" not in key


def compile_query(
    query: str,
    n_docs: int,
    df_lookup: Callable[[str], int],
) -> list[PlanTerm]:
    """keywords → ordered, df-annotated plan terms. ``df_lookup`` resolves a
    bare term's document frequency (lexicon probe)."""
    kws = parse_query(query)
    raw: list[str] = []
    actions: list[str] = []
    dfs: list[int] = []
    for kw in kws:
        key, in_lexicon = lexicon_key(kw)
        action = "NOT" if kw[:1] == "-" else "AND"
        df = 0
        if in_lexicon:
            df = df_lookup(key)
            if df == 0:
                # auto host-rewrite of unknown www*/*com/*de terms
                # (searchservernew.dpr:631-643) — loses the +/- prefix
                k, rewritten = key, False
                if k.lower()[:3] == "www":
                    k, rewritten = k[:3] + "." + k[3:], True
                if k.lower()[-3:] == "com":
                    k, rewritten = k[:-3] + "." + k[-3:], True
                if k.lower()[-2:] == "de":
                    k, rewritten = k[:-2] + "." + k[-2:], True
                if rewritten:
                    kw, key, action = "host:" + k, "host:" + k, "AND"
        raw.append(kw)
        actions.append(action)
        dfs.append(df)

    # bubble reorder: ANDs before NOTs; ANDs ascending df
    # (searchservernew.dpr:1036-1050)
    order = list(range(len(raw)))
    changed = True
    while changed:
        changed = False
        for i in range(len(order) - 1):
            a, b = order[i], order[i + 1]
            if actions[a] != "AND" and actions[b] == "AND":
                order[i], order[i + 1] = b, a
                changed = True
            elif actions[a] == "AND" and actions[b] == "AND" and dfs[b] < dfs[a]:
                order[i], order[i + 1] = b, a
                changed = True

    terms: list[PlanTerm] = []
    for pos, j in enumerate(order):
        key, action = raw[j], actions[j]
        if key.startswith(("+", "-")):
            key = key[1:]
        # first term is always acSet, even a '-' one (FindKeys,
        # searchservernew.dpr:1138-1146)
        if pos == 0:
            action = "SET"
        t = PlanTerm(key=key, action=action, df=dfs[j], ti=pos)
        t.host = host_of(key)
        if t.host is None:
            kl = key.lower()
            if kl.startswith("inurl:"):
                t.url_only, t.key = True, key[6:]
            elif kl.startswith("intitle:"):
                t.title_only, t.key = True, key[8:]
        # BM25-style IDF — searchservernew.dpr:1110-1117
        t.idf = math.log10(11.0 + (n_docs + t.df + 0.5) / (t.df + 0.5))
        # backlink-add asymmetry — searchservernew.dpr:491 vs :893
        t.include_backlink = t.action == "SET" or (
            t.action == "AND" and (t.url_only or t.title_only)
        )
        terms.append(t)
    return terms


def explain_plan(
    query: str,
    terms: list[PlanTerm],
    n_docs: int,
    fancy_threshold: int,
) -> dict:
    """Engine-agnostic query EXPLAIN: the compiled plan as plain data —
    per-term df/idf/bucket/flags in EVALUATION ORDER (the df-bubble
    optimizer's output), plus the physical decisions a pass will take:
    whether the fancy accelerator pass runs first (any non-host term over
    the df threshold, searchservernew.dpr:1848-1855) and each term's
    postings kind. Every searcher exposes this through .explain(); the
    dict is identical across them because compile() is shared — tested
    in test_serving_compose. A plan term is never a fancy hole: holes
    belong to the index that runs the term, and a federation lists them
    per part."""
    from .synth import crc32

    return {
        "query": query,
        "n_docs": n_docs,
        "n_terms": len(terms),
        "two_pass": needs_fancy_pass(terms, fancy_threshold),
        "evaluation_order": [t.key for t in terms],
        "terms": [
            {
                "key": t.key,
                "action": t.action,
                "df": t.df,
                "idf": round(t.idf, 6),
                "bucket": crc32(t.key) % 64,
                "host": t.host,
                "title_only": t.title_only,
                "url_only": t.url_only,
                "include_backlink": t.include_backlink,
                "fancy_eligible": is_fancy_term(t, fancy_threshold),
                "fancy_hole": False,
                "postings_kind": (
                    "fancy" if is_fancy_term(t, fancy_threshold) else "full"
                ),
            }
            for t in terms
        ],
    }


def merge_intervals(iv: np.ndarray) -> np.ndarray:
    """Sorted, disjoint union of the inclusive [lo, hi] rows of ``iv``;
    overlapping or adjacent intervals merge."""
    if len(iv) == 0:
        return iv
    iv = iv[np.argsort(iv[:, 0], kind="stable")]
    hi = np.maximum.accumulate(iv[:, 1])
    starts = np.flatnonzero(np.concatenate(([True], iv[1:, 0] > hi[:-1] + 1)))
    ends = np.concatenate((starts[1:], [len(iv)])) - 1
    return np.stack([iv[starts, 0], hi[ends]], axis=1).astype(np.int64)


def coarsen_intervals(iv: np.ndarray, max_n: int) -> np.ndarray:
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
