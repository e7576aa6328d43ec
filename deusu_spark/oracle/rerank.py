"""Row-at-a-time reference for the R1-R4 re-rank layer (PostProcess.pas
ReRank / ProcessRankingAdjustment / AdjustRanking / DoPostProcess).

This is the straight port the engine's columnar kernel in
``deusu_spark/rerank.py`` must reproduce field by field: one ResultRow at a
time, every string normalized on every call, no memo, no early stop. It
shares only the ResultRow record and the shipped weights with the engine;
everything that computes a value lives here so a slip in the engine cannot
hide in a helper both sides call.

Ported from the reference's src/cgi/PostProcess.pas:

  R1 feature re-rank            ReRank            :525-714
  R2 editorial adjustments DSL  ProcessRanking-   :327-468 (+ auto host/url
                                Adjustment         boosts :767-791)
  R3 stable re-sort             AdjustRanking     :812-824 (bubble = stable)
  R4 dedup + per-host collapse  DoPostProcess/    :174-223, 241-305
                                AddResult/CleanUpIndenting
"""

from __future__ import annotations

import os
import re

from ..rerank import DEFAULT_RANKING_INI, ResultRow

_NORM_UMLAUT = {"ä": "ae", "ö": "oe", "ü": "ue", "Ä": "ae", "Ö": "oe", "Ü": "ue", "ß": "ss"}


def normalize_string(s: str) -> str:
    """PostProcess.pas:470-519 (NormalizeString): lowercase, keep
    [a-z0-9 ], umlauts → two-letter, everything else → space, collapse."""
    s = s.strip().lower()
    out = []
    for c in s:
        if c in _NORM_UMLAUT:
            out.append(_NORM_UMLAUT[c])
        elif ("a" <= c <= "z") or ("0" <= c <= "9") or c == " ":
            out.append(c)
        else:
            out.append(" ")
    return re.sub("  +", " ", "".join(out))


def _strip_scheme(url: str) -> str:
    for p in ("http://", "https://"):
        if url.lower().startswith(p):
            return url[len(p):]
    return url


def rerank(
    results: list[ResultRow],
    query: str,
    weights: dict[str, float] | None = None,
) -> None:
    """R1 — PostProcess.pas:525-714 (ReRank). Mutates RankingValueInt."""
    rp = weights or DEFAULT_RANKING_INI
    q = normalize_string(query)
    keywords = sorted(set(q.split()))
    q_nospace = q.replace(" ", "")

    for r in results:
        url_raw = _strip_scheme(r.url.lower())
        url_len = min(len(url_raw), 100)
        domain = url_raw
        starts_www = domain.startswith("www.")
        if starts_www:
            domain = domain[4:]
        j = domain.find("/") + 1
        is_domain_root = j == len(domain) and j > 0
        if j > 0:
            domain = domain[: j - 1]
        tld = domain
        while "." in tld:
            tld = tld.split(".", 1)[1]
        domain = domain[: len(domain) - len(tld)]
        if domain.endswith("."):
            domain = domain[:-1]

        path_elements = 0
        u = url_raw
        while u:
            path_elements += 1
            u = u.split("/", 1)[1] if "/" in u else ""
        path_elements = min(path_elements, 10)

        u2 = _strip_scheme(r.url)
        if u2.lower().startswith("www."):
            u2 = u2[4:]
        url_n = " " + normalize_string(u2) + " "
        domain_n = " " + normalize_string(domain) + " "
        title_n = " " + normalize_string(r.title) + " "
        snippet_n = " " + normalize_string(r.snippet) + " "

        value = 0.0
        for kw in keywords:
            kw_sp = " " + kw + " "
            for text, in_key, hid_key, pos_key, pos_win in (
                (url_n, "KeywordInUrl", "KeywordHiddenInUrl", "KeywordPosInUrl", 20),
                (domain_n, "KeywordInDomain", "KeywordHiddenInDomain", None, 0),
                (title_n, "KeywordInTitle", "KeywordHiddenInTitle", "KeywordPosInTitle", 20),
                (snippet_n, "KeywordInSnippet", "KeywordHiddenInSnippet", "KeywordPosInSnippet", 100),
            ):
                contained = kw_sp in text
                hidden = (kw in text) and not contained
                if contained:
                    value += rp[in_key]
                if hidden:
                    value += rp[hid_key]
                if pos_key:
                    toks = text.split()
                    try:
                        position = toks.index(kw)
                    except ValueError:
                        position = -1
                    if 0 <= position < pos_win:
                        value += rp[pos_key] * (pos_win - position)

        if " " + q + " " in url_n:
            value += rp["PhraseInUrl"]
        if q_nospace and q_nospace in url_n:
            value += rp["NoSpacesPhraseInUrl"]
        if " " + q + " " in domain_n:
            value += rp["PhraseInDomain"]
        if q_nospace and q_nospace in domain_n:
            value += rp["NoSpacesPhraseInDomain"]
        if " " + q + " " in title_n:
            value += rp["PhraseInTitle"]
        if " " + q + " " in snippet_n:
            value += rp["PhraseInSnippet"]
        if is_domain_root:
            value += rp["IsDomainRoot"]
        if starts_www:
            value += rp["UrlStartsWithWWW"]

        value += rp["UrlLength"] * (100 - url_len)
        value += rp["PathElements"] * (10 - path_elements)
        value += rp["BackLinks"] * r.backlinks
        if r.domain_rank != -1:
            value += rp["DomainRank"] * (1_000_000 - r.domain_rank)
        r.value = round(value * 10.0)


def apply_adjustments(results: list[ResultRow], rules: list[str]) -> list[ResultRow]:
    """R2 — PostProcess.pas:327-468 (ProcessRankingAdjustment). Rule lines:
    'all f' / 'host h f' / 'tld t f' / 'url u f' / 'deleteurl u' /
    'add f url title^snippet'."""
    best_value = max((r.value for r in results), default=0)
    best_bl = max((r.backlinks for r in results), default=0)
    for line in rules:
        parts = line.split()
        if not parts:
            continue
        op = parts[0].lower()
        if op == "all" and len(parts) == 2:
            f = _tofloat(parts[1])
            if f is not None:
                for r in results:
                    r.value = round(f * r.value)
                    r.backlinks = round(f * r.backlinks)
        elif op == "deleteurl" and len(parts) == 2:
            for r in results:
                if _strip_scheme(r.url.lower()) == parts[1].lower():
                    r.url = ""
                    r.value = 0
        elif op in ("host", "url", "tld") and len(parts) == 3:
            f = _tofloat(parts[2])
            if f is None:
                continue
            needle = parts[1].lower()
            for r in results:
                if op == "host":
                    match = r.host == needle
                elif op == "url":
                    match = _strip_scheme(r.url.lower()) == needle
                else:
                    tld = r.host
                    while "." in tld:
                        tld = tld.split(".", 1)[1]
                    match = tld == needle
                if match:
                    r.value = round(f * r.value)
                    r.backlinks = round(f * r.backlinks)
        elif op == "add" and len(parts) >= 3:
            f = _tofloat(parts[1])
            if f is not None:
                url = parts[2]
                rest = line.split(" ", 3)[3] if len(line.split(" ", 3)) > 3 else ""
                title, _, snippet = rest.partition("^")
                results.append(
                    ResultRow(
                        url=url,
                        title=title,
                        snippet=snippet,
                        value=round(f * best_value),
                        backlinks=round(f * best_bl),
                    )
                )
    return results


def _tofloat(s: str) -> float | None:
    try:
        return float(s)
    except ValueError:
        return None


def auto_host_boosts(query_norm: str) -> list[str]:
    """PostProcess.pas:767-791: per query keyword k (no '-', ':' or '.'),
    boost host/url k.{com,gov,edu,de,at,ch} by 1.5/1.6."""
    rules = []
    for s in query_norm.split():
        if s and not s.startswith("-") and ":" not in s and "." not in s:
            for tld in ("com", "gov", "edu", "de", "at", "ch"):
                rules.append(f"host www.{s}.{tld} 1.6")
                rules.append(f"host {s}.{tld} 1.5")
            for tld in ("com", "gov", "edu", "de", "at", "ch"):
                rules.append(f"url www.{s}.{tld}/ 1.6")
                rules.append(f"url {s}.{tld}/ 1.5")
    return rules


def adjust_ranking(
    results: list[ResultRow],
    query: str,
    weights: dict[str, float] | None = None,
    ranking_dir: str | None = None,
    language: str = "en",
) -> list[ResultRow]:
    """R1+R2+R3 — PostProcess.pas:723-826 (AdjustRanking): re-rank, apply
    general.txt → keyword files + auto boosts → query file → language file,
    then stable sort descending (bubble sort is stable)."""
    qn = normalize_string(query)
    rerank(results, query, weights)

    def load(name: str) -> list[str]:
        if not ranking_dir:
            return []
        p = os.path.join(ranking_dir, name)
        if os.path.exists(p):
            with open(p, encoding="utf-8", errors="replace") as f:
                return [line.rstrip("\n") for line in f]
        return []

    results = apply_adjustments(results, load("general.txt"))
    kw_rules: list[str] = []
    for s in qn.split():
        if s and not s.startswith("-") and ":" not in s and "." not in s:
            kw_rules += load(os.path.join("keywords", _fname(s) + ".txt"))
    kw_rules += auto_host_boosts(qn)
    results = apply_adjustments(results, kw_rules)
    results = apply_adjustments(results, load(os.path.join("queries", _fname(qn) + ".txt")))
    results = apply_adjustments(
        results, load("english.txt" if language == "en" else "german.txt")
    )
    results.sort(key=lambda r: -r.value)  # python sort is stable, like bubble
    return results


def _fname(keyword: str) -> str:
    """PostProcess.pas:119-134 (FileNameFromKeyword)."""
    out = "".join(
        c if ("a" <= c <= "z") or ("0" <= c <= "9") or c == "-" else "_"
        for c in keyword
    )
    return out[:100]


def post_process(results: list[ResultRow], query: str) -> list[ResultRow]:
    """R4 — PostProcess.pas:828-877 (DoPostProcess): drop '\\' urls and exact
    duplicate snippets, cap 3 results/host (unless a host:/site: query), set
    indent/show-more flags, then regroup same-host rows per 10-result page."""
    combine = "host:" not in query.lower() and "site:" not in query.lower()
    shown: dict[str, int] = {}
    seen_snippets: set[str] = set()
    out: list[ResultRow] = []
    for r in results:
        if not r.url or "\\" in r.url:
            continue
        if combine and shown.get(r.host, 0) >= 3:
            continue
        if r.snippet in seen_snippets:
            continue
        seen_snippets.add(r.snippet)
        n = shown.get(r.host, 0) + 1
        shown[r.host] = n
        if combine:
            r.indent = n > 1
            r.show_more = n == 3
        out.append(r)

    # CleanUpIndenting — PostProcess.pas:241-305: within each 10-row page,
    # move a row up to sit directly under an earlier same-host row.
    for page_start in range(0, len(out), 10):
        page = out[page_start : page_start + 10]
        i = 2
        while i < len(page):
            if page[i].host != page[i - 1].host:
                found = -1
                for j in range(i - 1, -1, -1):
                    if page[j].host == page[i].host:
                        found = j
                        break
                if found >= 0:
                    page.insert(found + 1, page.pop(i))
            i += 1
        if page:
            page[0].indent = False
        for i in range(1, len(page)):
            if page[i].host != page[i - 1].host:
                page[i].indent = False
        out[page_start : page_start + 10] = page
    return out
