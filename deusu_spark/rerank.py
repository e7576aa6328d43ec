"""Second-stage re-rank + post-processing (the cgi/query layer, R1-R4).

Operates on the top-≤1000 result list in-process, over arrays — the
reference does the same (distributing 1000 rows would only add
shuffle latency). Ports from the reference's src/cgi/PostProcess.pas:

  R1 feature re-rank            ReRank            :525-714
  R2 editorial adjustments DSL  ProcessRanking-   :327-468 (+ auto host/url
                                Adjustment         boosts :767-791)
  R3 stable re-sort             AdjustRanking     :812-824 (bubble = stable)
  R4 dedup + per-host collapse  DoPostProcess/    :174-223, 241-305
                                AddResult/CleanUpIndenting

The candidate set is columnar (``Candidates``): one numpy array per
ResultRow field, taken from the searcher's resident DocMeta display
columns. R1 splits into a query-independent half (``doc_features``: the
stripped URL, its length and path depth, domain-root / www flags and the
space-padded normalized URL, domain, title and snippet), which a searcher
memoizes per doc id, and a query-dependent half that adds the reference's
terms row by row, in its order, so every float64 sum and its
``round(value * 10)`` are bit-identical. R2 applies each rule as one numpy
mask (``np.rint`` rounds half to even, like Python ``round``), R3 is a
stable argsort, and R4 walks the sorted order only until the 10-row page
holding the caller's last row is complete, building ResultRow objects for
the rows it keeps. Plain ResultRow lists run through the same kernel and
are updated in place. ``deusu_spark/oracle/rerank.py`` keeps the
row-at-a-time port as the reference check.

Weights come from ranking/ranking.ini ([RankingFactors] key=value) —
PostProcess.pas:81-115; parse_ranking_ini reads that format.
"""

from __future__ import annotations

import configparser
import os
import re
from dataclasses import dataclass
from typing import NamedTuple

import numpy as np

RANKING_KEYS = [
    "PhraseInDomain",
    "PhraseInUrl",
    "PhraseInTitle",
    "PhraseInSnippet",
    "NoSpacesPhraseInDomain",
    "NoSpacesPhraseInUrl",
    "KeywordInDomain",
    "KeywordInUrl",
    "KeywordInTitle",
    "KeywordInSnippet",
    "KeywordHiddenInDomain",
    "KeywordHiddenInUrl",
    "KeywordHiddenInTitle",
    "KeywordHiddenInSnippet",
    "KeywordPosInUrl",
    "KeywordPosInTitle",
    "KeywordPosInSnippet",
    "UrlLength",
    "PathElements",
    "BackLinks",
    "DomainRank",
    "IsDomainRoot",
    "UrlStartsWithWWW",
]

# the shipped production weights — /root/reference/ranking/ranking.ini:1-28
DEFAULT_RANKING_INI = {
    "PhraseInDomain": 1000.0,
    "PhraseInUrl": 150.0,
    "PhraseInTitle": 300.0,
    "PhraseInSnippet": 100.0,
    "NoSpacesPhraseInDomain": 500.0,
    "NoSpacesPhraseInUrl": 100.0,
    "KeywordInDomain": 100.0,
    "KeywordInUrl": 30.0,
    "KeywordInTitle": 50.0,
    "KeywordInSnippet": 25.0,
    "KeywordHiddenInDomain": 60.0,
    "KeywordHiddenInUrl": 10.0,
    "KeywordHiddenInTitle": 30.0,
    "KeywordHiddenInSnippet": 15.0,
    "KeywordPosInUrl": 3.0,
    "KeywordPosInTitle": 5.0,
    "KeywordPosInSnippet": 0.5,
    "UrlLength": 1.0,
    "PathElements": 10.0,
    "BackLinks": 0.001,
    "DomainRank": 0.0001,
    "IsDomainRoot": 100.0,
    "UrlStartsWithWWW": 25.0,
}


def parse_ranking_ini(path: str) -> dict[str, float]:
    """[RankingFactors] key=value — PostProcess.pas:81-86 (missing/invalid
    keys default to 0.0)."""
    cp = configparser.ConfigParser()
    cp.read(path)
    out = {k: 0.0 for k in RANKING_KEYS}
    if cp.has_section("RankingFactors"):
        for k in RANKING_KEYS:
            try:
                out[k] = cp.getfloat("RankingFactors", k, fallback=0.0)
            except ValueError:
                out[k] = 0.0
    return out


@dataclass
class ResultRow:
    url: str
    title: str
    snippet: str
    host: str = ""
    value: int = 0  # RankingValueInt
    backlinks: int = 0
    domain_rank: int = -1
    doc_id: int = -1
    indent: bool = False
    show_more: bool = False

    def __post_init__(self):
        if not self.host:
            self.host = host_from_url(self.url)


def host_from_url(s: str) -> str:
    """PostProcess.pas:160-171."""
    for p in ("http://", "https://"):
        if s.lower().startswith(p):
            s = s[len(p):]
    i = s.find("/")
    if i < 0:
        i = len(s)
    return s[:i].lower()


_UMLAUTS = str.maketrans(
    {"ä": "ae", "ö": "oe", "ü": "ue", "Ä": "ae", "Ö": "oe", "Ü": "ue", "ß": "ss"}
)
_NON_WORD = re.compile("[^a-z0-9 ]")
_SPACE_RUN = re.compile("  +")


def normalize_string(s: str) -> str:
    """PostProcess.pas:470-519 (NormalizeString): lowercase, keep
    [a-z0-9 ], umlauts → two-letter, everything else → space, collapse."""
    s = s.strip().lower().translate(_UMLAUTS)
    return _SPACE_RUN.sub(" ", _NON_WORD.sub(" ", s))


def _strip_scheme(url: str) -> str:
    for p in ("http://", "https://"):
        if url.lower().startswith(p):
            return url[len(p):]
    return url


class DocFeatures(NamedTuple):
    """The query-independent R1 inputs of one document
    (PostProcess.pas:525-600). ``url_key`` is the lowered URL without its
    scheme, which R2's url/deleteurl rules also match on; the ``*_n``
    texts are normalized and padded with one space on each side."""

    url_key: str
    url_len: int
    path_elements: int
    is_domain_root: bool
    starts_www: bool
    url_n: str
    domain_n: str
    title_n: str
    snippet_n: str


def doc_features(url: str, title: str, snippet: str) -> DocFeatures:
    url_raw = _strip_scheme(url.lower())
    domain = url_raw
    starts_www = domain.startswith("www.")
    if starts_www:
        domain = domain[4:]
    j = domain.find("/") + 1
    is_domain_root = j == len(domain) and j > 0
    if j > 0:
        domain = domain[: j - 1]
    tld = domain.rpartition(".")[2]
    domain = domain[: len(domain) - len(tld)]
    if domain.endswith("."):
        domain = domain[:-1]
    # one path element per '/'-separated piece, a trailing '/' opening none
    path_elements = url_raw.count("/") + (not url_raw.endswith("/")) if url_raw else 0

    u2 = _strip_scheme(url)
    if u2.lower().startswith("www."):
        u2 = u2[4:]
    return DocFeatures(
        url_key=url_raw,
        url_len=min(len(url_raw), 100),
        path_elements=min(path_elements, 10),
        is_domain_root=is_domain_root,
        starts_www=starts_www,
        url_n=" " + normalize_string(u2) + " ",
        domain_n=" " + normalize_string(domain) + " ",
        title_n=" " + normalize_string(title) + " ",
        snippet_n=" " + normalize_string(snippet) + " ",
    )


class Candidates:
    """A columnar candidate set: one array per ResultRow field, in rank
    order. It reads as a sequence of ResultRow (built on access, so
    writing to one changes nothing here).

    ``memo``/``slot`` say where each row's DocFeatures are memoized: a
    searcher passes its per-doc list and the rows' positions in it, and a
    row with slot -1 (an R2 ``add`` row, or one whose URL R2 deleted)
    computes its features from its own fields. ``objs`` holds the source
    objects of a candidate set made from a ResultRow list; materializing
    such a row writes the columns back into its object."""

    __slots__ = (
        "doc_id", "value", "backlinks", "domain_rank", "url", "title",
        "snippet", "host", "indent", "show_more", "memo", "slot", "objs",
    )

    def __init__(self, doc_id, value, backlinks, domain_rank, url, title,
                 snippet, host, memo=None, slot=None, indent=None,
                 show_more=None, objs=None):
        n = len(doc_id)
        self.doc_id = np.asarray(doc_id, dtype=np.int64)
        self.value = np.asarray(value, dtype=np.int64)
        self.backlinks = np.asarray(backlinks, dtype=np.int64)
        self.domain_rank = np.asarray(domain_rank, dtype=np.int64)
        self.url = _objects(url)
        self.title = _objects(title)
        self.snippet = _objects(snippet)
        self.host = _objects(host)
        no_host = np.flatnonzero(self.host == "")
        if len(no_host):  # ResultRow.__post_init__'s fallback
            self.host[no_host] = [host_from_url(u) for u in self.url[no_host]]
        if memo is None:
            memo, slot = [None] * n, np.arange(n)
        self.memo = memo
        self.slot = np.asarray(slot, dtype=np.int64)
        self.indent = np.zeros(n, bool) if indent is None else np.asarray(indent, bool)
        self.show_more = (
            np.zeros(n, bool) if show_more is None else np.asarray(show_more, bool)
        )
        self.objs = objs

    @classmethod
    def from_rows(cls, rows: list[ResultRow]) -> "Candidates":
        objs = np.empty(len(rows), dtype=object)
        objs[:] = rows
        return cls(
            doc_id=[r.doc_id for r in rows],
            value=[r.value for r in rows],
            backlinks=[r.backlinks for r in rows],
            domain_rank=[r.domain_rank for r in rows],
            url=[r.url for r in rows],
            title=[r.title for r in rows],
            snippet=[r.snippet for r in rows],
            host=[r.host for r in rows],
            indent=[r.indent for r in rows],
            show_more=[r.show_more for r in rows],
            objs=objs,
        )

    @classmethod
    def from_docmeta(
        cls, rows: list[tuple[int, int]], by_id: dict[int, dict]
    ) -> "Candidates":
        """Q15 assembly (ShowLink, searchservernew.dpr:1166-1204): engine
        (doc_id, score) rows + a docmeta display-field mapping, in engine
        order; rows without docmeta are dropped."""
        found = [(int(d), int(s), by_id[int(d)]) for d, s in rows if int(d) in by_id]
        return cls(
            doc_id=[d for d, _, _ in found],
            value=[s for _, s, _ in found],
            backlinks=[int(m["backlinks"]) for _, _, m in found],
            domain_rank=[int(m["rank"]) for _, _, m in found],
            url=[m["url"] for _, _, m in found],
            title=[m["title"] for _, _, m in found],
            snippet=[m["description"] for _, _, m in found],
            host=[m["host"] for _, _, m in found],
        )

    @classmethod
    def concat(cls, parts: list["Candidates"]) -> "Candidates":
        """Rows of several sets, in order. Each part first resolves its
        rows' DocFeatures (filling its own memo); the joined set carries
        them in a memo of its own."""
        memo = [f for p in parts for f in p.features()]

        def cat(name):
            return np.concatenate([getattr(p, name) for p in parts])

        return cls(
            cat("doc_id"), cat("value"), cat("backlinks"), cat("domain_rank"),
            cat("url"), cat("title"), cat("snippet"), cat("host"),
            memo=memo, slot=np.arange(len(memo)),
            indent=cat("indent"), show_more=cat("show_more"),
            objs=None if any(p.objs is None for p in parts) else cat("objs"),
        )

    def take(self, idx) -> "Candidates":
        return Candidates(
            self.doc_id[idx], self.value[idx], self.backlinks[idx],
            self.domain_rank[idx], self.url[idx], self.title[idx],
            self.snippet[idx], self.host[idx], memo=self.memo,
            slot=self.slot[idx], indent=self.indent[idx],
            show_more=self.show_more[idx],
            objs=None if self.objs is None else self.objs[idx],
        )

    def append(self, url: str, title: str, snippet: str, value: int,
               backlinks: int) -> None:
        """Add one row that has no document (R2 ``add``)."""
        host = host_from_url(url)
        for name, x in (
            ("doc_id", -1), ("value", value), ("backlinks", backlinks),
            ("domain_rank", -1), ("url", url), ("title", title),
            ("snippet", snippet), ("host", host), ("slot", -1),
            ("indent", False), ("show_more", False),
        ):
            col = getattr(self, name)
            tail = np.empty(1, dtype=col.dtype)
            tail[0] = x
            setattr(self, name, np.concatenate([col, tail]))
        if self.objs is not None:
            self.objs = np.concatenate([self.objs, np.empty(1, dtype=object)])

    def features(self) -> list[DocFeatures]:
        """Every row's DocFeatures, filling the memo where it is empty."""
        memo = self.memo
        out = []
        for i, s in enumerate(self.slot.tolist()):
            f = memo[s] if s >= 0 else None
            if f is None:
                f = doc_features(self.url[i], self.title[i], self.snippet[i])
                if s >= 0:
                    memo[s] = f
            out.append(f)
        return out

    def row(self, i: int) -> ResultRow:
        fields = dict(
            url=self.url[i],
            title=self.title[i],
            snippet=self.snippet[i],
            host=self.host[i],
            value=int(self.value[i]),
            backlinks=int(self.backlinks[i]),
            domain_rank=int(self.domain_rank[i]),
            doc_id=int(self.doc_id[i]),
            indent=bool(self.indent[i]),
            show_more=bool(self.show_more[i]),
        )
        obj = None if self.objs is None else self.objs[i]
        if obj is None:
            return ResultRow(**fields)
        for k, v in fields.items():
            setattr(obj, k, v)
        return obj

    def rows(self) -> list[ResultRow]:
        return [self.row(i) for i in range(len(self))]

    def __len__(self) -> int:
        return len(self.doc_id)

    def __iter__(self):
        return (self.row(i) for i in range(len(self)))

    def __getitem__(self, i):
        if isinstance(i, slice):
            return [self.row(j) for j in range(*i.indices(len(self)))]
        return self.row(range(len(self))[i])


def _objects(xs) -> np.ndarray:
    if isinstance(xs, np.ndarray) and xs.dtype == object:
        return xs
    out = np.empty(len(xs), dtype=object)
    out[:] = list(xs)
    return out


def fetch_partitioned(parts, starts, rows: list[tuple[int, int]],
                      rebase: bool) -> Candidates:
    """Q15 display fetch over searchers that each own one contiguous doc
    range starting at ``starts[i]`` (ascending): one ``fetch_results`` per
    owning part, results in input order. ``rebase`` hands each part ids
    relative to its start (federated parts number their docs from 0) and
    shifts the results back onto the global ids."""
    docs = np.array([int(d) for d, _ in rows], dtype=np.int64)
    owner = np.searchsorted(np.asarray(starts, dtype=np.int64), docs, side="right") - 1
    pieces = []
    for p in np.unique(owner[owner >= 0]).tolist():
        off = int(starts[p]) if rebase else 0
        sel = np.flatnonzero(owner == p).tolist()
        got = parts[p].fetch_results([(int(docs[j]) - off, rows[j][1]) for j in sel])
        got.doc_id = got.doc_id + off
        pieces.append(got)
    if not pieces:
        return Candidates.from_rows([])
    out = Candidates.concat(pieces)
    pos = {d: i for i, d in enumerate(docs.tolist())}
    return out.take(np.argsort([pos[d] for d in out.doc_id.tolist()], kind="stable"))


def _as_candidates(results) -> tuple[Candidates, bool]:
    if isinstance(results, Candidates):
        return results, False
    return Candidates.from_rows(results), True


# (DocFeatures field, in-field weight, hidden weight, position weight,
# position window) per text, in ReRank's order (PostProcess.pas:620-690)
_KEYWORD_FIELDS = (
    ("url_n", "KeywordInUrl", "KeywordHiddenInUrl", "KeywordPosInUrl", 20),
    ("domain_n", "KeywordInDomain", "KeywordHiddenInDomain", None, 0),
    ("title_n", "KeywordInTitle", "KeywordHiddenInTitle", "KeywordPosInTitle", 20),
    ("snippet_n", "KeywordInSnippet", "KeywordHiddenInSnippet", "KeywordPosInSnippet", 100),
)


def _r1_values(feats: list[DocFeatures], backlinks, domain_rank, query: str,
               weights: dict[str, float] | None) -> np.ndarray:
    """R1's RankingValueInt per row. Terms are added one by one in the
    reference's order, so the float64 sums are the reference's."""
    rp = weights or DEFAULT_RANKING_INI
    q = normalize_string(query)
    keywords = [(kw, " " + kw + " ") for kw in sorted(set(q.split()))]
    at = DocFeatures._fields.index
    fields = [
        (at(f), rp[k_in], rp[k_hid], None if k_pos is None else rp[k_pos], win)
        for f, k_in, k_hid, k_pos, win in _KEYWORD_FIELDS
    ]
    q_sp = " " + q + " "
    q_nospace = q.replace(" ", "")
    phrases = [
        (at(f), needle, rp[k])
        for f, needle, k in (
            ("url_n", q_sp, "PhraseInUrl"),
            ("url_n", q_nospace, "NoSpacesPhraseInUrl"),
            ("domain_n", q_sp, "PhraseInDomain"),
            ("domain_n", q_nospace, "NoSpacesPhraseInDomain"),
            ("title_n", q_sp, "PhraseInTitle"),
            ("snippet_n", q_sp, "PhraseInSnippet"),
        )
        if needle  # an empty no-spaces phrase never counts
    ]
    w_root, w_www = rp["IsDomainRoot"], rp["UrlStartsWithWWW"]
    w_len, w_path, w_bl = rp["UrlLength"], rp["PathElements"], rp["BackLinks"]

    out = np.empty(len(feats), dtype=np.float64)
    for i, (f, bl, dr) in enumerate(zip(feats, backlinks.tolist(), domain_rank.tolist())):
        value = 0.0
        for kw, kw_sp in keywords:
            for slot, w_in, w_hid, w_pos, win in fields:
                text = f[slot]
                if kw not in text:
                    continue
                start = text.find(kw_sp)
                if start < 0:
                    value += w_hid
                    continue
                value += w_in
                if w_pos is not None:
                    position = len(text[:start].split())
                    if position < win:
                        value += w_pos * (win - position)
        for slot, needle, w in phrases:
            if needle in f[slot]:
                value += w
        if f.is_domain_root:
            value += w_root
        if f.starts_www:
            value += w_www
        value += w_len * (100 - f.url_len)
        value += w_path * (10 - f.path_elements)
        value += w_bl * bl
        if dr != -1:
            value += rp["DomainRank"] * (1_000_000 - dr)
        out[i] = value
    return np.rint(out * 10.0).astype(np.int64)


def rerank(
    results: Candidates | list[ResultRow],
    query: str,
    weights: dict[str, float] | None = None,
) -> None:
    """R1 — PostProcess.pas:525-714 (ReRank). Sets RankingValueInt."""
    c, is_list = _as_candidates(results)
    c.value = _r1_values(c.features(), c.backlinks, c.domain_rank, query, weights)
    if is_list:
        c.rows()  # writes the values back into the row objects


def _scale(c: Candidates, m, f: float) -> None:
    c.value[m] = np.rint(f * c.value[m])
    c.backlinks[m] = np.rint(f * c.backlinks[m])


def _apply_rules(c: Candidates, rules: list[str]) -> None:
    best_value = int(c.value.max()) if len(c) else 0
    best_bl = int(c.backlinks.max()) if len(c) else 0
    url_key = host_tld = None  # match columns, made on first use
    for line in rules:
        parts = line.split()
        if not parts:
            continue
        op = parts[0].lower()
        if op == "all" and len(parts) == 2:
            f = _tofloat(parts[1])
            if f is not None:
                _scale(c, slice(None), f)
        elif (op == "url" and len(parts) == 3) or (op == "deleteurl" and len(parts) == 2):
            f = _tofloat(parts[2]) if op == "url" else 0.0
            if f is None:
                continue
            if url_key is None:
                url_key = _objects([x.url_key for x in c.features()])
            m = url_key == parts[1].lower()
            if not m.any():
                continue
            if op == "url":
                _scale(c, m, f)
            else:
                c.url[m] = ""
                c.value[m] = 0
                c.slot[m] = -1
                url_key[m] = ""
        elif op in ("host", "tld") and len(parts) == 3:
            f = _tofloat(parts[2])
            if f is None:
                continue
            needle = parts[1].lower()
            if op == "host":
                m = c.host == needle
            else:
                if host_tld is None:
                    host_tld = _objects([h.rpartition(".")[2] for h in c.host])
                m = host_tld == needle
            if m.any():
                _scale(c, m, f)
        elif op == "add" and len(parts) >= 3:
            f = _tofloat(parts[1])
            if f is not None:
                rest = line.split(" ", 3)[3] if len(line.split(" ", 3)) > 3 else ""
                title, _, snippet = rest.partition("^")
                c.append(parts[2], title, snippet, round(f * best_value),
                         round(f * best_bl))
                url_key = host_tld = None


def apply_adjustments(
    results: Candidates | list[ResultRow], rules: list[str]
) -> Candidates | list[ResultRow]:
    """R2 — PostProcess.pas:327-468 (ProcessRankingAdjustment). Rule lines:
    'all f' / 'host h f' / 'tld t f' / 'url u f' / 'deleteurl u' /
    'add f url title^snippet'. Each rule is one mask over the rows."""
    c, is_list = _as_candidates(results)
    _apply_rules(c, rules)
    if not is_list:
        return c
    results[:] = c.rows()
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
    results: Candidates | list[ResultRow],
    query: str,
    weights: dict[str, float] | None = None,
    ranking_dir: str | None = None,
    language: str = "en",
) -> Candidates | list[ResultRow]:
    """R1+R2+R3 — PostProcess.pas:723-826 (AdjustRanking): re-rank, apply
    general.txt → keyword files + auto boosts → query file → language file,
    then stable sort descending (bubble sort is stable). Returns a
    Candidates in the new order; a ResultRow list is sorted in place."""
    c, is_list = _as_candidates(results)
    qn = normalize_string(query)
    rerank(c, query, weights)

    def load(name: str) -> list[str]:
        if not ranking_dir:
            return []
        p = os.path.join(ranking_dir, name)
        if os.path.exists(p):
            with open(p, encoding="utf-8", errors="replace") as f:
                return [line.rstrip("\n") for line in f]
        return []

    _apply_rules(c, load("general.txt"))
    kw_rules: list[str] = []
    for s in qn.split():
        if s and not s.startswith("-") and ":" not in s and "." not in s:
            kw_rules += load(os.path.join("keywords", _fname(s) + ".txt"))
    kw_rules += auto_host_boosts(qn)
    _apply_rules(c, kw_rules)
    _apply_rules(c, load(os.path.join("queries", _fname(qn) + ".txt")))
    _apply_rules(c, load("english.txt" if language == "en" else "german.txt"))
    c = c.take(np.argsort(-c.value, kind="stable"))
    if not is_list:
        return c
    results[:] = c.rows()
    return results


def _fname(keyword: str) -> str:
    """PostProcess.pas:119-134 (FileNameFromKeyword)."""
    out = "".join(
        c if ("a" <= c <= "z") or ("0" <= c <= "9") or c == "-" else "_"
        for c in keyword
    )
    return out[:100]


def post_process(
    results: Candidates | list[ResultRow], query: str, upto: int | None = None
) -> list[ResultRow]:
    """R4 — PostProcess.pas:828-877 (DoPostProcess): drop '\\' urls and exact
    duplicate snippets, cap 3 results/host (unless a host:/site: query), set
    indent/show-more flags, then regroup same-host rows per 10-result page.

    With ``upto`` the walk stops once the 10-row page holding output row
    ``upto`` is complete: rows past it cannot change an earlier page."""
    c, _ = _as_candidates(results)
    combine = "host:" not in query.lower() and "site:" not in query.lower()
    need = len(c) if upto is None else -(-upto // 10) * 10
    shown: dict[str, int] = {}
    seen_snippets: set[str] = set()
    out: list[int] = []
    for i in range(len(c)):
        if len(out) >= need:
            break
        url, host, snippet = c.url[i], c.host[i], c.snippet[i]
        if not url or "\\" in url:
            continue
        n = shown.get(host, 0)
        if combine and n >= 3:
            continue
        if snippet in seen_snippets:
            continue
        seen_snippets.add(snippet)
        shown[host] = n + 1
        if combine:
            c.indent[i] = n > 0
            c.show_more[i] = n == 2
        out.append(i)

    # CleanUpIndenting — PostProcess.pas:241-305: within each 10-row page,
    # move a row up to sit directly under an earlier same-host row.
    for page_start in range(0, len(out), 10):
        page = out[page_start : page_start + 10]
        i = 2
        while i < len(page):
            if c.host[page[i]] != c.host[page[i - 1]]:
                found = -1
                for j in range(i - 1, -1, -1):
                    if c.host[page[j]] == c.host[page[i]]:
                        found = j
                        break
                if found >= 0:
                    page.insert(found + 1, page.pop(i))
            i += 1
        if page:
            c.indent[page[0]] = False
        for i in range(1, len(page)):
            if c.host[page[i]] != c.host[page[i - 1]]:
                c.indent[page[i]] = False
        out[page_start : page_start + 10] = page
    return [c.row(i) for i in out]
