"""Per-posting scoring rules — the one implementation both engines run.

The reference scores a posting in one place (searchservernew.dpr:874-899,
host path :355-364). Here that formula lives once, as numpy kernels over
arrays, with two drivers: the distributed engine calls them inside its
``mapInPandas`` stages (query.SearchEngine), the serving tier calls them
directly on its resident sidecars (query_local.LocalSearcher). The build
calls ``static_scores``' JVM twin, ``static_score_col``, for the block-max
bounds. The oracle (deusu_spark/oracle) keeps its own row-at-a-time copy
on purpose: it is the reference check.

Every kernel takes the per-doc sidecars as ``side`` (a mapping with
``fd``, ``he``, ``rank``, ``bl`` and ``dl`` arrays) plus ``at``, the index
that aligns them with the postings (None = already aligned), so a caller
gathers only the columns the mode reads.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import functions as F

from .constants import (
    DEFAULT_WEIGHTS,
    FANCY_RANK_HI,
    FANCY_RANK_LO,
    LANG_BONUS,
    PREFER_DE,
    PREFER_EN,
    RANK_FACTOR,
    SCORE_CLAMP,
    UNRANKED_RANK_VALUE,
)

# textbook BM25 constants of mode='bm25' (binary TF, dl = body token count)
BM25_K1 = 1.2
BM25_B = 0.75


def backlink_value(bl: np.ndarray, max_bl: int) -> np.ndarray:
    """Unrounded backlink bonus 2500·ln(bl)/ln(max_bl); 1 for a doc without
    backlinks, 0 for linked docs when max_bl <= 1."""
    ln_mbl = math.log(max_bl) if max_bl > 0 else 0.0
    if ln_mbl <= 0:
        return np.where(bl == 0, 1.0, 0.0)
    return np.where(bl == 0, 1.0, 2500.0 * np.log(np.maximum(bl, 1)) / ln_mbl)


def static_scores(
    flags: np.ndarray,
    fd: np.ndarray,
    he: np.ndarray,
    rank: np.ndarray,
    backlinks: np.ndarray,
    max_bl: int,
    include_backlink: bool = True,
    weights: dict[str, int] | None = None,
) -> np.ndarray:
    """Vectorized pre-IDF static score of postings — the term-independent part
    of searchservernew.dpr:874-897. A posting's final score is
    Round(static * idf) clamped to 65535; with include_backlink=True this is
    the acSet variant, an upper bound for all paths (the fast-AND path just
    omits the non-negative backlink add, :491)."""
    w = weights or DEFAULT_WEIGHTS
    flags = flags.astype(np.int64)
    fd = fd.astype(np.int64)
    v = np.full(len(flags), w["b1"], dtype=np.float64)
    v += np.where(flags & 1, w["b2"], 0)
    v += np.where(flags & 2, w["b3"], 0)
    v += np.where(flags & 4, w["b4"], 0)
    v += np.where(fd & 128, w["b5"], 0)
    v += np.where(fd & 64, w["b6"], 0)
    if PREFER_DE:
        v += np.where(fd & 32, LANG_BONUS, 0)
    if PREFER_EN:
        v += np.where(fd & 32, 0, LANG_BONUS)
    v += (31 - (fd & 31)) * w["b7"]
    if include_backlink:
        # np.round = round-half-to-even = Pascal Round
        v += np.round(backlink_value(np.asarray(backlinks), max_bl))
    rank_v = np.asarray(rank, dtype=np.int64) + 1
    rank_v = np.where(rank_v == 0, UNRANKED_RANK_VALUE, rank_v)
    return (1.0 - rank_v * RANK_FACTOR) * v / np.asarray(he, dtype=np.float64)


def static_score_col(max_bl: int, w: dict[str, int] | None = None):
    """JVM column-expression twin of static_scores() (same formula,
    searchservernew.dpr:874-897 with the acSet backlink add): evaluated
    inside whole-stage codegen before the posting shuffle so rows carry a
    single float instead of four sidecar columns through the shuffle and
    into the Python encoders.

    Parity note: all terms except the backlink value are integer-valued and
    exact in float64; JVM Math.log vs libm log may differ by ~1 ulp, and the
    posting stream narrows the value to float32 (it only feeds the
    max_static pruning bounds; relative error ~6e-8 on values ≤ 65535), so
    block-max consumers must treat bounds with a ±1 score-point margin
    (query.py does)."""
    w = w or DEFAULT_WEIGHTS
    fd = F.col("fd")
    flags = F.col("flags")
    v = F.lit(float(w["b1"]))
    v = v + F.when(flags.bitwiseAND(F.lit(1)) != 0, float(w["b2"])).otherwise(0.0)
    v = v + F.when(flags.bitwiseAND(F.lit(2)) != 0, float(w["b3"])).otherwise(0.0)
    v = v + F.when(flags.bitwiseAND(F.lit(4)) != 0, float(w["b4"])).otherwise(0.0)
    v = v + F.when(fd.bitwiseAND(F.lit(128)) != 0, float(w["b5"])).otherwise(0.0)
    v = v + F.when(fd.bitwiseAND(F.lit(64)) != 0, float(w["b6"])).otherwise(0.0)
    if PREFER_DE:
        v = v + F.when(fd.bitwiseAND(F.lit(32)) != 0, float(LANG_BONUS)).otherwise(0.0)
    if PREFER_EN:
        v = v + F.when(fd.bitwiseAND(F.lit(32)) == 0, float(LANG_BONUS)).otherwise(0.0)
    v = v + (F.lit(31) - fd.bitwiseAND(F.lit(31))).cast("double") * float(w["b7"])
    ln_mbl = math.log(max_bl) if max_bl > 0 else 0.0
    bl = F.col("backlinks")
    if ln_mbl > 0:
        blv = F.when(bl == 0, 1.0).otherwise(
            F.lit(2500.0) * F.log(bl.cast("double")) / F.lit(ln_mbl)
        )
    else:
        blv = F.when(bl == 0, 1.0).otherwise(0.0)
    v = v + F.bround(blv, 0)  # HALF_EVEN, like Pascal Round / np.round
    rank_v = F.col("rank") + F.lit(1)
    rank_v = F.when(rank_v == 0, UNRANKED_RANK_VALUE).otherwise(rank_v)
    return (
        (F.lit(1.0) - rank_v.cast("double") * F.lit(RANK_FACTOR))
        * v
        / F.col("he").cast("double")
    )


def idf_scaled(static, idf: float) -> np.ndarray:
    """Round(static · idf) clamped to 65535 — a posting's score from its
    static score, and a segment's score bound from its max_static."""
    return np.minimum(np.round(static * idf), SCORE_CLAMP)


def in_fancy_window(rank: np.ndarray) -> np.ndarray:
    """The fancy accelerator list's per-doc predicate: domain rank inside
    the open window (build.py fancy emit; GenDb.dpr:1053-1071). A part
    without a term's fancy segments rebuilds the list exactly from the
    full postings with this mask."""
    return (rank > FANCY_RANK_LO) & (rank < FANCY_RANK_HI)


def location_mask(flags: np.ndarray, url_only: bool, title_only: bool):
    """Postings an inurl:/intitle: term keeps (flag bit 4 = url, 2 =
    title); a plain term keeps every posting."""
    if url_only:
        return (flags & 4) != 0
    if title_only:
        return (flags & 2) != 0
    return slice(None)


def term_plan(t, hole: bool = False) -> dict:
    """The per-term constants the kernels read, as a plain dict that ships
    cheaply into Spark tasks. ``hole`` is the engine's decision that its
    index runs this term as a fancy hole (query_local
    ``_Coordinator._postings_kind``)."""
    return {
        "idf": t.idf,
        "df": t.df,
        "include_bl": t.include_backlink,
        "is_host": t.host is not None,
        "is_set": t.action == "SET",
        "hole": hole,
    }


def term_scores(
    p: dict,
    flags: np.ndarray,
    side,
    at,
    *,
    mode: str,
    w: dict[str, int],
    max_bl: int,
    n_docs: int,
    avgdl: float,
) -> np.ndarray:
    """Scores of ONE query term's postings. ``p`` is its ``term_plan``,
    ``flags`` its (location-masked) posting flags; ``side[c][at]`` are the
    postings' sidecar values.

    mode='deusu': the reference score, searchservernew.dpr:874-899, and
    for host terms (no postings, one row per doc of the host) :355-364.
    mode='bm25': BM25 weight with binary TF, idf = ln(1+(N-df+0.5)/(df+0.5)),
    k1=1.2, b=0.75; host terms score 0."""

    def col(c):
        return side[c] if at is None else side[c][at]

    if mode == "bm25":
        if p["is_host"]:
            return np.zeros(len(flags), dtype=np.float64)
        df = p["df"]
        idf = math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))
        norm = 1 - BM25_B + BM25_B * col("dl") / avgdl
        return idf * (BM25_K1 + 1.0) / (1.0 + BM25_K1 * norm)
    if p["is_host"]:
        v = np.full(len(flags), w["b1"], dtype=np.float64)
        v += (31 - (col("fd") & 31)) * w["b7"]
        if p["is_set"]:
            v += np.round(backlink_value(col("bl"), max_bl))
        return np.clip(v, 1, SCORE_CLAMP)
    s = static_scores(
        flags, col("fd"), col("he"), col("rank"), col("bl"), max_bl,
        include_backlink=p["include_bl"], weights=w,
    )
    return idf_scaled(s, p["idf"])


def score_term(p: dict, docs: np.ndarray, flags: np.ndarray, side, at, **ctx):
    """(docs, scores) of one query term's postings: ``term_scores``, then,
    for a fancy-hole term, only the docs inside the fancy window."""
    s = term_scores(p, flags, side, at, **ctx)
    if p["hole"]:
        keep = in_fancy_window(side["rank"] if at is None else side["rank"][at])
        return docs[keep], s[keep]
    return docs, s
