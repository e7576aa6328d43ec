"""Seeded inputs for the engine benchmark.

Everything here is a pure function of the workload seed: the corpus, the
delta batch appended by ``churn``, the conversations it deletes, the query
population and the request stream. The engine only ever sees these
generated inputs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from deusu_spark import synth

# Distinct queries in the serving population: 8x the LocalSearcher's
# 2,048-slot result cache, so the cache must overflow and evict. A quarter
# of them are heavy: they match over a thousand documents, so their pages
# re-rank a full top-1,000.
QUERY_POPULATION = 16_384
HEAVY_SHARE = 0.25
# Zipf exponent over popularity ranks within each class (rank 1 = most
# requested query of the class).
QUERY_ZIPF_S = 0.7
# Request classes in a fixed repeating order, so every window of ten
# requests has the same mix: 7 new light queries, 1 new heavy one, and 2
# page-2/3 requests (one for a recent light and one for a recent heavy
# query). A random mix would let the heavy share, which sets the mean cost,
# drift from run to run.
SCHEDULE = ("light", "heavy", "light", "light", "page_light",
            "light", "light", "page_heavy", "light", "light")
RECENT_WINDOW = 16

# Tail terms start at this vocabulary rank: below it, single terms match
# hundreds of documents and would make "light" queries heavy.
TAIL_FROM = 300
_ROLES = ("user", "assistant", "system", "tool")
# The most frequent vocabulary terms: each matches over a thousand documents
# of the base corpus, so a page over one re-ranks a full top-1,000.
_HEAD_TERMS = tuple(f"w{i:04d}" for i in range(20))
# Left-hand terms of the light hot+tail ANDs: the terms synth sprinkles into
# ~6% of turns each, and the head terms.
_HOT_TERMS = synth.HOT_TERMS + _HEAD_TERMS


def _rng(seed: int, stream: int) -> np.random.Generator:
    """One independent generator per (seed, purpose)."""
    return np.random.default_rng([int(seed), stream])


def corpus(seed: int, n_conv: int) -> pd.DataFrame:
    """Base transcripts: conversations conv00000000 .. n_conv-1."""
    return synth.gen_transcripts(n_conv, seed=int(_rng(seed, 1).integers(2**31)))


def delta(seed: int, start: int, n_conv: int) -> pd.DataFrame:
    """New conversations whose ids sort after every base conversation, as
    time-ordered conversation ids do in an append stream."""
    return synth.gen_transcripts(
        n_conv, seed=int(_rng(seed, 2).integers(2**31)), start=start
    )


def deleted_convs(seed: int, n_base: int, n_delete: int) -> list[str]:
    """Existing base conversations to take down."""
    picks = _rng(seed, 3).choice(n_base, size=n_delete, replace=False)
    return [f"conv{int(k):08d}" for k in sorted(picks)]


def query_population(seed: int, n: int = QUERY_POPULATION) -> dict[str, list[str]]:
    """``n`` distinct queries split into ``light`` and ``heavy`` classes,
    each in popularity order (index 0 = rank 1).

    Light: tail single terms, hot+tail ANDs and ``intitle:`` queries.
    Heavy: head single terms and head-minus-tail NOTs, each matching over a
    thousand documents. Popularity ranks are a seeded shuffle, independent
    of the order queries were drawn in."""
    rng = _rng(seed, 4)
    n_heavy = int(n * HEAVY_SHARE)
    pops: dict[str, list[str]] = {"light": [], "heavy": []}
    want = {"light": n - n_heavy, "heavy": n_heavy}
    seen: set[str] = set()
    for cls in ("heavy", "light"):
        out = pops[cls]
        while len(out) < want[cls]:
            kind = rng.random()
            tail = f"w{int(rng.integers(TAIL_FROM, synth.VOCAB_SIZE)):04d}"
            head = _HEAD_TERMS[int(rng.integers(len(_HEAD_TERMS)))]
            hot = _HOT_TERMS[int(rng.integers(len(_HOT_TERMS)))]
            if cls == "heavy":
                q = head if kind < 0.01 else f"{head} -{tail}"
            elif kind < 0.4:
                q = tail
            elif kind < 0.75:
                q = f"{hot} {tail}"
            else:
                q = f"intitle:{_ROLES[int(rng.integers(4))]} {tail}"
            if q not in seen:
                seen.add(q)
                out.append(q)
        pops[cls] = [out[i] for i in rng.permutation(len(out))]
    return pops


def request_stream(
    seed: int, pops: dict[str, list[str]], n: int
) -> list[tuple[str, int]]:
    """``n`` requests as (query, startwith), following ``SCHEDULE``. New
    queries are drawn Zipf-wise from their class; a page request asks for
    page 2 or 3 (startwith 11 or 21) of one of the class's recent queries."""
    rng = _rng(seed, 5)
    picks = {}
    for cls, pop in pops.items():
        p = np.arange(1, len(pop) + 1, dtype=np.float64) ** (-QUERY_ZIPF_S)
        picks[cls] = iter(rng.choice(len(pop), size=n, p=p / p.sum()).tolist())
    back = rng.integers(0, RECENT_WINDOW, size=n)
    page = rng.integers(2, 4, size=n)
    recent: dict[str, list[str]] = {"light": [], "heavy": []}
    out: list[tuple[str, int]] = []
    for i in range(n):
        slot = SCHEDULE[i % len(SCHEDULE)]
        cls = slot.removeprefix("page_")
        if slot != cls and recent[cls]:
            q = recent[cls][-1 - int(back[i]) % len(recent[cls])]
            out.append((q, 1 + 10 * (int(page[i]) - 1)))
            continue
        q = pops[cls][next(picks[cls])]
        recent[cls] = (recent[cls] + [q])[-RECENT_WINDOW:]
        out.append((q, 1))
    return out
