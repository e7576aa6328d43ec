"""End-to-end search lifecycle — the CGI layer's composition
(NewSearch.pas:181-291 → PostProcess.pas:723-877):

    engine top-1000  →  ShowLink display-field fetch (Q15)
                     →  AdjustRanking (R1 feature re-rank + R2 editorial
                        adjustments + R3 stable re-sort)
                     →  DoPostProcess (R4 dedup, per-host collapse,
                        indenting)
                     →  pagination slice

Works over either engine (query.SearchEngine for distributed batch,
query_local.LocalSearcher for serving) — both expose the same
search()/fetch_results() surface, so the composition is engine-agnostic
exactly like the CGI is server-agnostic.

The rows between the fetch and R4 stay columnar (rerank.Candidates): on
LocalSearcher the fetch is a take on the resident DocMeta display columns
and R1 reads each doc's memoized query-independent features, so a request
pays only for the query-dependent part of R1-R3. R4 stops at the end of
the 10-row page holding the requested slice, and only the rows it keeps
become ResultRow objects.
"""

from __future__ import annotations

from .constants import MAX_RESULTS
from .rerank import ResultRow, adjust_ranking, post_process


def search_render(
    searcher,
    query: str,
    startwith: int = 1,
    showcount: int = 10,
    weights: dict[str, int] | None = None,
    ranking_weights: dict[str, float] | None = None,
    ranking_dir: str | None = None,
    language: str = "en",
    highlight: bool = False,
) -> list[ResultRow]:
    """Full query lifecycle; returns the rendered page of ResultRows.

    Mirrors the reference's order of operations: the engine ranks the
    top-1000 (first-stage score), ShowLink materializes display fields for
    them, AdjustRanking re-ranks on display features, DoPostProcess
    dedups/collapses/indents, and only then does pagination slice
    (searchservernew.dpr:1328-1363 + NewSearch.pas:181-291)."""
    startwith = min(max(startwith, 1), 991)
    showcount = min(max(showcount, 10), 1000)
    end = startwith - 1 + showcount
    rows = searcher.search(query, k=MAX_RESULTS, weights=weights)
    results = searcher.fetch_results(rows)
    results = adjust_ranking(
        results,
        query,
        weights=ranking_weights,
        ranking_dir=ranking_dir,
        language=language,
    )
    page = post_process(results, query, upto=end)[startwith - 1 : end]
    if highlight:
        # R6 (query.dpr:98,226-243): highlight only the rendered page
        from .highlight import highlight_results

        page = highlight_results(page, query)
    return page
