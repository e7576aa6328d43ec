"""Web-mode end-to-end slice (SURVEY §7.4): raw HTML pages → P1 strip
(htmlparse.html_docs) → as_transcripts → full index build (P2-P5, G1-G9)
→ queries (Q1-Q13), rank-identical across the distributed engine, the
serving engine, and the pure-Python oracle fed the SAME extracted text.

The corpus plants every P1 hazard in live pages: script/style payloads and
comment text that must never be indexed, anchor text that is link-text not
body-text, titles (intitle: scope), and HTML entities/umlauts that the
tokenizer's fold must decode identically on both paths."""

import shutil
import tempfile

import pandas as pd
import pytest

from deusu_spark.htmlparse import as_transcripts, html_docs, html_to_text
from deusu_spark.oracle import oracle

HOSTS = ["www.alpha.de", "www.beta.com", "www.gamma.de"]

COMMON = ["linux", "ubuntu", "google", "java", "server"]


def _page(i: int) -> tuple[str, str]:
    host = HOSTS[i % len(HOSTS)]
    url = f"{host}/p{i}"
    words = [COMMON[j % len(COMMON)] for j in range(i % 4 + 1)]
    words += [f"page{i:03d}", f"filler{i % 7}"]
    if i % 5 == 0:
        words.append("M&uuml;nchen")  # entity umlaut → folds to muenchen
    if i % 6 == 0:
        words.append("stra&szlig;e")  # ß entity → strasse
    title = f"titleword{i % 3} {'linux' if i % 2 else 'docs'}"
    html = (
        f"<html><head><title>{title}</title>"
        "<style>body {{ color: red }} poisonword</style>"
        "<script>var poisonword = 'poisonword';</script></head>"
        "<body>"
        f"<p>{' '.join(words)}</p>"
        "<!-- commentword should never be indexed -->"
        '<a href="/x">anchorword is link text</a>'
        f"<div>{'google' if i % 3 == 0 else 'tailword'}</div>"
        "</body></html>"
    )
    return url, html


@pytest.fixture(scope="module")
def web_corpus():
    return [_page(i) for i in range(30)]


@pytest.fixture(scope="module")
def web_index(spark, web_corpus):
    from deusu_spark.build import build_index

    df = spark.createDataFrame(web_corpus, "url string, html string")
    tx = as_transcripts(html_docs(df))
    d = tempfile.mkdtemp(prefix="deusu_web_")
    build_index(
        spark, tx, d, fancy_threshold=10, seg_size=16, n_salts=2
    )
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="module")
def web_oracle(web_corpus):
    """The oracle fed the SAME extracted text (html_to_text driver-side —
    the function itself is pinned by test_htmlparse goldens)."""
    rows = []
    for url, html in web_corpus:
        title, body = html_to_text(html)
        rows.append(
            {
                "conv_id": url,
                "turn_idx": 0,
                "role": title,
                "text": body,
                "tool": "",
            }
        )
    return oracle.build_index(pd.DataFrame(rows), fancy_threshold=10)


WEB_QUERIES = [
    "linux",  # hot body+title term (fancy path at threshold 10)
    "linux ubuntu",  # AND
    "linux -google",  # NOT
    "intitle:linux",  # title-scoped
    "titleword1",  # title-only term
    "page003",  # unique cold term
    "münchen",  # umlaut query ↔ entity-encoded page text
    "straße",  # ß query ↔ &szlig; page text
    "poisonword",  # script/style content: must be EMPTY
    "commentword",  # comment content: must be EMPTY
    "anchorword",  # anchor text is not body text: must be EMPTY
    "host:www.alpha.de/p0",  # host(≈page) postings
    "host:www.alpha.de/p0 linux",  # host + term mix
]


def test_web_e2e_rank_identity(spark, web_index, web_oracle):
    from deusu_spark.query import SearchEngine
    from deusu_spark.query_local import LocalSearcher

    eng = SearchEngine(spark, web_index)
    ls = LocalSearcher(web_index)
    for q in WEB_QUERIES:
        expected = oracle.search(web_oracle, q, k=10)
        assert eng.search(q, k=10) == expected, f"distributed: {q!r}"
        assert ls.search(q, k=10) == expected, f"serving: {q!r}"


def test_web_e2e_hazards_absent(spark, web_index, web_oracle):
    """The planted hazards must be empty in BOTH implementations (if both
    indexed script text the identity test above would still pass — pin the
    semantics, not just the agreement)."""
    from deusu_spark.query import SearchEngine

    eng = SearchEngine(spark, web_index)
    for q in ("poisonword", "commentword", "anchorword"):
        assert eng.search(q, k=10) == []
        assert oracle.search(web_oracle, q, k=10) == []
    # and the umlaut/entity round-trip is non-empty
    assert eng.search("münchen", k=10)


def test_web_extracted_text_parity(spark, web_corpus):
    """Per-row text equality: the Arrow-batched html_docs output equals the
    driver-side html_to_text on every page (the per-row invariant the
    north rule pins, applied to web mode)."""
    df = spark.createDataFrame(web_corpus, "url string, html string")
    got = {r["url"]: (r["title"], r["text"]) for r in html_docs(df).collect()}
    for url, html in web_corpus:
        assert got[url] == html_to_text(html), url
