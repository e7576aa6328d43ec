"""R1-R4 re-rank layer tests (PostProcess.pas semantics)."""

from deusu_spark.rerank import (
    DEFAULT_RANKING_INI,
    Candidates,
    ResultRow,
    adjust_ranking,
    apply_adjustments,
    host_from_url,
    normalize_string,
    post_process,
    rerank,
)


def rows():
    return Candidates.from_rows([
        ResultRow("http://linux.org/", "Linux Home", "the linux kernel site", backlinks=500),
        ResultRow("http://www.linux.org/download", "Download Linux", "get linux here", backlinks=100),
        ResultRow("http://linux.org/news", "Linux News", "daily linux news", backlinks=50),
        ResultRow("http://linux.org/blog", "Linux Blog", "linux blog posts", backlinks=40),
        ResultRow("http://other.com/", "Other", "nothing relevant", backlinks=10),
        ResultRow("http://dup.com/x", "Dup A", "identical snippet", backlinks=5),
        ResultRow("http://dup2.com/y", "Dup B", "identical snippet", backlinks=5),
        ResultRow("http://bad.com/a\\b", "Bad", "backslash url", backlinks=5),
    ])


def test_normalize_string():
    # note: Pascal Trim runs BEFORE char replacement, so a trailing '!'
    # leaves a trailing space (PostProcess.pas:470-519) — preserved.
    assert normalize_string("Foo-Bar  Baz!") == "foo bar baz "
    assert normalize_string("Müller straße") == "mueller strasse"


def test_host_from_url():
    assert host_from_url("http://www.a.com/x") == "www.a.com"
    assert host_from_url("https://B.org") == "b.org"


def test_rerank_orders_relevant_first():
    rs = rows()
    rerank(rs, "linux")
    out = rs.rows()
    # phrase-in-domain + domain-root should dominate
    assert out[0].value > out[4].value
    assert all(isinstance(r.value, int) for r in out)


def test_adjustment_dsl():
    rs = rows()
    rerank(rs, "linux")
    v0 = rs.rows()[0].value
    apply_adjustments(rs, ["host linux.org 2.0"])
    assert rs.rows()[0].value == round(2.0 * v0)
    apply_adjustments(rs, ["deleteurl other.com/"])
    assert rs.rows()[4].url == ""
    before = len(rs)
    apply_adjustments(rs, ["add 0.5 http://new.com/ New Site^a new snippet"])
    out = rs.rows()
    assert len(out) == before + 1
    assert out[-1].title == "New Site" and out[-1].snippet == "a new snippet"


def test_auto_host_boost_applies():
    rs = rows()
    ordered = adjust_ranking(rs, "linux", weights=DEFAULT_RANKING_INI)
    # linux.org is not a boost TLD; ordering still deterministic & descending
    vals = [r.value for r in ordered.rows()]
    assert vals == sorted(vals, reverse=True)


def test_post_process_collapse_and_dedup():
    rs = rows()
    ordered = adjust_ranking(rs, "linux")
    out = post_process(ordered, "linux")
    hosts = [r.host for r in out]
    assert hosts.count("linux.org") <= 3
    snippets = [r.snippet for r in out]
    assert len(snippets) == len(set(snippets))  # exact-dup snippets removed
    assert all("\\" not in r.url for r in out)
    # host: queries don't collapse (3 linux.org rows + 1 www.linux.org,
    # which is a different HostName — PostProcess.pas:160-171)
    out2 = post_process(rows(), "host:linux.org")
    assert len([r for r in out2 if r.host == "linux.org"]) == 3
    assert len([r for r in out2 if r.host == "www.linux.org"]) == 1
