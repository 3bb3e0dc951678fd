"""Meta-robots directive extraction over raw (possibly garbage) html
bytes."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pompspark.metarobots import filter_noindex, meta_robots_flags

CASES = [
    (b"<html><meta name=\"robots\" content=\"noindex\"><body>x", True, False),
    (b"<meta name='robots' content='nofollow'>", False, True),
    (b"<meta name=ROBOTS content='NOINDEX, NOFOLLOW'>", True, True),
    (b"<META NAME=robots CONTENT=none>", True, True),
    # reversed attribute order
    (b"<meta content=\"noindex\" name=\"robots\">", True, False),
    # index,follow is an explicit allow
    (b"<meta name=robots content=\"index, follow\">", False, False),
    # other meta tags don't trigger
    (b"<meta name=viewport content=\"width=device-width\">", False, False),
    # description containing the words is NOT a robots tag
    (b"<meta name=description content=\"noindex nofollow talk\">", False, False),
    (b"plain page no meta", False, False),
    # invalid utf-8 around a valid tag must not throw (lenient cast)
    (b"\xff\xfe\x00garbage<meta name=robots content=noindex>more\xff", True, False),
    (b"", False, False),
    (None, False, False),
    # directives with ':' and digits before the token (was fail-open)
    (b'<meta name="robots" content="max-snippet:-1, noindex">', True, False),
    (b"<meta content='max-image-preview:large, nofollow' name=robots>", False, True),
    (b"<meta name=robots content=max-snippet:-1,noindex>", True, False),
]


@pytest.fixture(scope="module")
def flags(spark):
    df = spark.createDataFrame(
        [(i, h) for i, (h, _, _) in enumerate(CASES)], "i int, html binary"
    )
    return {
        r.i: (r.noindex, r.nofollow)
        for r in meta_robots_flags(df).collect()
    }


@pytest.mark.parametrize("i", range(len(CASES)))
def test_flags(flags, i):
    _, noindex, nofollow = CASES[i]
    assert flags[i] == (noindex, nofollow), f"case {i}"


def test_filter_noindex_and_no_shuffle(spark):
    df = spark.createDataFrame(
        [(i, h) for i, (h, _, _) in enumerate(CASES)], "i int, html binary"
    )
    kept = filter_noindex(df)
    want = {i for i, (_, noindex, _) in enumerate(CASES) if not noindex}
    assert {r.i for r in kept.collect()} == want
    plan = kept._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "InPandas" not in plan, plan


# ------------------------------------------------------------- rel=canonical


CANON_CASES = [
    # (url, html, expected canonical_url)
    ("http://a.example/page?utm=1",
     b'<link rel="canonical" href="http://a.example/page">',
     "http://a.example/page"),
    # reversed attribute order
    ("http://a.example/v2",
     b'<link href="http://a.example/page" rel="canonical">',
     "http://a.example/page"),
    # relative href resolves against the page url
    ("http://a.example/dir/v3",
     b"<link rel=canonical href=/page>",
     "http://a.example/page"),
    # case preserved past the host
    ("http://a.example/upper",
     b'<LINK REL=CANONICAL HREF="http://a.example/MiXeD">',
     "http://a.example/MiXeD"),
    # no tag -> self
    ("http://a.example/self", b"<html>no link tag</html>",
     "http://a.example/self"),
    # unresolvable href -> self
    ("http://a.example/bad", b'<link rel=canonical href="mailto:x@y.z">',
     "http://a.example/bad"),
    # invalid utf-8 around the tag (lenient cast)
    ("http://a.example/garbage",
     b'\xff\xfe<link rel=canonical href="http://a.example/page">\xff',
     "http://a.example/page"),
]


def test_canonical_link_extraction_and_resolution(spark):
    from pompspark.metarobots import canonical_consolidate

    df = spark.createDataFrame(
        [(u, h) for u, h, _ in CANON_CASES], "url string, html binary"
    )
    got = {r.url: r for r in canonical_consolidate(df).collect()}
    for u, _h, want in CANON_CASES:
        assert got[u].canonical_url == want, u


def test_canonical_consolidation_representative(spark):
    """Group rep = the target itself when fetched, else first url;
    untagged pages are their own group."""
    from pompspark.metarobots import canonical_consolidate

    rows = [
        # three variants all pointing at /page, target among them
        ("http://a.example/page", b"<html>target, no tag</html>"),
        ("http://a.example/page?b", b'<link rel=canonical href="/page">'),
        ("http://a.example/page?a", b'<link rel=canonical href="/page">'),
        # two variants of an UNFETCHED target -> first url wins
        ("http://a.example/z2", b'<link rel=canonical href="/zzz">'),
        ("http://a.example/z1", b'<link rel=canonical href="/zzz">'),
        ("http://a.example/solo", b"<html>standalone</html>"),
    ]
    df = spark.createDataFrame(rows, "url string, html binary")
    got = {r.url: r for r in canonical_consolidate(df).collect()}
    # /page group: the target has no tag (canonical_url = itself) and
    # the ?a/?b variants join its group; the target is the rep
    assert got["http://a.example/page"].is_canonical_rep
    assert not got["http://a.example/page?a"].is_canonical_rep
    assert not got["http://a.example/page?b"].is_canonical_rep
    assert got["http://a.example/z1"].is_canonical_rep
    assert not got["http://a.example/z2"].is_canonical_rep
    assert got["http://a.example/solo"].is_canonical_rep
    reps = [r for r in got.values() if r.is_canonical_rep]
    assert len(reps) == 3


def test_canonical_groups_plan_is_body_free(spark):
    """The slim path's Exchanges must never carry html: the only
    shuffled columns are the (url, canonical_url) pair (r5 review —
    the first cut windowed the FULL page rows, shipping every body)."""
    from pompspark.metarobots import canonical_groups

    df = spark.createDataFrame(
        [("http://a.example/p", b"<link rel=canonical href=/c>")],
        "url string, html binary",
    )
    plan = canonical_groups(df)._jdf.queryExecution().executedPlan().toString()
    import re

    for m in re.finditer(r"Exchange [^\n]*", plan):
        assert "html" not in m.group(0), m.group(0)
