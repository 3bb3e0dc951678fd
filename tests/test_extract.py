"""Byte-identity contract for the extractor (SURVEY §5.2.2): the Spark
paths must produce byte-identical text vs ``ref_extract`` per row, and
the crawl's extract pass must emit ``canonicalize(href, page url)`` per
anchor."""

from __future__ import annotations

from pompspark.extract import ref_extract
from pompspark.fixtures import SMALL_SITEMAP, pages_rows, small_pages_df


def test_ref_extract_basic():
    html = b"<html><head><title>t</title></head><body>Hello <b>world</b>" \
           b'<a href="http://x/1">one</a><a href=\'http://x/2\'>two</a></body></html>'
    text, links = ref_extract(html)
    assert text == "t Hello world one two"
    assert links == ["http://x/1", "http://x/2"]


def test_ref_extract_drops_script_style_comments():
    html = (b"<body>A<script>var x=1;</script>B<style>.c{}</style>"
            b"<!-- hidden -->C</body>")
    text, links = ref_extract(html)
    assert text == "A B C"
    assert links == []


def test_ref_extract_entities_and_ws():
    text, _ = ref_extract(b"<p>a&amp;b\n\n  c&#65;</p>")
    assert text == "a&b cA"


def test_ref_extract_unquoted_href_and_none():
    text, links = ref_extract(b"<a href=http://x/3>z</a>")
    assert links == ["http://x/3"]
    assert ref_extract(None) == ("", [])


def test_links_in_document_order():
    _, links = ref_extract(
        b'<a href="/b">x</a><p></p><a href="/a">y</a><a href="/c">z</a>'
    )
    assert links == ["/b", "/a", "/c"]


def test_pages_fixture_text_is_ref_extract():
    pdf = pages_rows(SMALL_SITEMAP)
    for _, row in pdf.iterrows():
        t, links = ref_extract(row["html"])
        assert row["text"] == t
        assert links == SMALL_SITEMAP[row["url"]]


def test_extract_attach_arrow_canonical_links(spark):
    """The crawl's extract pass: byte-identical text, and ``links`` =
    canonicalize(href, page url) per anchor, position-aligned with the
    raw hrefs (None where an href does not canonicalize); a NULL body
    with a Location resolves the Location the same way."""
    from pyspark.sql import functions as F

    from pompspark.canon import canonicalize
    from pompspark.extract import extract_attach_arrow

    messy = b'<a href="../x?b=2&a=1#f">r</a><a href="mailto:q@r">m</a>' \
        b'<a href="HTTP://B.Example:80/%7ey">u</a><a href="//c.example">p</a>'
    pages = small_pages_df(spark).select(
        "url", "html", "text", F.lit(None).cast("string").alias("location"),
    ).union(spark.createDataFrame(
        [("http://m.example/d/e", messy, ref_extract(messy)[0], None),
         ("http://m.example/d/r", None, None, "moved/here"),
         ("http://m.example/d/n", None, None, None)],
        "url string, html binary, text string, location string",
    ))
    out = extract_attach_arrow(pages.withColumnRenamed("text", "expected"))
    assert "html" not in out.columns
    rows = {r.url: r for r in out.collect()}
    assert len(rows) == len(SMALL_SITEMAP) + 3
    for url, kids in SMALL_SITEMAP.items():
        assert rows[url].text.encode("utf-8") == rows[url].expected.encode("utf-8")
        assert list(rows[url].links) == kids  # fixture hrefs are canonical
    m = rows["http://m.example/d/e"]
    assert m.text == m.expected
    assert list(m.links) == [
        "http://m.example/x?a=1&b=2", None, "http://b.example/~y",
        "http://c.example/",
    ]
    assert list(m.links) == [
        canonicalize(h, "http://m.example/d/e") for h in ref_extract(messy)[1]
    ]
    assert rows["http://m.example/d/r"].text is None
    assert list(rows["http://m.example/d/r"].links) == ["http://m.example/d/moved/here"]
    assert rows["http://m.example/d/n"].text is None
    assert list(rows["http://m.example/d/n"].links) == []


def test_http_fetcher_canonical_links_and_location(spark):
    """HttpFetcher runs the same extract pass: a relative href comes
    back canonical, a 301's raw Location stays in ``location`` and its
    resolved target is the row's one link; other non-200s get none."""
    import pandas as pd

    from pompspark.fetch import HttpFetcher

    bodies = {
        "http://x.example/dir/page": b'<a href="sub/a?z=1&y=2">a</a>'
                                     b'<a href="javascript:void(0)">j</a>',
        "http://x.example/dir/empty": b"<p>nothing</p>",
    }

    def transport(urls: pd.Series) -> pd.DataFrame:
        status = urls.map(lambda u: 301 if "old" in u
                          else 503 if "busy" in u else 200)
        return pd.DataFrame({
            "status": status,
            "warc_ts": pd.Series([pd.Timestamp("2024-01-01")] * len(urls),
                                 index=urls.index),
            "html": urls.map(bodies.get),
            "location": urls.map(
                lambda u: "../new/Here" if "old" in u
                else "/ignored" if "busy" in u else None),
        })

    batch = spark.createDataFrame(
        [(u,) for u in ("http://x.example/dir/page", "http://x.example/dir/empty",
                        "http://x.example/dir/old", "http://x.example/dir/busy")],
        ["url"],
    )
    out = {r.url: r for r in HttpFetcher(transport).fetch(batch).collect()}
    page = out["http://x.example/dir/page"]
    assert page.status == 200 and page.text == "a j"
    assert list(page.links) == ["http://x.example/dir/sub/a?y=2&z=1", None]
    assert list(out["http://x.example/dir/empty"].links) == []
    old = out["http://x.example/dir/old"]
    assert old.status == 301 and old.text is None
    assert old.location == "../new/Here"
    assert list(old.links) == ["http://x.example/new/Here"]
    # a Location on a non-3xx answer is not a discovery
    assert list(out["http://x.example/dir/busy"].links) == []


def test_ws_collapse_equivalence():
    """The fast path ' '.join(text.split()) must equal the contract's
    regex form _WS_RE.sub(' ', text).strip() — re \\s and str.isspace
    agree on every unicode codepoint (verified exhaustively when this
    substitution was made); this pins the behavioral contract on
    adversarial samples + hypothesis fuzz."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from pompspark.extract import _WS_RE

    samples = ["", " ", "  a  b  ", "a\x1c\x1d b", "tab\tnl\n cr\r e ",
               "a b", "a  b", "x​z"]  # NBSP, em-space, ZWSP
    for s in samples:
        assert " ".join(s.split()) == _WS_RE.sub(" ", s).strip()

    @settings(max_examples=300, deadline=None)
    @given(st.text(max_size=80))
    def fuzz(s):
        assert " ".join(s.split()) == _WS_RE.sub(" ", s).strip()

    fuzz()
