"""Pins the r6 gen_pages optimization: build_bench_pages computes the
body text once per DOC (through the fetch's extract kernel) and
assembles each page's text on the JVM. Every page's ``text`` must equal
the pinned extractor run on that page's own html — including every
construct that straddles the body's boundaries (unclosed tags,
entities, comments, script blocks at the doc edges), which is exactly
where the assembly argument could break."""

from __future__ import annotations

import os

import pytest

from pompspark.benchgen import build_bench_pages
from pompspark.extract import ref_extract

# docs engineered to stress the body<->preamble and body<->anchor
# boundaries of the assembled text
NASTY_DOCS = [
    "plain words only",
    "entities &amp; dangling &lt tail",
    "ends with unclosed tag <div foo",
    "ends with unclosed script <script>junk",
    "ends with bare open bracket <",
    "unclosed comment at end <!-- never closed",
    "full <script>alert(1)</script> block",
    "literal </body> inside the text",
    "trailing entity no semicolon &amp",
    "  leading and trailing whitespace  ",
    "",
    "self closing <br/> and <IMG SRC=x> tags",
    "a nested <style>p { color: red }</style> rule",
    "<a href=\"http://inner.example/x\">inner link</a> in body",
    "tab\tand\nnewline   runs",
]


def _docs_df(spark, texts):
    return spark.createDataFrame(
        [(i, t, "en", len(t), 0) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, n_chars long, pad long",
    )


def _pages(spark, docs, n_pages: int, outdegree: int, body_repeat: int):
    df = build_bench_pages(
        spark, docs, n_pages=n_pages, n_hosts=7,
        outdegree=outdegree, body_repeat=body_repeat,
    )
    return df.select("url", "html", "text").collect()


def _assert_text_is_ref_extract(rows, n_pages: int) -> None:
    assert len({r.url for r in rows}) == n_pages
    for r in rows:
        want = ref_extract(bytes(r.html))[0]
        assert r.text.encode("utf-8") == want.encode("utf-8"), r.url


@pytest.mark.parametrize("outdegree,body_repeat", [(20, 3), (3, 1), (0, 2)])
def test_text_matches_ref_extract_on_nasty_docs(spark, outdegree, body_repeat):
    docs = _docs_df(spark, NASTY_DOCS)
    n_pages = len(NASTY_DOCS) * 3  # every doc appears on several pages
    rows = _pages(spark, docs, n_pages, outdegree, body_repeat)
    _assert_text_is_ref_extract(rows, n_pages)


def test_text_matches_ref_extract_on_sf_docs(spark):
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    path = os.path.join(sf_dir, "documents.parquet")
    if not os.path.exists(path):
        pytest.skip("no testdata")
    docs = spark.read.parquet(path)
    n_pages = docs.count() * 2
    rows = _pages(spark, docs, n_pages, 20, 2)
    _assert_text_is_ref_extract(rows, n_pages)


def test_fast_text_shape(spark):
    """The assembled text starts with the title words and ends with
    outdegree 'L' anchors (sanity on the fixed segments)."""
    docs = _docs_df(spark, ["hello world"])
    for r in _pages(spark, docs, 2, 4, 1):
        title = r.url.split("//", 1)[1]
        assert r.text.startswith(title + " ")
        assert r.text.endswith(" L L L L")
        assert "hello world" in r.text
