"""HTML -> (text, links) extraction with a byte-identity contract.

``ref_extract`` is the PINNED REFERENCE EXTRACTOR (BASELINE.json
input_hint: "per-row invariant vs the reference: byte-identical
extracted text per url"). It is pure-Python/regex, deterministic,
locale-free, and operates on bytes only — no wall clock, no locale
tables. The one Spark path, ``extract_attach_arrow`` (a ``mapInArrow``
kernel shared by both fetchers and by benchgen's page text), calls the
SAME function on Arrow batches, so byte-identity holds by construction;
``tests/test_extract.py`` still asserts it row-by-row on utf-8 bytes.

The crawl's extract pass (``extract_response``) also canonicalizes each
href against the page url (``canon.canonical_child``), so the
``links`` it emits are canonical children, not raw hrefs.

pomp analog: ``BaseCrawler.extract_items(response)`` +
``BaseCrawler.next_requests(response)`` (pomp/core/base.py) — the user
parse generator that yields items and follow-up requests from one
response. Here both outputs come from one vectorized pass: the text
(the "item") and the outlink list (the "next requests"), mirroring
pomp's mixed-yield semantics (SURVEY §2.4.4) as one struct column
split into two flows by the engine.
"""

from __future__ import annotations

import html as _htmlmod
import re

# Tag classes whose *content* is dropped entirely.
_DROP_CONTENT_RE = re.compile(
    rb"<(script|style|noscript|template)\b[^>]*>.*?</\1\s*>",
    re.IGNORECASE | re.DOTALL,
)
_COMMENT_RE = re.compile(rb"<!--.*?-->", re.DOTALL)
# href extraction happens BEFORE tag stripping, in document order.
_HREF_RE = re.compile(
    rb"<a\b[^>]*?\bhref\s*=\s*(?:\"([^\"]*)\"|'([^']*)'|([^\s>]+))",
    re.IGNORECASE | re.DOTALL,
)
_TAG_RE = re.compile(rb"<[^>]*>")
_WS_RE = re.compile(r"\s+")


def ref_extract(html: bytes) -> tuple[str, list[str]]:
    """The pinned extractor. html bytes -> (text, raw hrefs in order).

    text: utf-8 decode (errors=replace) of the markup with
    script/style/noscript/template content, comments and tags removed,
    entities unescaped, and whitespace collapsed to single spaces
    (strip()ed). Deterministic for any byte input.
    """
    if html is None:
        return "", []
    if isinstance(html, str):
        html = html.encode("utf-8")
    links: list[str] = []
    for m in _HREF_RE.finditer(html):
        raw = m.group(1) if m.group(1) is not None else (
            m.group(2) if m.group(2) is not None else m.group(3)
        )
        links.append(raw.decode("utf-8", errors="replace"))
    body = _COMMENT_RE.sub(b" ", html)
    body = _DROP_CONTENT_RE.sub(b" ", body)
    body = _TAG_RE.sub(b" ", body)
    text = body.decode("utf-8", errors="replace")
    text = _htmlmod.unescape(text)
    # " ".join(split()) == _WS_RE.sub(" ", text).strip() EXACTLY (re \s
    # and str.isspace agree on every codepoint — pinned by
    # test_ws_collapse_equivalence) and is ~5x faster; ws-collapse was
    # 86% of extract time, the round loop's dominant python cost.
    text = " ".join(text.split())
    return text, links


def extract_response(html: bytes | None, base: str,
                     location: str | None) -> tuple[str | None, list]:
    """One response -> (text, canonical children): the crawl's single
    Python pass per fetched row, shared by both fetchers.

    A body (the caller passes it for 200s only) gives ``ref_extract``'s
    text and its hrefs resolved against ``base`` by
    ``canon.canonical_child`` (position-aligned, None where an href
    does not canonicalize, so the merge's ``posexplode`` keeps each
    anchor's position). No body but a 3xx ``location`` gives
    (None, [the Location resolved the same way]). Neither gives
    (None, [])."""
    from pompspark.canon import canonical_child

    if html is not None:
        text, hrefs = ref_extract(html)
        return text, [canonical_child(h, base) for h in hrefs]
    if location is not None:
        return None, [canonical_child(location, base)]
    return None, []


def extract_attach_arrow(df, html_col: str = "html"):
    """Append ``text``/``links`` from ``extract_response`` over
    (``html_col``, ``url``, ``location``) and DROP the html column —
    pyarrow-native ``mapInArrow`` (r6, guide §4.2).

    ``links`` holds canonical children aligned by position with the
    page's hrefs (None where an href does not canonicalize); a row with
    NULL html and a non-NULL location gets [that Location, resolved];
    any other NULL-html row gets text=NULL, links=[]. The caller nulls
    html off the 200 path and location off the 3xx path.

    It replaced a pandas_udf column path (deleted): that path added
    Arrow->pandas->Arrow conversion layers on both sides (binary Series
    materialization in, object-Series-of-lists to list<string> out) and
    measured ~2.7 s/round slower at bench scale on identical output
    (pandas 15.6-16.4 s vs arrow 13.2-13.4 s on the same joined hits,
    r6 32-core host). Remains a narrow map op: fuses into the caller's
    scan/join stage, no exchange."""
    import pyarrow as pa
    from pyspark.sql import types as T

    keep = [f for f in df.schema.fields if f.name != html_col]
    out_schema = T.StructType(
        list(keep)
        + [
            T.StructField("text", T.StringType()),
            T.StructField("links", T.ArrayType(T.StringType())),
        ]
    )
    keep_names = [f.name for f in keep]

    def gen(batches):
        for rb in batches:
            bases = rb.column("url").to_pylist()
            locs = rb.column("location").to_pylist()
            texts: list = []
            links: list = []
            # one body at a time: a whole batch of ~30 KB bodies as
            # Python bytes would raise each worker's peak memory
            for h, b, loc in zip(rb.column(html_col), bases, locs):
                t, l = extract_response(h.as_py(), b, loc)
                texts.append(t)
                links.append(l)
            cols = [rb.column(n) for n in keep_names]  # zero-copy
            yield pa.RecordBatch.from_arrays(
                cols
                + [
                    pa.array(texts, type=pa.string()),
                    pa.array(links, type=pa.list_(pa.string())),
                ],
                names=keep_names + ["text", "links"],
            )

    return df.mapInArrow(gen, schema=out_schema)
