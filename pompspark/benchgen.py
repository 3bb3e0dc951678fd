"""Distributed synthetic-web generation for the bench (FIXTURES F1/F2
large). Everything is JVM-side column math from deterministic hashes —
no driver-side page building, no Python rng — so generation itself
scales to any page count (the 10^10-frontier story starts with not
building the web on the driver).

Graph shape: ``n_hosts`` hosts with zipf-ish skew (host 0 owns ~15% of
urls via an inverse-power transform of a uniform hash), fixed
``outdegree``, child edges chosen by xxhash64 over the url universe.
Bodies cycle the sf documents' webtext, repeated ``body_repeat``x to
Common-Crawl-ish page sizes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SKEW_EXP = 3.5  # host 0 gets (1/n_hosts)^(1/SKEW_EXP) of urls (~14% at 1000)


def _host_id(idx_col, n_hosts: int):
    """Deterministic zipf-ish host assignment: u = hash(idx)/2^20 in
    [0,1); host = floor(n_hosts * u^SKEW_EXP) — heavy head, long tail."""
    u = (F.pmod(F.xxhash64(idx_col), F.lit(1 << 20))).cast("double") / F.lit(
        float(1 << 20)
    )
    return F.least(
        F.lit(n_hosts - 1),
        F.floor(F.lit(float(n_hosts)) * F.pow(u, F.lit(float(SKEW_EXP)))).cast("int"),
    )


def _url_of(idx_col, n_hosts: int):
    return F.concat(
        F.lit("http://h"),
        F.lpad(_host_id(idx_col, n_hosts).cast("string"), 4, "0"),
        F.lit(".example/p"),
        idx_col.cast("string"),
    )


def build_bench_pages(
    spark: SparkSession,
    documents: DataFrame,
    n_pages: int,
    n_hosts: int = 1000,
    outdegree: int = 20,
    body_repeat: int = 100,
) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) — BASELINE.json shape.
    ``text`` is the pinned extractor's output for each page's html
    (F1 contract).

    Perf (r6, guide §4.1 "pass only the columns the function needs"):
    the page text depends on the DOC body, not the page — every page of
    one doc shares the same extracted body words; only the title varies
    (entity-free, tag-free, whitespace-free by construction) and the
    anchor trailer contributes a fixed ``"L" * outdegree`` word list.
    So the extractor runs once per DOC over a minimal page rendering
    (N_docs x ~30 KB instead of N_pages x ~30 KB ≈ 30 GB through Arrow
    at bench scale), through the fetch's own kernel
    (extract.extract_attach_arrow), and the per-page text is assembled
    JVM-side as ``title [doc_body_text] L L ... L``. The doc rendering
    keeps the EXACT byte context the full page gives the body (tag
    characters directly before and after it), so tag/comment/entity
    constructs that straddle the body's edges resolve identically;
    tests/test_benchgen.py pins each page's text against ``ref_extract``
    of its own html (boundary-nasty synthetic docs + every sf0.001
    doc)."""
    from pompspark.extract import extract_attach_arrow

    n_docs = documents.count()
    docs = documents.select(
        F.col("doc_id").alias("__doc_id"), F.col("text").alias("__body"), "lang"
    )
    # per-doc body text: the pinned extractor over a minimal page
    # holding ONLY the repeated body (empty title, no anchors) — same
    # tag-boundary byte context as the full page. The kernel also
    # resolves the body's hrefs against ``url``; those links are unused.
    mini = F.encode(
        F.concat(
            F.lit("<html><head><title></title></head><body>"),
            F.repeat(F.coalesce(F.col("__body"), F.lit("")), body_repeat),
            F.lit("</body></html>"),
        ),
        "UTF-8",
    )
    docs = extract_attach_arrow(docs.select(
        "*", mini.alias("__mini"), F.lit("http://doc.example/").alias("url"),
        F.lit(None).cast("string").alias("location"),
    ), "__mini").select(
        "__doc_id", "__body", "lang", F.col("text").alias("__body_text"),
    )
    idx = spark.range(n_pages).select(F.col("id").alias("i"))
    base = idx.withColumn("__doc_id", (F.col("i") % n_docs).cast("long"))
    # broadcast docs (5e3 rows) onto the page universe
    base = base.join(F.broadcast(docs), "__doc_id", "left")

    child_idx = lambda j: F.pmod(  # noqa: E731
        F.xxhash64(F.col("i") * outdegree + F.lit(j) + F.lit(7919)), F.lit(n_pages)
    )
    anchors = F.concat(
        *[
            F.concat(
                F.lit('<a href="'), _url_of(child_idx(j), n_hosts), F.lit('">L</a>')
            )
            for j in range(outdegree)
        ]
    )
    url = _url_of(F.col("i"), n_hosts)
    title = F.concat(
        F.lit("h"), F.lpad(_host_id(F.col("i"), n_hosts).cast("string"), 4, "0"),
        F.lit(".example/p"), F.col("i").cast("string"),
    )
    html_str = F.concat(
        F.lit("<html><head><title>"), title, F.lit("</title></head><body>"),
        F.repeat(F.coalesce(F.col("__body"), F.lit("")), body_repeat),
        anchors, F.lit("</body></html>"),
    )
    # JVM-side assembly: title ⊕ body_text ⊕ "L"*outdegree, joined by
    # single spaces with empty segments elided — exactly the ws-collapse
    # semantics of the pinned extractor over the full page (title and
    # anchors contribute these exact words; the body's words come from
    # the per-doc extraction above).
    segs = [
        title,
        F.when(F.length(F.col("__body_text")) > 0, F.col("__body_text")),
    ] + ([F.lit(" ".join(["L"] * outdegree))] if outdegree else [])
    text_col = F.concat_ws(" ", *segs)
    return (
        base.withColumn("html", F.encode(html_str, "UTF-8"))
        .withColumn(
            "warc_ts",
            (F.lit(1767225600) + F.col("i")).cast("timestamp"),  # 2026-01-01 + i s
        )
        .withColumn("text", text_col)
        .select(url.alias("url"), "warc_ts", "html", "text", "lang")
    )


def bench_robots(spark: SparkSession, n_hosts: int = 1000):
    """Robots fixtures for the bench so the headline number exercises
    the full north rule: every 13th host disallows /p1*, every 10th
    tail host (id % 10 == 7, id >= 500 — rarely hot under the zipf
    head) declares crawl_delay 0.5 s (politeness cap = 2/round)."""
    from pompspark.robots import build_robots_cache

    hosts = spark.range(n_hosts).select(
        F.concat(F.lit("h"), F.lpad(F.col("id").cast("string"), 4, "0"),
                 F.lit(".example")).alias("host"),
        F.concat(
            F.lit("User-agent: *\n"),
            F.when(F.col("id") % 13 == 0, F.lit("Disallow: /p1\n")).otherwise(F.lit("")),
            F.when((F.col("id") % 10 == 7) & (F.col("id") >= 500),
                   F.lit("Crawl-delay: 0.5\n")).otherwise(F.lit("")),
        ).alias("robots_txt"),
        F.lit(None).cast("timestamp").alias("fetched_ts"),
    )
    return build_robots_cache(hosts)


def bench_seed_urls(spark: SparkSession, n_pages: int, n_hosts: int,
                    n_seeds: int) -> list[str]:
    """Deterministic seed urls: every (n_pages // n_seeds)-th index,
    urls computed by the same Spark expressions as the generator."""
    step = max(1, n_pages // n_seeds)
    idx = spark.range(0, n_pages, step).select(F.col("id").alias("i"))
    return [r.url for r in idx.select(_url_of(F.col("i"), n_hosts).alias("url")).collect()]
