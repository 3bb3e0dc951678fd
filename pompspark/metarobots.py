"""Page-level robots directives: <meta name="robots"> noindex /
nofollow flags as JVM expressions over raw html bytes.

The Robots Exclusion Protocol has two halves: robots.txt
(pompspark.robots — pre-fetch gating) and per-page meta directives —
"noindex" (don't keep this page's content) and "nofollow" (don't
follow its links). A training-data pipeline MUST honor noindex when
exporting a corpus; a polite crawler honors nofollow when growing the
frontier.

Everything here is one map-side projection: binary html casts to
string LENIENTLY (Spark's binary->string cast wraps the raw bytes —
unlike `decode`, which throws MALFORMED_CHARACTER_CODING on invalid
utf-8, exactly what crawled bytes will contain), then a
case-insensitive regexp pulls the content attribute of the robots
meta tag. `none` means `noindex, nofollow` per the spec.

Engine seam: the fetch stage intentionally drops raw html after
extract (fetch.py RESPONSE_COLS note), so these operators run over
the PAGES table (corpus curation: filter noindex before export) or as
a pre-fetch analysis pass; wiring nofollow into the live link flow
would extend the extract struct — documented as future work, not
silently half-done.

pomp parity: none (pomp has no robots support at all); north-rule [A]
addition alongside robots.txt.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# content attr of a robots meta tag, either attribute order. The value
# runs to its closing quote (or the tag end when unquoted): directives
# such as ``max-snippet:-1`` carry ':' and digits, and a narrower class
# would stop there and miss a ``noindex`` after them (fail-open).
_META_FWD = (
    r"<meta[^>]*name\s*=\s*[\"']?robots[\"']?[^>]*"
    r"content\s*=\s*[\"']?([^\"'>]*)"
)
_META_REV = (
    r"<meta[^>]*content\s*=\s*[\"']?([^\"'>]*)[\"']?[^>]*"
    r"name\s*=\s*[\"']?robots[\"']?"
)


def robots_meta_content(html_col: Column) -> Column:
    """Lowercased content of the page's robots meta tag ('' if none)."""
    s = F.lower(html_col.cast("string"))
    fwd = F.regexp_extract(s, _META_FWD, 1)
    return F.when(fwd != "", fwd).otherwise(
        F.regexp_extract(s, _META_REV, 1)
    )


def _has_token(content: Column, token: str) -> Column:
    # token match within the comma-separated list; 'none' implies both
    return content.rlike(rf"(^|[, ]){token}([, ]|$)") | content.rlike(
        r"(^|[, ])none([, ]|$)"
    )


def meta_robots_flags(df: DataFrame, html_col: str = "html") -> DataFrame:
    """Append `noindex` and `nofollow` boolean columns."""
    c = robots_meta_content(F.col(html_col))
    return df.withColumns(
        {
            "noindex": F.coalesce(_has_token(c, "noindex"), F.lit(False)),
            "nofollow": F.coalesce(_has_token(c, "nofollow"), F.lit(False)),
        }
    )


def filter_noindex(df: DataFrame, html_col: str = "html") -> DataFrame:
    """Corpus-export gate: drop pages whose meta robots says noindex.
    One scan, no shuffle — run it before any dedup/quality stage so
    excluded pages never cost downstream work."""
    return (
        meta_robots_flags(df, html_col)
        .filter(~F.col("noindex"))
        .drop("noindex", "nofollow")
    )


# --------------------------------------------------------- rel=canonical

# href of a rel=canonical link tag, either attribute order
_CANON_FWD = (
    r"<link[^>]*rel\s*=\s*[\"']?canonical[\"']?[^>]*"
    r"href\s*=\s*[\"']?([^\"' >]+)"
)
_CANON_REV = (
    r"<link[^>]*href\s*=\s*[\"']?([^\"' >]+)[\"']?[^>]*"
    r"rel\s*=\s*[\"']?canonical[\"']?"
)


def canonical_link_href(html_col: Column) -> Column:
    """Raw href of the page's <link rel=canonical> tag (null if none,
    possibly relative — resolve against the page url with
    canon.resolve_discoveries like any discovered href). Lenient
    binary->string cast; rel is matched case-insensitively but the
    href's case is PRESERVED (urls are case-sensitive past the
    host)."""
    s = html_col.cast("string")
    # lowercase only for finding the tag; extract from the original
    fwd = F.regexp_extract(s, "(?i)" + _CANON_FWD, 1)
    rev = F.regexp_extract(s, "(?i)" + _CANON_REV, 1)
    got = F.when(fwd != "", fwd).otherwise(rev)
    return F.when(got != "", got)


def canonical_groups(
    pages: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """SLIM canonical grouping: (url, canonical_url,
    is_canonical_rep) — one row per page, nothing else.

    - ``canonical_url``: the resolved rel=canonical target (self for
      pages without the tag or with an unresolvable href);
    - ``is_canonical_rep``: true for the group's representative — the
      page whose url IS the target when fetched, else the
      lexicographically first url (deterministic without needing the
      target fetched).

    This is the 10^10-scale shape: href extraction + resolution are
    map-side (regexp + the shared canon fast path) over a
    (url, html)-pruned scan, and the ONLY shuffle is the group window
    over (canonical_url, url) pairs — two short strings per page.
    Page bodies never enter any Exchange. Callers keep html in place
    and filter by a semi-join on the rep set (or use
    ``canonical_consolidate`` for the convenience join-back form).
    """
    from pyspark.sql import Window as W

    from pompspark.canon import resolve_discoveries

    slim = pages.select(
        F.col(url_col).alias("url"),
        canonical_link_href(F.col(html_col)).alias("__href"),
    )
    tagged = slim.filter(F.col("__href").isNotNull())
    untagged = slim.filter(F.col("__href").isNull()).withColumn(
        "canonical_url", F.col("url")
    )
    resolved = resolve_discoveries(
        tagged, href_col="__href", base_col="url"
    ).withColumn(
        "canonical_url", F.col("child")
    ).drop("child", "child_host")
    # unresolvable hrefs (mailto:, garbage) fell out of resolve_
    # discoveries — re-admit those pages as self-canonical
    dropped = tagged.join(
        resolved.select(F.col("url").alias("__r_url")),
        tagged["url"] == F.col("__r_url"), "left_anti",
    ).withColumn("canonical_url", F.col("url"))
    all_rows = untagged.unionByName(resolved).unionByName(dropped)
    w = W.partitionBy("canonical_url").orderBy(
        # the target itself (if present in the group) beats url order
        (F.col("url") != F.col("canonical_url")).cast("int"),
        F.col("url"),
    )
    return all_rows.select(
        "url", "canonical_url",
        (F.row_number().over(w) == 1).alias("is_canonical_rep"),
    )


def canonical_consolidate(
    pages: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """Convenience form: ``canonical_groups`` joined back onto the full
    page rows (appends canonical_url + is_canonical_rep).

    The join-back keys on url, so the page side shuffles ONCE unless
    the source is already bucketed/partitioned by url — at corpus
    scale prefer ``canonical_groups`` directly and semi-join the rep
    set against url-keyed storage so bodies never move."""
    groups = canonical_groups(pages, url_col=url_col, html_col=html_col)
    return pages.join(
        groups.withColumnRenamed("url", url_col), url_col, "inner"
    )
