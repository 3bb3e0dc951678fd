"""URL canonicalization — the single normalization used engine-wide.

The canonical form pins the URL-seen identity (north_rule:
"canonicalized URL murmur3 hashes"). Rules (deterministic, locale-free):

1. relative hrefs resolved against the base URL (RFC 3986 merge)
2. scheme + host lowercased
3. default ports stripped (http:80, https:443)
4. fragment dropped
5. dot-segments removed from the path; empty path -> "/"
6. percent-encoding normalized: unreserved chars decoded, hex uppercased
7. query params parsed and sorted by (key, value); blank values kept
8. userinfo preserved as-is (rare; kept for fidelity)

pomp itself performs no canonicalization — dedup is left to user
middleware returning None (pomp/core/base.py:process_request). The
north rule mandates it, so the rules above are OUR pinned contract;
``tests/fixtures/canon_cases.json`` + the idempotence property test
(c(c(u)) == c(u)) freeze them.

Where it runs:
- crawl discoveries (anchor hrefs and 3xx Locations) are canonicalized
  inside the fetch's extract pass (``canonical_child`` via
  ``extract.extract_attach_arrow`` / ``extract.extract_response``),
  against the page url already in that batch; the round files' ``links``
  column holds the canonical children, so the link merge needs only
  the JVM ``host_col`` and no Python worker;
- list seeds (``CrawlEngine.seed``) call ``canonicalize``/``host_of``
  on the driver, where the list already is;
- bulk seeds (``CrawlEngine.seed_frontier``) and ``resolve_discoveries``
  (metarobots, the declared queries) use ``canonical_col`` — a JVM
  fast-path gate in front of an Arrow-batched pandas UDF (never a
  per-row Python UDF) that sees only the slow minority — and the JVM
  ``host_col``.

Hashing: ``url_hash_col`` uses the JVM-side ``F.hash`` (murmur3_32)
paired with ``F.xxhash64`` when 64 bits are needed for the seen-set at
10^10 scale.
"""

from __future__ import annotations

import re
from urllib.parse import quote, unquote, urljoin, urlsplit, urlunsplit

import pandas as pd

_DEFAULT_PORTS = {"http": 80, "https": 443, "ftp": 21, "ws": 80, "wss": 443}

# RFC 3986 unreserved + sub-delims we keep literal in paths/queries.
_PATH_SAFE = "/:@!$&'()*+,;=~-._"
_QUERY_SAFE = ":@!$&'()*+,;/?~-._"

_PCT_RE = re.compile(r"%[0-9a-fA-F]{2}")


def _norm_pct(component: str, safe: str) -> str:
    """Decode then re-encode: unreserved chars come out literal, everything
    else re-encodes with uppercase hex. Idempotent by construction."""
    return quote(unquote(component), safe=safe)


def _norm_path(path: str) -> str:
    if not path:
        return "/"
    # percent-normalize FIRST (decode unreserved chars — '.' is
    # unreserved), THEN remove dot segments: an encoded '%2e%2e' must
    # resolve like a literal '..' or c(c(u)) != c(u) — the first pass
    # would emit a literal '..' the second pass then collapses
    # (idempotence contract; caught in round-1 advice).
    path = _norm_pct(path, _PATH_SAFE)
    # remove dot segments (RFC 3986 §5.2.4)
    out: list[str] = []
    for seg in path.split("/"):
        if seg == ".":
            continue
        if seg == "..":
            if out and out[-1] != "":
                out.pop()
            continue
        out.append(seg)
    p = "/".join(out)
    if not p.startswith("/"):
        p = "/" + p
    return p


def _norm_query(query: str) -> str:
    if not query:
        return ""
    pairs: list[tuple[str, bool, str]] = []  # (key, had_eq, value)
    for part in query.split("&"):
        if not part:
            continue
        k, sep, v = part.partition("=")
        pairs.append((
            _norm_pct(unquote_plus_safe(k), "~-._"),
            bool(sep),
            _norm_pct(unquote_plus_safe(v), "~-._") if sep else "",
        ))
    pairs.sort(key=lambda p: (p[0], p[2]))
    return "&".join(f"{k}={v}" if had_eq else k for k, had_eq, v in pairs)


def unquote_plus_safe(s: str) -> str:
    # '+' means space in form-encoded queries; normalize to %20 via space.
    return unquote(s.replace("+", " "))


def canonicalize(url: str, base: str | None = None) -> str | None:
    """Canonicalize one URL. Returns None for unusable inputs (empty,
    javascript:/mailto:/data: pseudo-schemes, fragment-only hrefs)."""
    if url is None:
        return None
    url = url.strip()
    if not url or url.startswith("#"):
        return None
    try:
        if base:
            # urljoin parses the href too: a malformed one ('//[') raises
            url = urljoin(base, url)
        parts = urlsplit(url)
    except ValueError:
        return None
    scheme = parts.scheme.lower()
    if scheme in ("javascript", "mailto", "data", "tel", "about"):
        return None
    if not scheme:
        scheme = "http"
    host = (parts.hostname or "").lower()
    if not host:
        return None
    if "[" in parts.netloc.rpartition("@")[2]:
        # an IPv6 / IPvFuture literal keeps its brackets: without them
        # the result is no url (c(c(u)) would be None)
        host = f"[{host}]"
    try:
        port = parts.port
    except ValueError:
        return None
    netloc = host
    if parts.username:
        userinfo = parts.username + (f":{parts.password}" if parts.password else "")
        netloc = f"{userinfo}@{host}"
    if port is not None and port != _DEFAULT_PORTS.get(scheme):
        netloc = f"{netloc}:{port}"
    path = _norm_path(parts.path)
    query = _norm_query(parts.query)
    return urlunsplit((scheme, netloc, path, query, ""))


# Fast path: a url matching this is PROVABLY a canonicalize() fixed
# point — lowercase http(s) scheme, lowercase reg-name host with no
# port/userinfo, absolute path of unreserved chars (no '.', so no dot
# segments; no '%', so no pct-normalization; no '?'/'#'). For such u,
# canonicalize(u) == u, so the slow urllib path can be skipped. The
# idempotence property test fuzzes this equivalence. The end anchor is
# ``(?![\s\S])`` (the absolute end in both Python ``re`` and Java
# ``rlike``): ``$`` also matches before a trailing line terminator,
# which would let "http://a.example/p\n" through unstripped.
CANONICAL_PATTERN = (
    r"^https?://[a-z0-9-]+(?:\.[a-z0-9-]+)+/[a-z0-9/_\-~]*(?![\s\S])"
)
_CANONICAL_RE = re.compile(CANONICAL_PATTERN)


def canonical_child(href: str, base: str | None) -> str | None:
    """``canonicalize(href, base)``, skipping urllib for an href that is
    provably a fixed point."""
    if _CANONICAL_RE.match(href):
        return href
    return canonicalize(href, base)


def canonicalize_series(urls: pd.Series, bases: pd.Series | None = None) -> pd.Series:
    """Vectorized (Arrow-batch) canonicalization for pandas UDFs.
    Already-canonical urls (the overwhelming majority of crawl links
    after the first normalization) take a vectorized regex fast path;
    only the remainder pays the per-string urllib cost."""
    if not urls.notna().any():
        # all-null batch: canonical_col's JVM rlike gate nulled every
        # already-canonical href before the UDF call — on all-fast
        # link batches EVERY batch lands here, so skip the str.match
        # machinery entirely (r6; output identical: null in, null out)
        return pd.Series(None, index=urls.index, dtype=object)
    fast = urls.str.match(_CANONICAL_RE, na=False)
    # nulls skip the per-string loop entirely: canonical_col's JVM
    # fast path nulls out already-canonical hrefs before the UDF call,
    # so most batch rows arrive null — looping over them would undo
    # the saving.
    if bases is None:
        out = urls.where(fast, None)
        slow_idx = urls.index[~fast & urls.notna()]
        if len(slow_idx):
            out.loc[slow_idx] = [canonicalize(u) for u in urls.loc[slow_idx]]
        return out
    # relative resolution never applies to absolute canonical urls
    out = urls.where(fast, None)
    slow_idx = urls.index[~fast & urls.notna()]
    if len(slow_idx):
        out.loc[slow_idx] = [
            canonicalize(u, b)
            for u, b in zip(urls.loc[slow_idx], bases.loc[slow_idx])
        ]
    return out


def host_of(url: str | None) -> str | None:
    if not url:
        return None
    try:
        return (urlsplit(url).hostname or "").lower() or None
    except ValueError:
        return None


# ---------------------------------------------------------------- Spark side

def host_col(url: str):
    """JVM twin of ``host_of`` for ``canonicalize()`` output (no Python
    worker; the host of the link merge, ``seed_frontier`` and
    ``resolve_discoveries``). It mirrors
    ``urlsplit(...).hostname``: the netloc after the last '@', then the
    text inside the first '[...]' or else the text before the first
    ':'; '' is NULL, and so is a netloc with an unpaired bracket, where
    ``urlsplit`` raises. Canonical hosts are already lowercased, so no
    (JVM-Unicode) ``lower`` is applied. Only valid on canonical urls:
    ``tests/test_canon.py`` pins parity with ``host_of`` there."""
    from pyspark.sql import functions as F

    netloc = F.regexp_extract(url, r"^[^:/?#]+://([^/?#]*)", 1)
    hostinfo = F.substring_index(netloc, "@", -1)
    host = F.when(
        hostinfo.contains("["), F.regexp_extract(hostinfo, r"\[([^\]]*)", 1)
    ).otherwise(F.substring_index(hostinfo, ":", 1))
    return F.when(
        netloc.contains("[") == netloc.contains("]"), F.nullif(host, F.lit(""))
    )


def register_udfs():
    """Build the pandas UDFs lazily (keeps this module importable without
    a SparkSession for the pure-python oracle tests)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    @F.pandas_udf(T.StringType())
    def canonicalize_udf(urls: pd.Series) -> pd.Series:
        return canonicalize_series(urls)

    @F.pandas_udf(T.StringType())
    def canonicalize_with_base_udf(urls: pd.Series, bases: pd.Series) -> pd.Series:
        return canonicalize_series(urls, bases)

    return canonicalize_udf, canonicalize_with_base_udf


def canonical_col(url_col: str, base_col: str | None = None):
    """``canonicalize(url_col[, base_col])`` as a column: the one Spark
    canonicalizer. Urls matching CANONICAL_PATTERN are provably
    ``canonicalize()`` fixed points, so the rlike gate keeps them on the
    JVM (whole-stage codegen) and the pandas UDF receives NULL for them
    (canonicalize_series skips nulls) — Arrow ships only the slow
    minority. Fast rows ship NULL for the base too: canonicalize_series
    never reads the base of a null url, and nulling it keeps the
    transfer at O(slow rows) (guide §4.1).

    The UDF is marked non-deterministic (r6, guide §4.4): callers filter
    on its output, and the optimizer duplicates a deterministic UDF
    below each pushed filter (plans/r06/bench_links_merge_before.txt
    shows every row paying the UDF twice). It is a pure function —
    results are unchanged — and the plan keeps one evaluation."""
    from pyspark.sql import functions as F

    canon_udf, canon_base_udf = register_udfs()
    is_fast = F.col(url_col).rlike(CANONICAL_PATTERN)

    def slow(c: str):
        return F.when(~is_fast, F.col(c))

    if base_col is None:
        slow_canon = canon_udf.asNondeterministic()(slow(url_col))
    else:
        slow_canon = canon_base_udf.asNondeterministic()(
            slow(url_col), slow(base_col)
        )
    return F.coalesce(F.when(is_fast, F.col(url_col)), slow_canon)


def resolve_discoveries(src, href_col: str = "href", base_col: str = "url"):
    """Resolve ``href_col`` against ``base_col`` -> (child, child_host)
    columns appended; rows whose href does not canonicalize (mailto:,
    javascript:, garbage) are dropped. The DataFrame form of the
    discovery resolution, for hrefs that never pass through the fetch's
    extract pass (metarobots canonical links, the declared queries);
    the crawl engine's anchor links and 3xx Locations are resolved by
    ``canonical_child`` in that pass, to the same children.

    Plan shape: one ArrowEvalPython node, the canonicalizer behind its
    rlike gate (``canonical_col``); the host is the JVM ``host_col``."""
    from pyspark.sql import functions as F

    return (
        src.withColumn("child", canonical_col(href_col, base_col))
        .filter(F.col("child").isNotNull())
        .withColumn("child_host", host_col("child"))
        .filter(F.col("child_host").isNotNull())
    )


def url_hash_col(col):
    """murmur3_32 of the canonical url, widened with xxhash64 so the
    10^10-frontier seen-set has a 64-bit identity (32-bit murmur alone
    collides at ~2^16 urls; see SURVEY §1.3). JVM-side, codegen'd."""
    from pyspark.sql import functions as F

    return F.xxhash64(col).alias("url_hash")


def murmur3_col(col):
    from pyspark.sql import functions as F

    return F.hash(col).alias("url_murmur3")
