"""Canonicalizer contract tests (FIXTURES F6): hand-written cases +
idempotence property on fuzzed urls."""

from __future__ import annotations

import json
import os
import random
import string

import pytest

from pompspark.canon import canonicalize, host_of

CASES_PATH = os.path.join(os.path.dirname(__file__), "fixtures", "canon_cases.json")


def test_cases_file():
    with open(CASES_PATH) as f:
        cases = json.load(f)
    assert len(cases) >= 30
    for c in cases:
        got = canonicalize(c["raw"], c.get("base"))
        assert got == c["canonical"], f"raw={c['raw']!r} base={c.get('base')!r}: {got!r} != {c['canonical']!r}"


def test_idempotence_fuzz():
    rng = random.Random(42)
    alphabet = string.ascii_letters + string.digits + "/?&=%#.:~ -_+"
    for _ in range(10_000):
        host = "".join(rng.choice(string.ascii_lowercase) for _ in range(rng.randint(1, 8)))
        tail = "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 25)))
        u = f"http://{host}.example/{tail}"
        c = canonicalize(u)
        if c is None:
            continue
        assert canonicalize(c) == c, f"not idempotent: {u!r} -> {c!r} -> {canonicalize(c)!r}"


def test_drops_pseudo_schemes():
    for u in ("javascript:void(0)", "mailto:x@y.z", "#frag", "", "  "):
        assert canonicalize(u) is None


def test_relative_resolution():
    base = "http://a.example/dir/page.html"
    assert canonicalize("../p2", base) == "http://a.example/p2"
    assert canonicalize("sub/x", base) == "http://a.example/dir/sub/x"
    assert canonicalize("/root", base) == "http://a.example/root"
    assert canonicalize("//b.example/y", base) == "http://b.example/y"


def test_host_of():
    assert host_of("http://A.Example:80/p") == "a.example"
    assert host_of(None) is None


@pytest.mark.parametrize("raw,want", [
    ("http://[::1]/x", "http://[::1]/x"),
    ("HTTP://[::1]:80/x", "http://[::1]/x"),
    ("http://[::1]:8080/x", "http://[::1]:8080/x"),
    ("http://[2001:DB8::7]/a/../b", "http://[2001:db8::7]/b"),
    ("http://u:p@[v1.fe]/", "http://u:p@[v1.fe]/"),
])
def test_ipv6_host_keeps_brackets(raw, want):
    """A bracketed host stays bracketed: the result is a fixed point and
    host_of gives the bare address (as host_col does)."""
    got = canonicalize(raw)
    assert got == want
    assert canonicalize(got) == got
    assert host_of(got) == want.split("[")[1].split("]")[0]


@pytest.mark.parametrize("end", ["\n", "\r", "\r\n"])
def test_trailing_line_terminator_is_stripped(spark, end):
    """CANONICAL_PATTERN anchors at the absolute end in Python and in
    the JVM: a url with a trailing line terminator is not taken as
    canonical by either fast path and canonicalizes to the stripped
    url."""
    import re

    import pandas as pd
    from pyspark.sql import functions as F

    from pompspark.canon import CANONICAL_PATTERN, canonicalize_series

    u = "http://a.example/p" + end
    assert re.match(CANONICAL_PATTERN, u) is None
    assert re.match(CANONICAL_PATTERN, "http://a.example/p")
    got = spark.createDataFrame([(u,), ("http://a.example/p",)], "url string") \
        .select(F.col("url").rlike(CANONICAL_PATTERN).alias("m")).collect()
    assert [r.m for r in got] == [False, True]
    assert canonicalize_series(pd.Series([u, None])).tolist() == [
        "http://a.example/p", None]


def test_canonicalize_udf(spark):
    from pyspark.sql import functions as F

    from pompspark.canon import host_col, register_udfs, url_hash_col

    canon_udf, _canon_base_udf = register_udfs()
    df = spark.createDataFrame(
        [("HTTP://A.Example:80/p?b=2&a=1#f",), ("javascript:void(0)",)], ["url"]
    )
    out = (
        df.select(canon_udf("url").alias("c"))
        .select("c", host_col("c").alias("h"))
        .collect()
    )
    assert out[0].c == "http://a.example/p?a=1&b=2"
    assert out[0].h == "a.example"
    assert out[1].c is None
    assert out[1].h is None

    hashed = df.limit(1).select(url_hash_col(F.col("url"))).collect()
    assert isinstance(hashed[0].url_hash, int)


def test_canonical_pattern_implies_fixed_point():
    """Soundness of the JVM fast path (engine.py merge): any url
    matching CANONICAL_PATTERN must be a canonicalize() fixed point,
    since such urls skip the UDF entirely."""
    import re

    from hypothesis import given, settings, strategies as st

    from pompspark.canon import CANONICAL_PATTERN, canonicalize

    pat = re.compile(CANONICAL_PATTERN)

    @settings(max_examples=300, deadline=None)
    @given(
        st.text(
            alphabet="abcz09-._~/%?#ABC:@ ", min_size=0, max_size=30
        ).map(lambda s: "http://h0.example/" + s),
        st.sampled_from([
            "http://h0042.example/p17",
            "https://a-b.c-d.example/x/y_z-~",
            "http://a.b/",
            "HTTP://A.b/p",           # must NOT match (uppercase scheme)
            "http://a.b/p?q=1",        # must NOT match (query)
            "http://a.b/p%41",         # must NOT match (pct)
            "http://a.b/./p",          # must NOT match ('.' excluded)
            "http://a.b:80/p",         # must NOT match (port)
        ]),
    )
    def check(fuzzed, fixed):
        for u in (fuzzed, fixed):
            if pat.match(u):
                assert canonicalize(u) == u, u

    check()


def _jvm_hosts(spark, urls):
    from pompspark.canon import host_col

    df = spark.createDataFrame([(i, u) for i, u in enumerate(urls)],
                               "i int, url string")
    got = dict(df.select("i", host_col("url").alias("h")).collect())
    return [got[i] for i in range(len(urls))]


def test_host_col_matches_host_of_on_case_file(spark):
    """The merge's JVM host expression equals host_of on every canonical
    output of the fixture cases and of bracketed (IPv6, IPvFuture)
    hosts, and on a netloc with an unpaired ']' (urlsplit raises, so
    both give None)."""
    with open(CASES_PATH) as f:
        cases = json.load(f)
    raw = [(c["raw"], c.get("base")) for c in cases] + [
        ("http://[::1]/x", None), ("http://[::1]:8080/x", None),
        ("http://[fe80::1%25eth0]/", None), ("http://u:p@[v1.fe]/", None),
        ("http://a]b@[v1.x]/", None), ("http://[::1]@Host.example:81/", None),
        ("http://a@b@H.example/", None), ("http://:p@h.example:/", None),
        ("//[2001:db8::7]:81/q", "http://m.example/"), ("../y", "http://[::1]/d/e"),
    ]
    canon = [c for c in (canonicalize(u, b) for u, b in raw) if c is not None]
    want = [host_of(c) for c in canon]
    assert sum(w is not None for w in want) >= 30
    # bracketed hosts survive canonicalization with their bare address
    assert {"::1", "fe80::1%25eth0", "v1.fe", "2001:db8::7"} <= set(want)
    assert _jvm_hosts(spark, canon) == want
    unpaired = "http://a]b@h.example/"
    assert _jvm_hosts(spark, [unpaired]) == [host_of(unpaired)] == [None]


_HOSTS = ["a.example", "Sub.B.EXAMPLE", "x-y.example", "[::1]", "[2001:db8::7]",
          "[fe80::1%25en0]", "[v1.fe]", "10.0.0.1", "h"]
_PATHS = ["", "/", "/a/b", "/a/../b", "/%2e%2e/c", "/A%7eb/./c/..", "/p q",
          "/x%2Fy", "/.."]


def _href_strategy():
    from hypothesis import strategies as st

    userinfo = st.sampled_from(["", "u@", "u:p@", ":p@", "U:P@", "a@b@", "x]y@"])
    port = st.sampled_from(["", ":80", ":443", ":8080", ":", ":0"])
    scheme = st.sampled_from(["http:", "https:", "HTTP:", "ftp:", ""])
    query = st.sampled_from(["", "?b=2&a=1", "?q=a+b&", "?%7e=1", "#frag", "?x#y"])
    absolute = st.builds(
        lambda s, ui, h, po, pa, q: f"{s}//{ui}{h}{po}{pa}{q}",
        scheme, userinfo, st.sampled_from(_HOSTS), port,
        st.sampled_from(_PATHS), query,
    )
    relative = st.builds(lambda pa, q: pa.lstrip("/") + q,
                         st.sampled_from(_PATHS + ["../..", "./z", "..%2fq"]),
                         query)
    pseudo = st.sampled_from(["mailto:q@r.example", "javascript:void(0)",
                              "#top", "", "  ", "tel:123", "data:,x"])
    return st.one_of(absolute, relative, pseudo,
                     st.text(alphabet="aZ09/.:%@[]?#&=+-_~ ", max_size=25))


def test_host_col_matches_host_of_fuzz(spark):
    """Hypothesis fuzz: userinfo, ports, upper case, '..', '%2e',
    protocol-relative '//host' hrefs, bracketed IPv6, pseudo-schemes —
    every canonical output gets host_col == host_of."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    bases = st.sampled_from(["http://m.example/d/e", "https://M.example:8443/",
                             "http://u@[::1]/d/"])

    @settings(max_examples=25, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    @given(st.lists(st.tuples(_href_strategy(), bases), min_size=1, max_size=40))
    def check(pairs):
        canon = [c for c in (canonicalize(h, b) for h, b in pairs) if c is not None]
        if canon:
            assert _jvm_hosts(spark, canon) == [host_of(c) for c in canon]
            # every canonical url is a fixed point with a host (IPv6 too)
            assert all(canonicalize(c) == c and host_of(c) for c in canon)

    check()


def test_extract_pass_children_equal_canonicalize(spark):
    """The extract pass's children equal canonicalize(href, page url)
    byte for byte, over fuzzed hrefs placed in real anchors."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from pompspark.extract import extract_attach_arrow, ref_extract

    bases = ["http://m.example/d/e", "https://M.example:8443/x/",
             "http://u@[::1]/d/"]

    @settings(max_examples=15, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    @given(st.lists(st.lists(_href_strategy(), max_size=6), min_size=1,
                    max_size=len(bases)))
    def check(pages):
        rows = []
        for base, hrefs in zip(bases, pages):
            html = "".join(f'<a href="{h}">x</a>' for h in hrefs).encode("utf-8")
            rows.append((base, html, None))
        df = spark.createDataFrame(rows, "url string, html binary, location string")
        got = {r.url: list(r.links) for r in extract_attach_arrow(df).collect()}
        for base, html, _ in rows:
            assert got[base] == [canonicalize(h, base) for h in ref_extract(html)[1]]

    check()


def test_seed_frontier_strips_trailing_line_terminator(spark, tmp_path):
    """Bulk seeds with a trailing '\\n' / '\\r' take the canonicalizing
    slow path of seed_frontier's JVM gate: the frontier holds the
    stripped urls, each once."""
    from pompspark.engine import simulated_engine
    from pompspark.fixtures import small_pages_df

    eng = simulated_engine(spark, str(tmp_path / "s"), small_pages_df(spark))
    urls = spark.createDataFrame(
        [("http://a.example/p\n",), ("http://a.example/p\r",),
         ("http://b.example/q\r\n",)], "url string")
    assert eng.seed_frontier(urls) == 2
    got = sorted(r.url for r in eng.cat.read("frontier").collect())
    assert got == ["http://a.example/p", "http://b.example/q"]
