"""5xx Retry-After honoring: a server-supplied cool-down overrides the
engine-wide retry_delay_rounds for THAT url (rounds = ceil(seconds /
round_seconds)), carried per-transition in frontier_state and applied
by queued()'s per-row coalesce. Mirrors OracleCrawl.retry_after_rounds.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pompspark.engine import simulated_engine
from pompspark.fixtures import SMALL_SEED, SMALL_SITEMAP, small_pages_df
from pompspark.frontier import S_RANK, S_ROUND
from tests.oracle_sim import OracleCrawl

FLAKY = {"http://a.example/p1": 1, "http://b.example/p0": 2}
# a/p1 sends Retry-After: 3 s (3 rounds at round_seconds=1);
# b/p0 sends none -> engine default retry_delay_rounds applies
RETRY_AFTER_S = {"http://a.example/p1": 3.0}


def _pages(spark):
    fl = F.create_map(*[F.lit(x) for kv in FLAKY.items() for x in kv])
    ra = F.create_map(
        *[F.lit(x) for kv in RETRY_AFTER_S.items() for x in kv]
    )
    return (
        small_pages_df(spark)
        .withColumn("flaky_fails", F.coalesce(fl[F.col("url")], F.lit(0)))
        .withColumn("retry_after_s", ra[F.col("url")])
    )


@pytest.mark.parametrize("max_retries,delay,ordering", [
    (2, 1, "bfs"), (2, 1, "dfs"), (1, 2, "bfs"),
])
def test_retry_after_trace_equivalence(spark, tmp_path, max_retries,
                                       delay, ordering):
    eng = simulated_engine(
        spark, str(tmp_path / f"ra-{max_retries}-{delay}-{ordering}"),
        _pages(spark), ordering=ordering, per_round_budget=3,
        per_host_budget=2, max_retries=max_retries,
        retry_delay_rounds=delay, compact_every=2,
    )
    eng.seed([SMALL_SEED])
    eng.run(max_rounds=60)
    got = [
        (r.round, (int(r.seq) % S_ROUND) // S_RANK, r.url, r.depth, r.host)
        for r in eng.trace().collect()
    ]
    sim = OracleCrawl(
        sitemap=SMALL_SITEMAP, ordering=ordering, per_round_budget=3,
        per_host_budget=2, flaky=FLAKY, max_retries=max_retries,
        retry_delay_rounds=delay,
        retry_after_rounds={"http://a.example/p1": 3},
    )
    sim.seed([SMALL_SEED])
    sim.run()
    assert got == sim.trace_tuples(), (max_retries, delay, ordering)
    # a/p1's two fetches must be >= 3 rounds apart (its Retry-After),
    # b/p0's retries use the engine default
    rounds = sorted(r for (r, _k, u, _d, _h) in got
                    if u == "http://a.example/p1")
    assert len(rounds) == 2 and rounds[1] - rounds[0] >= 3


def test_retry_after_longer_than_idle_default(spark, tmp_path):
    """A Retry-After longer than retry_delay_rounds must survive the
    engine's idle-round bound: seed is flaky once with a 4-round
    cool-down and NOTHING else is queued — the engine idles 4 rounds
    and then succeeds (the old bound broke after retry_delay_rounds+1
    idle rounds)."""
    sitemap = {SMALL_SEED: []}
    import pandas as pd

    from pompspark.fixtures import pages_rows
    from pompspark.schemas import PAGES
    from pyspark.sql import types as T

    pdf = pages_rows(sitemap)
    pdf["flaky_fails"] = [1]
    pdf["retry_after_s"] = [4.0]
    schema = T.StructType(
        list(PAGES.fields)
        + [T.StructField("flaky_fails", T.IntegerType()),
           T.StructField("retry_after_s", T.DoubleType())]
    )
    eng = simulated_engine(
        spark, str(tmp_path / "ra-idle"),
        spark.createDataFrame(pdf, schema=schema),
        per_round_budget=3, per_host_budget=3, max_retries=1,
        retry_delay_rounds=1,
    )
    eng.seed([SMALL_SEED])
    eng.run(max_rounds=30)
    log = sorted((r.round, r.status) for r in eng.fetch_log().collect())
    assert log[0][1] == 503
    assert log[-1][1] == 200, "retry must eventually succeed"
    assert log[-1][0] - log[0][0] >= 4, "cool-down honored"


def test_non_positive_retry_after_is_absent(spark, tmp_path):
    """A Retry-After that is not a positive number (negative, zero,
    NaN) is treated as absent: the url cools down for the engine-wide
    retry_delay_rounds, exactly like a 5xx without the header (a
    negative header used to give a negative cool-down, so the retry
    jumped the default delay)."""
    headers = {"http://a.example/p1": -5.0, "http://b.example/p0": float("nan"),
               "http://c.example/p0": 0.0}
    flaky = F.create_map(*[F.lit(x) for u in headers for x in (u, 1)])
    ra = F.create_map(*[F.lit(x) for kv in headers.items() for x in kv])
    pages = (
        small_pages_df(spark)
        .withColumn("flaky_fails", F.coalesce(flaky[F.col("url")], F.lit(0)))
        .withColumn("retry_after_s", ra[F.col("url")])
    )
    eng = simulated_engine(
        spark, str(tmp_path / "ra-bad"), pages, ordering="bfs",
        per_round_budget=3, per_host_budget=2, max_retries=1,
        retry_delay_rounds=3, compact_every=2,
    )
    eng.seed([SMALL_SEED])
    eng.run(max_rounds=60)
    got = [
        (r.round, (int(r.seq) % S_ROUND) // S_RANK, r.url, r.depth, r.host)
        for r in eng.trace().collect()
    ]
    sim = OracleCrawl(
        sitemap=SMALL_SITEMAP, ordering="bfs", per_round_budget=3,
        per_host_budget=2, flaky={u: 1 for u in headers}, max_retries=1,
        retry_delay_rounds=3,
        # round_seconds=1: a header's seconds are its rounds
        retry_after_rounds=headers,
    )
    sim.seed([SMALL_SEED])
    sim.run()
    assert got == sim.trace_tuples()
    for u in headers:
        rounds = sorted(r for (r, _k, v, _d, _h) in got if v == u)
        assert len(rounds) == 2 and rounds[1] - rounds[0] >= 3, u
