"""Trace-equivalence: the Spark engine must reproduce the oracle
simulator's visited set AND order — the analog of pomp's
tests/test_simple_crawler.py (DummyCrawler over a sitemap dict,
asserting visited urls + collected items) — for BFS and DFS modes
across budget combinations (FIXTURES F2 parameter grid)."""

from __future__ import annotations

import pytest

from pompspark.engine import simulated_engine
from pompspark.fixtures import (
    SMALL_ROBOTS,
    SMALL_SEED,
    SMALL_SITEMAP,
    small_pages_df,
    small_robots_df,
)
from tests.oracle_sim import OracleCrawl

ROBOTS = {h: {"crawl_delay": d, "disallow": dis} for h, _txt, d, dis in SMALL_ROBOTS}


def spark_trace(spark, tmp_path, ordering, per_round, per_host, robots=False,
                seeds=None, compact_every=2):
    eng = simulated_engine(
        spark,
        str(tmp_path / f"crawl-{ordering}-{per_round}-{per_host}-{robots}"),
        small_pages_df(spark),
        robots_df=small_robots_df(spark) if robots else None,
        ordering=ordering,
        per_round_budget=per_round,
        per_host_budget=per_host,
        compact_every=compact_every,
    )
    eng.seed(seeds or [SMALL_SEED])
    eng.run(max_rounds=100)
    rows = eng.trace().collect()
    from pompspark.frontier import S_RANK, S_ROUND

    return [
        (r.round, (int(r.seq) % S_ROUND) // S_RANK, r.url, r.depth, r.host)
        for r in rows
    ], eng


def oracle_trace(ordering, per_round, per_host, robots=False, seeds=None):
    sim = OracleCrawl(
        sitemap=SMALL_SITEMAP,
        ordering=ordering,
        per_round_budget=per_round,
        per_host_budget=per_host,
        robots=ROBOTS if robots else None,
    )
    sim.seed(seeds or [SMALL_SEED])
    sim.run()
    return sim.trace_tuples(), sim


GRID = [
    ("bfs", 3, 2), ("bfs", 1, 1), ("bfs", 5, 2),
    ("dfs", 3, 2), ("dfs", 1, 1), ("dfs", 5, 2),
]


@pytest.mark.parametrize("ordering,per_round,per_host", GRID)
def test_trace_equivalence(spark, tmp_path, ordering, per_round, per_host):
    got, eng = spark_trace(spark, tmp_path, ordering, per_round, per_host)
    want, sim = oracle_trace(ordering, per_round, per_host)
    assert got == want
    # full crawl visits the whole reachable sitemap exactly once
    urls = [t[2] for t in got]
    assert sorted(urls) == sorted(set(urls))
    assert set(urls) == set(SMALL_SITEMAP)  # all reachable from seed here


@pytest.mark.parametrize("ordering", ["bfs", "dfs"])
def test_trace_equivalence_with_robots(spark, tmp_path, ordering):
    got, eng = spark_trace(spark, tmp_path, ordering, 3, 2, robots=True)
    want, sim = oracle_trace(ordering, 3, 2, robots=True)
    assert got == want
    urls = {t[2] for t in got}
    assert "http://a.example/p3" not in urls  # robots disallow /p3
    # b.example crawl_delay=1.0 + round_seconds=1.0 -> ≤1 b-fetch per round
    per_round_b = {}
    for rnd, _rank, url, _d, host in got:
        if host == "b.example":
            per_round_b[rnd] = per_round_b.get(rnd, 0) + 1
    assert all(v <= 1 for v in per_round_b.values())


def test_multi_seed_and_404(spark, tmp_path):
    """Seeds beyond the sitemap 404 but never stop the crawl (pomp
    error-isolation, SURVEY §2.4.3); duplicate seeds dedup."""
    seeds = ["http://missing.example/x", SMALL_SEED, SMALL_SEED]
    got, eng = spark_trace(spark, tmp_path, "bfs", 3, 2, seeds=seeds)
    want, sim = oracle_trace("bfs", 3, 2, seeds=seeds)
    assert got == want
    log = {r.url: r for r in eng.fetch_log().collect()}
    assert log["http://missing.example/x"].status == 404
    assert log["http://missing.example/x"].error == "not_found"
    assert log[SMALL_SEED].status == 200


_A0, _B0, _C0 = ("http://a.example/p0", "http://b.example/p0",
                 "http://c.example/p0")
REPEATED_SEED_CALLS = {
    # a url already in the frontier is not enqueued again
    "same-url": [[_A0], [_A0]],
    # a later call's seeds sort after every earlier call's
    "later-call": [["http://c.example/p3", "http://b.example/p2"], [_A0]],
    # the anti-joined a/p0 leaves a rank gap in the second call: seq is
    # the rank among ADMITTED seeds, so b/p0 and c/p0 do not collide
    "rank-gap": [[_A0], [_A0, _B0], [_C0]],
}


@pytest.mark.parametrize("ordering", ["bfs", "dfs"])
@pytest.mark.parametrize("case", sorted(REPEATED_SEED_CALLS))
def test_repeated_seed_calls_match_oracle(spark, tmp_path, case, ordering):
    """Several seed() calls admit like the oracle's: urls already in
    the frontier are skipped and each call's seq continues after the
    earlier calls' (pomp: entry requests take the same queue put as
    extracted ones)."""
    from pyspark.sql import functions as F

    from pompspark.frontier import S_RANK, S_ROUND

    eng = simulated_engine(
        spark, str(tmp_path / "e"), small_pages_df(spark),
        ordering=ordering, per_round_budget=5, per_host_budget=2,
    )
    sim = OracleCrawl(sitemap=SMALL_SITEMAP, ordering=ordering,
                      per_round_budget=5, per_host_budget=2)
    for call in REPEATED_SEED_CALLS[case]:
        eng.seed(call)
        sim.seed(call)
    seeded = {
        r.url: r.seq
        for r in eng.store.all_rows().filter(F.col("depth") == 0).collect()
    }
    assert seeded == {u: e.seq for u, e in sim.entries.items()}
    eng.run(max_rounds=100)
    sim.run()
    got = [
        (r.round, (int(r.seq) % S_ROUND) // S_RANK, r.url, r.depth, r.host)
        for r in eng.trace().collect()
    ]
    assert got == sim.trace_tuples()


def test_byte_identity_against_pages_text(spark, tmp_path):
    """Engine-extracted text must equal the pages.text ground truth
    (which FIXTURES F1 defines as ref_extract output) byte-for-byte."""
    _got, eng = spark_trace(spark, tmp_path, "bfs", 5, 5)
    pages = {r.url: r.text for r in small_pages_df(spark).select("url", "text").collect()}
    for r in eng.fetch_log().filter("status = 200").collect():
        assert r.text.encode("utf-8") == pages[r.url].encode("utf-8")


def test_metrics_and_checkpoint_rows(spark, tmp_path):
    _got, eng = spark_trace(spark, tmp_path, "bfs", 3, 2)
    m = eng.metrics().collect()
    assert sum(r.urls_fetched for r in m) == len(SMALL_SITEMAP)
    cp = eng.cat.read("checkpoint").collect()
    assert len(cp) == eng.round + 1  # seed + one per round
    assert all(set(r.snapshot_ids) == {"frontier", "frontier_state", "fetch_log", "metrics", "trace"} for r in cp)


RETRY_GRID = [
    # (max_retries, retry_delay_rounds, ordering)
    (1, 1, "bfs"), (2, 1, "bfs"), (1, 2, "bfs"), (0, 1, "bfs"),
    (2, 1, "dfs"),
]


@pytest.mark.parametrize("max_retries,delay,ordering", RETRY_GRID)
def test_retry_trace_equivalence(spark, tmp_path, max_retries, delay, ordering):
    """Transient-failure retry: flaky urls 503 on their first N
    attempts, park as 'retry', re-enter after the cool-down with their
    original queue identity — trace must equal the oracle's exactly,
    including the repeated fetch attempts (VERDICT r1 item 5)."""
    from pyspark.sql import functions as F

    from pompspark.frontier import S_RANK, S_ROUND

    flaky = {"http://a.example/p1": 1, "http://b.example/p0": 2}
    mapping = F.create_map(*[F.lit(x) for kv in flaky.items() for x in kv])
    pages = small_pages_df(spark).withColumn(
        "flaky_fails", F.coalesce(mapping[F.col("url")], F.lit(0))
    )
    eng = simulated_engine(
        spark, str(tmp_path / f"retry-{max_retries}-{delay}-{ordering}"),
        pages, ordering=ordering, per_round_budget=3, per_host_budget=2,
        max_retries=max_retries, retry_delay_rounds=delay, compact_every=2,
    )
    eng.seed([SMALL_SEED])
    eng.run(max_rounds=60)
    got = [
        (r.round, (int(r.seq) % S_ROUND) // S_RANK, r.url, r.depth, r.host)
        for r in eng.trace().collect()
    ]
    sim = OracleCrawl(
        sitemap=SMALL_SITEMAP, ordering=ordering, per_round_budget=3,
        per_host_budget=2, flaky=flaky, max_retries=max_retries,
        retry_delay_rounds=delay,
    )
    sim.seed([SMALL_SEED])
    sim.run()
    assert got == sim.trace_tuples(), (max_retries, delay, ordering)
    # fetch_log status parity (503 attempts then the final outcome)
    got_log = sorted(
        (r.url, r.round, r.status) for r in eng.fetch_log().collect()
    )
    want_log = sorted(
        (d["url"], d["round"], d["status"]) for d in sim.fetch_log
    )
    assert got_log == want_log
    # a url that exhausts retries is terminal: fetched at most
    # (flaky + 1) times, and with max_retries < flaky it never succeeds
    if max_retries < flaky["http://b.example/p0"]:
        assert ("http://b.example/p0", 200) not in {
            (u, s) for (u, _r, s) in got_log
        }


def _random_web(seed=1234, n_hosts=12, pages_per_host=8, out_deg=4):
    """Deterministic pseudo-random sitemap: cross-host links, a few
    dead links (404 targets), a couple of flaky urls."""
    import random

    rng = random.Random(seed)
    urls = [
        f"http://s{h}.example/p{p}"
        for h in range(n_hosts) for p in range(pages_per_host)
    ]
    sitemap = {}
    for u in urls:
        kids = rng.sample(urls, k=out_deg)
        if rng.random() < 0.15:  # dead link -> 404 path
            kids.append(f"http://s{rng.randrange(n_hosts)}.example/dead{rng.randrange(99)}")
        sitemap[u] = kids
    flaky = {urls[3]: 1, urls[17]: 2, urls[41]: 1}
    return sitemap, flaky


@pytest.mark.parametrize("ordering,retries", [("bfs", 0), ("bfs", 2), ("dfs", 1)])
def test_random_web_trace_equivalence(spark, tmp_path, ordering, retries):
    """Stress the ordering contract beyond the 12-page fixture: a
    96-page pseudo-random cross-host web with dead links and flaky
    urls must produce the oracle's trace EXACTLY, across orderings and
    retry settings."""
    from pyspark.sql import functions as F

    from pompspark.fixtures import pages_rows
    from pompspark.frontier import S_RANK, S_ROUND
    from pompspark.schemas import PAGES

    sitemap, flaky = _random_web()
    pages = spark.createDataFrame(pages_rows(sitemap), schema=PAGES)
    mapping = F.create_map(*[F.lit(x) for kv in flaky.items() for x in kv])
    pages = pages.withColumn(
        "flaky_fails", F.coalesce(mapping[F.col("url")], F.lit(0))
    )
    seeds = [list(sitemap)[0], list(sitemap)[37]]
    eng = simulated_engine(
        spark, str(tmp_path / f"rweb-{ordering}-{retries}"), pages,
        ordering=ordering, per_round_budget=13, per_host_budget=3,
        max_retries=retries, retry_delay_rounds=1, compact_every=3,
    )
    eng.seed(seeds)
    eng.run(max_rounds=200)
    got = [
        (r.round, (int(r.seq) % S_ROUND) // S_RANK, r.url, r.depth, r.host)
        for r in eng.trace().collect()
    ]
    sim = OracleCrawl(
        sitemap=sitemap, ordering=ordering, per_round_budget=13,
        per_host_budget=3, flaky=flaky, max_retries=retries,
        retry_delay_rounds=1,
    )
    sim.seed(seeds)
    sim.run()
    assert got == sim.trace_tuples()
    assert len(got) >= len(sitemap)  # visited everything reachable (+retries)


@pytest.mark.parametrize("ordering,retries", [("bfs", 0), ("bfs", 1), ("dfs", 0)])
def test_banded_dequeue_trace_equivalence(spark, tmp_path, ordering, retries):
    """banded_dequeue=True must be trace-IDENTICAL to the oracle: the
    band-pruned scan is an exactness-preserving optimization (bands are
    sort-key-prefix ordered), across compactions, retries and both
    orderings — on the random cross-host web."""
    from pyspark.sql import functions as F

    from pompspark.fixtures import pages_rows
    from pompspark.frontier import S_RANK, S_ROUND
    from pompspark.schemas import PAGES

    sitemap, flaky = _random_web(seed=77)
    pages = spark.createDataFrame(pages_rows(sitemap), schema=PAGES)
    if retries:
        mapping = F.create_map(*[F.lit(x) for kv in flaky.items() for x in kv])
        pages = pages.withColumn(
            "flaky_fails", F.coalesce(mapping[F.col("url")], F.lit(0))
        )
    seeds = [list(sitemap)[0]]
    eng = simulated_engine(
        spark, str(tmp_path / f"band-{ordering}-{retries}"), pages,
        ordering=ordering, per_round_budget=11, per_host_budget=3,
        max_retries=retries, retry_delay_rounds=1, compact_every=2,
        banded_dequeue=True,
    )
    eng.seed(seeds)
    eng.run(max_rounds=200)
    got = [
        (r.round, (int(r.seq) % S_ROUND) // S_RANK, r.url, r.depth, r.host)
        for r in eng.trace().collect()
    ]
    sim = OracleCrawl(
        sitemap=sitemap, ordering=ordering, per_round_budget=11,
        per_host_budget=3, flaky=flaky if retries else None,
        max_retries=retries, retry_delay_rounds=1,
    )
    sim.seed(seeds)
    sim.run()
    assert got == sim.trace_tuples()


def test_banded_dequeue_prunes_bands(spark, tmp_path):
    """The pruning actually happens: with a backlog that spans many
    bands and a small budget, the banded dequeue stops after reading a
    strict subset of the bands (engine.last_bands_read < total bands).

    Fixture shape (discovery rate must exceed the round budget, or
    every band drains the round it is born and no backlog ever forms —
    the r2 fixture failed exactly that way): a deep chain on one host
    where every chain page also links to FIVE pages on a single
    throttled wide host. DFS + per_host_budget=1 fetches the newest
    wide page and the chain tip each round (2 fetched, 6 discovered),
    so each round strands 4 wide pages in that round's
    discovered_round band and the backlog grows one band per round."""
    from pompspark.fixtures import pages_rows
    from pompspark.schemas import PAGES

    chain: dict[str, list[str]] = {}
    for i in range(30):
        wides = [f"http://wide.example/w{i}-{j}" for j in range(5)]
        chain[f"http://deep.example/p{i}"] = (
            [f"http://deep.example/p{i+1}"] + wides)
        for w in wides:
            chain[w] = []
    chain["http://deep.example/p30"] = []
    pages = spark.createDataFrame(pages_rows(chain), schema=PAGES)
    eng = simulated_engine(
        spark, str(tmp_path / "bandprune"), pages,
        ordering="dfs", per_round_budget=2, per_host_budget=1,
        compact_every=1, banded_dequeue=True,
    )
    eng.seed(["http://deep.example/p0"])
    for _ in range(12):
        if eng.run_round() == 0:
            break
    info = eng.store.band_info()
    assert info is not None and info["band_col"] == "discovered_round"
    n_bands = sum(len(v) for v in info["bands"].values())
    # late in the crawl many backlog bands exist; the last round read few
    assert n_bands >= 4
    assert 0 < eng.last_bands_read < n_bands


def test_run_terminates_when_retries_become_undequeueable(spark, tmp_path):
    """A pending retry whose host becomes robots-disallowed mid-crawl
    can never be dequeued again; run(max_rounds=None) must not idle-spin
    forever appending checkpoint rows (r2 advice: bound consecutive
    idle rounds by retry_delay_rounds)."""
    import datetime as dt

    import pandas as pd
    from pyspark.sql import functions as F

    # one seed host; its only page 503s forever (flaky > max_retries
    # never reached because robots cuts in first)
    pages = small_pages_df(spark).withColumn(
        "flaky_fails",
        F.when(F.col("url") == SMALL_SEED, F.lit(99)).otherwise(F.lit(0)),
    )
    eng = simulated_engine(
        spark, str(tmp_path / "stuckretry"), pages,
        ordering="bfs", per_round_budget=3, per_host_budget=2,
        max_retries=5, retry_delay_rounds=2,
    )
    eng.seed([SMALL_SEED])
    eng.run_round()  # attempt 1: 503 -> parked as retry
    # robots flips: the seed's host is now fully disallowed
    old = dt.datetime(2020, 1, 1)
    eng.cat.overwrite("robots_cache", eng.cat.read("robots_cache").limit(0))
    from pompspark.robots import build_robots_cache
    host = SMALL_SEED.split("/")[2]
    eng.cat.append("robots_cache", build_robots_cache(spark.createDataFrame(
        pd.DataFrame({
            "host": [host],
            "robots_txt": ["User-agent: *\nDisallow: /"],
            "fetched_ts": [dt.datetime(2026, 1, 1)],
        })
    )))
    eng._reload_robots()
    before = eng.round
    eng.run(max_rounds=None)  # must return, not spin
    # bounded idling: at most retry_delay_rounds+1 extra rounds
    assert eng.round - before <= eng.retry_delay_rounds + 2


def test_incremental_compact_leaves_terminal_files_untouched(spark, tmp_path):
    """Frontier compaction is partition-incremental (r3 verdict #5):
    a compact folds + rewrites ONLY the queued partition; files already
    holding terminal-state rows keep their exact paths and mtimes —
    at 10^10 rows that is the difference between an O(queued) job and
    a 1.2 TB full-table rewrite. The crawl's trace must still match
    the oracle exactly (compact_every=1 -> a compact after EVERY
    round)."""
    import glob
    import os

    eng = simulated_engine(
        spark, str(tmp_path / "s"), small_pages_df(spark),
        ordering="bfs", per_round_budget=3, per_host_budget=2,
        compact_every=1,
    )
    eng.seed([SMALL_SEED])
    eng.run_round(); eng.run_round()  # two rounds, two compacts
    fdir = str(tmp_path / "s" / "frontier" / "data")
    terminal = {
        f: os.path.getmtime(f)
        for f in glob.glob(os.path.join(fdir, "**", "*.parquet"), recursive=True)
        if "state=queued" not in f
    }
    assert terminal  # fetched rows exist after two compacted rounds
    eng.run(max_rounds=100)  # finish the crawl (more rounds + compacts)
    for f, m in terminal.items():
        assert os.path.exists(f) and os.path.getmtime(f) == m
    # trace still exactly the oracle's
    from pompspark.frontier import S_RANK, S_ROUND

    got = [
        (r.round, (int(r.seq) % S_ROUND) // S_RANK, r.url, r.depth, r.host)
        for r in eng.trace().collect()
    ]
    want, _sim = oracle_trace("bfs", 3, 2)
    assert got == want
    # and the folded read holds each url exactly once
    f = eng.cat.read("frontier")
    assert f.count() == f.select("url").distinct().count()


@pytest.mark.parametrize("ordering,retries", [("bfs", 0), ("bfs", 1), ("dfs", 0)])
def test_combined_scale_flags_trace_equivalence(spark, tmp_path, ordering, retries):
    """r4 verdict #1: the three 10^10 scale paths COMPOSED — banded
    dequeue + seen_mode='approx' (O(batch) merge, no identity index)
    + partition-incremental compaction (compact_every=2, the engine
    default incremental fold) + seen-delta maybe_compact — must still
    be trace-IDENTICAL to the oracle on the random cross-host web.
    Each path was grid-tested alone in r2-r4; this pins their
    interactions (band markers vs replace_partition dirs, seen deltas
    vs compact cadence, banded reader vs approx merge). The bloom is
    amply sized for 96 urls, so approx mode has no false positives and
    exact equivalence is the correct expectation (deterministic given
    the fixed seeds)."""
    from pyspark.sql import functions as F

    from pompspark.fixtures import pages_rows
    from pompspark.frontier import S_RANK, S_ROUND
    from pompspark.schemas import PAGES

    sitemap, flaky = _random_web(seed=77)
    pages = spark.createDataFrame(pages_rows(sitemap), schema=PAGES)
    if retries:
        mapping = F.create_map(*[F.lit(x) for kv in flaky.items() for x in kv])
        pages = pages.withColumn(
            "flaky_fails", F.coalesce(mapping[F.col("url")], F.lit(0))
        )
    seeds = [list(sitemap)[0]]
    eng = simulated_engine(
        spark, str(tmp_path / f"combo-{ordering}-{retries}"), pages,
        ordering=ordering, per_round_budget=11, per_host_budget=3,
        max_retries=retries, retry_delay_rounds=1, compact_every=2,
        banded_dequeue=True,
        use_seen_filter=True, seen_mode="approx", use_bucketed_index=False,
        seen_shards=4, seen_capacity_per_shard=10_000,
    )
    eng.seed(seeds)
    eng.run(max_rounds=200)
    got = [
        (r.round, (int(r.seq) % S_ROUND) // S_RANK, r.url, r.depth, r.host)
        for r in eng.trace().collect()
    ]
    sim = OracleCrawl(
        sitemap=sitemap, ordering=ordering, per_round_budget=11,
        per_host_budget=3, flaky=flaky if retries else None,
        max_retries=retries, retry_delay_rounds=1,
    )
    sim.seed(seeds)
    sim.run()
    assert got == sim.trace_tuples()
    # the scale paths actually engaged: banded layout exists, seen
    # table populated, no identity index maintained
    assert eng.store.band_info() is not None
    assert eng.cat.read("seen").count() > 0
    assert not eng.store.use_index
