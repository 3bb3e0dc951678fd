"""The merge's identity-set gate (engine.INDEX_MIN_ROWS): below it the
anti-joins read the frontier's own (url_hash, url) columns and no
frontier_index exists; the first round at or above it builds the
bucketed index, which is kept from then on. Both sides of the gate must
give the oracle's trace and exact resume."""

from __future__ import annotations

import os

import pytest

import pompspark.engine as engine_mod
from pompspark.engine import simulated_engine
from pompspark.fixtures import SMALL_SEED, small_pages_df, small_robots_df
from pompspark.frontier import FrontierStore, S_RANK, S_ROUND, new_frontier_rows


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _index_built_at(monkeypatch) -> list:
    """Record the frontier's row count at every index_rebuild()."""
    calls: list = []
    orig = FrontierStore.index_rebuild

    def spy(self):
        calls.append(self.cat.row_count("frontier"))
        return orig(self)

    monkeypatch.setattr(FrontierStore, "index_rebuild", spy)
    return calls


@pytest.mark.parametrize("gate", [0, 40])
def test_trace_equivalence_across_index_gate(spark, tmp_path, monkeypatch, gate):
    """The random cross-host web (dead links, flaky urls, retries,
    compaction) against tests/oracle_sim.py, always indexed (gate 0)
    and with the gate crossed mid-crawl (the frontier grows from 2
    seeds to ~100 rows)."""
    from pyspark.sql import functions as F

    from pompspark.fixtures import pages_rows
    from pompspark.schemas import PAGES
    from tests.oracle_sim import OracleCrawl
    from tests.test_simple_crawler import _random_web

    monkeypatch.setattr(engine_mod, "INDEX_MIN_ROWS", gate)
    built = _index_built_at(monkeypatch)
    sitemap, flaky = _random_web()
    pages = spark.createDataFrame(pages_rows(sitemap), schema=PAGES)
    mapping = F.create_map(*[F.lit(x) for kv in flaky.items() for x in kv])
    pages = pages.withColumn(
        "flaky_fails", F.coalesce(mapping[F.col("url")], F.lit(0))
    )
    seeds = [list(sitemap)[0], list(sitemap)[37]]
    eng = simulated_engine(
        spark, str(tmp_path / f"gate-{gate}"), pages,
        ordering="bfs", per_round_budget=13, per_host_budget=3,
        max_retries=1, retry_delay_rounds=1, compact_every=3,
    )
    eng.seed(seeds)
    eng.run(max_rounds=200)
    got = [
        (r.round, (int(r.seq) % S_ROUND) // S_RANK, r.url, r.depth, r.host)
        for r in eng.trace().collect()
    ]
    sim = OracleCrawl(
        sitemap=sitemap, ordering="bfs", per_round_budget=13,
        per_host_budget=3, flaky=flaky, max_retries=1, retry_delay_rounds=1,
    )
    sim.seed(seeds)
    sim.run()
    assert got == sim.trace_tuples()
    # built exactly once, by the first identity read at or past the
    # gate: seed()'s anti-join on the empty frontier at gate 0,
    # mid-crawl at gate 40
    assert len(built) == 1 and eng.store.index_ready
    assert built[0] == 0 if gate == 0 else built[0] >= gate
    idx = sorted(r.url for r in eng.store.identity_rows().collect())
    assert idx == sorted(r.url for r in eng.cat.read("frontier").collect())


class _Crash(Exception):
    pass


def _engine(spark, path, **kw):
    return simulated_engine(
        spark, path, small_pages_df(spark), robots_df=small_robots_df(spark),
        ordering="bfs", per_round_budget=3, per_host_budget=2, **kw,
    )


# frontier rows on the small fixture: 1 after seeding, then 4, 8, 10,
# 11 after rounds 1-4. Gate 8 is crossed by round 3's merge, the round
# that crashes (resume rebuilds the index); gate 11 only after the
# resume (resume drops the marker, the first round past the gate
# builds the index).
@pytest.mark.parametrize("gate", [0, 8, 11])
def test_resume_exact_across_index_gate(spark, tmp_path, monkeypatch, gate):
    monkeypatch.setattr(engine_mod, "INDEX_MIN_ROWS", gate)
    ref = _engine(spark, str(tmp_path / "ref"))
    ref.seed([SMALL_SEED])
    ref.run(max_rounds=100)
    want = [(r.round, r.seq, r.url) for r in ref.trace().collect()]

    a = _engine(spark, str(tmp_path / "x"))
    a.seed([SMALL_SEED])
    a.run_round()
    a.run_round()

    def crash(budget_left):
        raise _Crash()

    # round 3 commits its frontier (and index) appends, then dies
    # before its checkpoint
    a._checkpoint = crash
    with pytest.raises(_Crash):
        a.run_round()
    del a._checkpoint
    assert a.store.index_ready == (gate <= 8)

    # the same engine resumes: an index it kept across the crash holds
    # round 3's discoveries, which the resumed round 3 must re-admit
    assert a.resume() == 2
    assert a.store.index_ready == (gate <= 8)
    a.run(max_rounds=100)
    assert [(r.round, r.seq, r.url) for r in a.trace().collect()] == want
    assert a.store.index_ready
    idx = sorted(r.url for r in a.store.identity_rows().collect())
    assert idx == sorted(r.url for r in a.cat.read("frontier").collect())


def _merge_plan(eng) -> str:
    disc = eng.spark.createDataFrame(
        [("http://a.example/new", "a.example", 1, 0, 0)],
        "url string, host string, depth int, fetch_rank long, pos int",
    )
    return _plan(new_frontier_rows(
        disc, eng._identity_set(), eng.robots_df, eng.round + 1,
        robots_rows=eng.robots_rows,
    ))


def test_merge_plan_below_gate_reads_no_index(spark, tmp_path, monkeypatch):
    """Below the gate the merge anti-join scans the frontier table and
    the engine has created no index table, files or marker; at gate 0
    the same merge scans frontier_index."""
    eng = _engine(spark, str(tmp_path / "below"))
    eng.seed([SMALL_SEED])
    eng.run_round()
    plan = _merge_plan(eng)
    assert "frontier_index" not in plan, plan
    # the anti-join's build side: the frontier files' two identity columns
    assert "LeftAnti" in plan, plan
    assert "ReadSchema: struct<url:string,url_hash:bigint>" in plan, plan
    assert not os.path.exists(str(tmp_path / "below" / "frontier_index"))
    assert not os.path.exists(str(tmp_path / "below" / "frontier_index_version"))
    assert not eng.store.index_ready

    monkeypatch.setattr(engine_mod, "INDEX_MIN_ROWS", 0)
    plan = _merge_plan(eng)
    assert "frontier_index" in plan, plan
    assert eng.store.index_ready


def test_index_appends_stay_bounded_without_compaction(spark, tmp_path):
    """compact_every=0 above the gate: every append checks the
    files-per-bucket bound (index_compact past it), so 20 appends stay
    at or under it and the index holds the exact identity set."""
    from pompspark.tables import Catalog

    store = FrontierStore(Catalog(spark, str(tmp_path / "idx")), index_buckets=4)
    bound = FrontierStore.INDEX_FILES_PER_BUCKET * 4
    for i in range(20):
        rows = spark.range(i * 50, i * 50 + 50).selectExpr(
            "concat('http://h', cast(id % 5 as string), '.example/p', "
            "cast(id as string)) as url",
        ).selectExpr("xxhash64(url) as url_hash", "url")
        store.index_append(rows)
        assert store.index_file_count() <= bound
    got = sorted(r.url for r in store.identity_rows().collect())
    assert got == sorted(
        f"http://h{i % 5}.example/p{i}" for i in range(1000)
    )
