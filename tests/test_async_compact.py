"""Pins the r6 async-compaction overlap (engine.async_compact):
compaction on a background driver thread, joined before the next
round's first state write, must leave the crawl byte-identical to the
synchronous path — trace, frontier, frontier_state, fetch_log — under
both orderings, with retries, and with the banded layout that compacts
every round."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pompspark.engine import simulated_engine
from pompspark.fixtures import SMALL_SEED, small_pages_df, small_robots_df


def _run(spark, tmp_path, tag, *, async_compact, ordering="bfs",
         compact_every=1, banded=False, retries=0, flaky=False):
    pages = small_pages_df(spark)
    if flaky:
        pages = pages.withColumn(
            "flaky_fails",
            F.when(F.xxhash64("url") % 3 == 0, F.lit(1)).cast("int"),
        )
    eng = simulated_engine(
        spark,
        str(tmp_path / tag),
        pages,
        robots_df=small_robots_df(spark),
        ordering=ordering,
        per_round_budget=4,
        per_host_budget=2,
        compact_every=compact_every,
        banded_dequeue=banded,
        max_retries=retries,
        retry_delay_rounds=1,
        async_compact=async_compact,
    )
    eng.seed([SMALL_SEED])
    eng.run(max_rounds=60)
    trace = sorted(
        (r.seq, r.round, r.url, r.depth, r.host)
        for r in eng.trace().collect()
    )
    frontier = sorted(
        (r.url, r.state, r.depth, r.seq)
        for r in eng.cat.read("frontier").collect()
    )
    state = sorted(
        (r.url_hash, r.url, r.state, r.round)
        for r in eng.cat.read("frontier_state").collect()
    )
    log = sorted(
        (r.url, r.round, r.status, r.text)
        for r in eng.fetch_log().collect()
    )
    return trace, frontier, state, log


@pytest.mark.parametrize("ordering,banded,retries,flaky", [
    ("bfs", False, 0, False),
    ("dfs", False, 0, False),
    ("bfs", True, 0, False),
    ("bfs", False, 2, True),
])
def test_async_compact_equals_sync(spark, tmp_path, ordering, banded,
                                   retries, flaky):
    sync = _run(spark, tmp_path, f"sync-{ordering}-{banded}-{retries}",
                async_compact=False, ordering=ordering, banded=banded,
                retries=retries, flaky=flaky)
    asy = _run(spark, tmp_path, f"async-{ordering}-{banded}-{retries}",
               async_compact=True, ordering=ordering, banded=banded,
               retries=retries, flaky=flaky)
    for name, a, b in zip(("trace", "frontier", "frontier_state",
                           "fetch_log"), sync, asy):
        assert a == b, f"{name} differs between sync and async compaction"


def test_async_compact_joined_at_run_exit(spark, tmp_path):
    """run() must not return with a live compaction thread (the public
    API boundary is deterministic)."""
    eng = simulated_engine(
        spark, str(tmp_path / "join"), small_pages_df(spark),
        robots_df=small_robots_df(spark), ordering="bfs",
        per_round_budget=4, per_host_budget=2, compact_every=1,
        async_compact=True,
    )
    eng.seed([SMALL_SEED])
    eng.run(max_rounds=10)
    assert eng._compact_thread is None
    assert eng._compact_finish is None
    assert eng._compact_error is None


@pytest.mark.parametrize("async_compact", [False, True])
def test_compact_failure_is_raised(spark, tmp_path, monkeypatch,
                                   async_compact):
    """A failing FrontierStore.compact surfaces in both modes: from the
    compacting run_round when synchronous, at the next join when in the
    background. Either way the engine is left holding no thread,
    finish hook or error."""
    from pompspark.frontier import FrontierStore

    def boom(self, *a, **kw):
        raise RuntimeError("compact failed")

    monkeypatch.setattr(FrontierStore, "compact", boom)
    eng = simulated_engine(
        spark, str(tmp_path / f"fail-{async_compact}"), small_pages_df(spark),
        robots_df=small_robots_df(spark), ordering="bfs",
        per_round_budget=4, per_host_budget=2, compact_every=1,
        async_compact=async_compact,
    )
    eng.seed([SMALL_SEED])
    if async_compact:
        # round 1 submits the compaction and returns; its failure is
        # raised where the next round (or run()'s exit) joins it
        assert eng.run_round() > 0
        assert eng.round == 1
        with pytest.raises(RuntimeError, match="compact failed"):
            eng.run(max_rounds=3)
    else:
        with pytest.raises(RuntimeError, match="compact failed"):
            eng.run_round()
        assert eng.round == 1  # raised after the round's checkpoint
    assert eng._compact_thread is None
    assert eng._compact_finish is None
    assert eng._compact_error is None
