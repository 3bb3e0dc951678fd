"""Banded dequeue: one pass when the first band prefix fills the budget,
and every banded batch equals the full-frontier dequeue.

Layout (the shape of perfbench's deep_backlog): the compacted frontier
holds the seed band (1.0, 0) and a far backlog band — FRONTIER rows at
child priority, depth 100, discovered_round 0 — appended through the
store before the engine starts. After round 1 the budget is filled by
the remaining seeds plus un-banded depth-1 appends, whose band
(0.5, 1) exists in no compacted file yet ranks strictly before the far
band: the first prefix covers the budget."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import pompspark.frontier as fr
from pompspark import schemas
from pompspark.engine import simulated_engine
from pompspark.fixtures import pages_rows
from pompspark.tables import Catalog
from tests.test_simple_crawler import _random_web

BUDGET = 5
ROUNDS = 3


def _far_band_rows(spark, n=40):
    url = F.concat(F.lit("http://far.example/x"), F.col("id").cast("string"))
    rows = spark.range(n).select(url.alias("url"), "id").select(
        "url",
        F.xxhash64("url").alias("url_hash"),
        F.hash("url").alias("url_murmur3"),
        F.lit("far.example").alias("host"),
        F.lit(100).alias("depth"),
        F.lit(fr.CHILD_PRIORITY).alias("priority"),
        F.lit(0).alias("discovered_round"),
        (F.lit(1 << 44).cast("long") + F.col("id")).alias("seq"),
        F.pmod(F.hash("url"), F.lit(fr.SALT_N)).cast("int").alias("salt"),
        F.lit("queued").alias("state"),
    )
    return rows.select(*fr.FRONTIER_COLS)


@pytest.mark.parametrize("ordering", ["bfs", "dfs"])
def test_banded_dequeue_one_pass_and_exact(spark, tmp_path, monkeypatch, ordering):
    sitemap, _ = _random_web(seed=5)
    pages = spark.createDataFrame(pages_rows(sitemap), schema=schemas.PAGES)
    state = str(tmp_path / f"onepass-{ordering}")
    cat = Catalog(spark, state)
    cat.create("frontier", schemas.FRONTIER)
    fr.FrontierStore(cat).append(_far_band_rows(spark))
    eng = simulated_engine(
        spark, state, pages, ordering=ordering, per_round_budget=BUDGET,
        per_host_budget=3, compact_every=0, banded_dequeue=True,
    )
    seeds = list(sitemap)[::8][:BUDGET + 2]
    eng.seed(seeds)
    band_col = fr.BAND_COL[ordering]
    eng.store.compact(band_col=band_col)
    assert eng.store.band_info()["bands"] == {
        "1.0": [0], "0.5": [100 if ordering == "bfs" else 0]
    }

    orig_banded, orig_dequeue = fr.dequeue_banded, fr.dequeue
    passes: list[int] = []
    rounds: list[dict] = []

    def counted(*a, **kw):
        passes[-1] += 1
        return orig_dequeue(*a, **kw)

    def checked(store, robots_df, **kw):
        passes.append(0)
        batch, n, bands_read = orig_banded(store, robots_df, **kw)
        got = batch.select("url", "fetch_rank", "priority", band_col).collect()
        full = store.queued(
            kw["current_round"], kw["retry_delay_rounds"], kw["retry_enabled"]
        )
        ref_kw = {k: v for k, v in kw.items() if k not in (
            "current_round", "retry_delay_rounds", "retry_enabled")}
        want = orig_dequeue(full, robots_df, **ref_kw).select(
            "url", "fetch_rank").collect()
        rounds.append(dict(
            n=n, bands_read=bands_read, passes=passes[-1],
            got=sorted((r.url, r.fetch_rank) for r in got),
            want=sorted((r.url, r.fetch_rank) for r in want),
            classes={(r.priority, r[band_col]) for r in got},
        ))
        return batch, n, bands_read

    monkeypatch.setattr(fr, "dequeue", counted)
    monkeypatch.setattr(fr, "dequeue_banded", checked)
    for _ in range(ROUNDS):
        eng.run_round()

    assert len(rounds) == ROUNDS
    for r in rounds:
        assert r["got"] == r["want"]
        # every round's first prefix (the seed band + the appends) fills
        # the budget, so each is one pass over one band
        assert r["passes"] == 1
        assert (r["n"], r["bands_read"]) == (BUDGET, 1)
    # round 2 mixes the last seeds with un-banded depth-1 appends
    assert {(1.0, 0), (0.5, 1)} <= rounds[1]["classes"]
