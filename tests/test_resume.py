"""Exact-resume (SURVEY §5.2.4): kill after round k, resume from the
checkpoint, final fetch_log/trace identical to an uninterrupted run.
Also: the bloom/cuckoo prefilter must not change the trace."""

from __future__ import annotations

from pompspark.engine import simulated_engine
from pompspark.fixtures import SMALL_SEED, small_pages_df, small_robots_df


def _trace_tuples(eng):
    return [(r.round, r.seq, r.url) for r in eng.trace().collect()]


def _engine(spark, path, **kw):
    eng = simulated_engine(
        spark, path, small_pages_df(spark),
        robots_df=small_robots_df(spark),
        ordering="bfs", per_round_budget=3, per_host_budget=2, **kw,
    )
    return eng


def test_resume_after_interrupt(spark, tmp_path):
    # uninterrupted reference run
    ref = _engine(spark, str(tmp_path / "ref"))
    ref.seed([SMALL_SEED])
    ref.run(max_rounds=100)
    want = _trace_tuples(ref)

    # interrupted run: stop after 2 rounds, then corrupt nothing and
    # "crash" mid-flight by just abandoning the engine object.
    a = _engine(spark, str(tmp_path / "x"))
    a.seed([SMALL_SEED])
    a.run_round()
    a.run_round()

    # new engine over the same workdir resumes from the checkpoint
    b = _engine(spark, str(tmp_path / "x"))
    assert b.resume() == 2
    b.run(max_rounds=100)
    assert _trace_tuples(b) == want


def test_resume_discards_uncheckpointed_partial_state(spark, tmp_path):
    """Simulate a mid-round crash: append garbage to fetch_log AFTER the
    last checkpoint; resume() must roll it back."""
    import pyspark.sql.functions as F

    a = _engine(spark, str(tmp_path / "x"))
    a.seed([SMALL_SEED])
    a.run_round()
    good_version = a.cat.current_version("fetch_log")
    # partial, uncheckpointed write (crash between append and checkpoint)
    partial = a.fetch_log().limit(1).withColumn("round", F.lit(99))
    a.cat.append("fetch_log", partial)
    assert a.cat.current_version("fetch_log") == good_version + 1

    b = _engine(spark, str(tmp_path / "x"))
    b.resume()
    assert b.cat.current_version("fetch_log") == good_version
    assert b.fetch_log().filter("round = 99").count() == 0
    b.run(max_rounds=100)

    ref = _engine(spark, str(tmp_path / "ref"))
    ref.seed([SMALL_SEED])
    ref.run(max_rounds=100)
    assert _trace_tuples(b) == _trace_tuples(ref)


def test_seen_filter_preserves_trace(spark, tmp_path):
    """Bloom prefilter is an optimization only: trace must be identical
    with it on (FP risk settled by the exact anti-join, SURVEY §7.4)."""
    plain = _engine(spark, str(tmp_path / "plain"))
    plain.seed([SMALL_SEED])
    plain.run(max_rounds=100)

    filtered = _engine(
        spark, str(tmp_path / "filt"),
        use_seen_filter=True, seen_shards=4, seen_capacity_per_shard=10_000,
    )
    filtered.seed([SMALL_SEED])
    filtered.run(max_rounds=100)

    assert _trace_tuples(filtered) == _trace_tuples(plain)
    assert filtered.cat.read("seen").count() > 0


def test_seen_approx_mode_matches_exact_on_small_web(spark, tmp_path,
                                                     monkeypatch):
    """seen_mode='approx' drops bloom-hit discoveries WITHOUT the exact
    anti-join confirmation (the O(batch)-merge scale path). On a small
    web with an amply-sized bloom there are no false positives, so the
    trace must equal the exact run's. The approximate merge never reads
    the identity set, so even at the default use_bucketed_index=True
    and an index gate of 0 (where an exact merge builds the index, see
    tests/test_index_gate.py) it creates no frontier index files or
    marker."""
    import os

    import pompspark.engine as engine_mod

    monkeypatch.setattr(engine_mod, "INDEX_MIN_ROWS", 0)
    plain = _engine(spark, str(tmp_path / "pl"), use_bucketed_index=False)
    plain.seed([SMALL_SEED])
    plain.run(max_rounds=100)

    approx = _engine(
        spark, str(tmp_path / "ap"),
        use_seen_filter=True, seen_shards=4, seen_capacity_per_shard=10_000,
        seen_mode="approx",
    )
    approx.seed([SMALL_SEED])
    approx.run(max_rounds=100)

    assert _trace_tuples(approx) == _trace_tuples(plain)
    assert approx.cat.read("seen").count() > 0
    assert not approx.store.index_ready
    assert not os.path.exists(str(tmp_path / "ap" / "frontier_index"))
    assert not os.path.exists(str(tmp_path / "ap" / "frontier_index_version"))


def test_seen_approx_requires_filter(spark, tmp_path):
    import pytest

    with pytest.raises(ValueError):
        _engine(spark, str(tmp_path / "bad"), seen_mode="approx")
