"""Snapshot catalog contract: atomic commit, append-only, time travel,
rollback, compaction."""

from __future__ import annotations

import os

from pyspark.sql import types as T

from pompspark.tables import Catalog

SCHEMA = T.StructType([
    T.StructField("k", T.LongType()),
    T.StructField("v", T.StringType()),
])


def _df(spark, rows):
    return spark.createDataFrame(rows, schema=SCHEMA)


def test_create_append_read(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path))
    cat.create("t", SCHEMA)
    assert cat.read("t").count() == 0
    v2 = cat.append("t", _df(spark, [(1, "a"), (2, "b")]))
    v3 = cat.append("t", _df(spark, [(3, "c")]))
    assert (v2, v3) == (2, 3)
    assert cat.read("t").count() == 3
    # time travel
    assert cat.read("t", version=2).count() == 2
    assert cat.read("t", version=1).count() == 0


def test_append_does_not_rewrite(spark, tmp_path):
    """Iceberg property: appending N rows writes only the new data dir."""
    cat = Catalog(spark, str(tmp_path))
    cat.create("t", SCHEMA)
    cat.append("t", _df(spark, [(1, "a")]))
    d2 = os.path.join(str(tmp_path), "t", "data", "d-00000002")
    mtime_before = max(
        os.path.getmtime(os.path.join(d2, f)) for f in os.listdir(d2)
    )
    cat.append("t", _df(spark, [(2, "b")]))
    mtime_after = max(
        os.path.getmtime(os.path.join(d2, f)) for f in os.listdir(d2)
    )
    assert mtime_before == mtime_after  # old files untouched


def test_overwrite_and_rollback(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path))
    cat.create("t", SCHEMA)
    cat.append("t", _df(spark, [(1, "a")]))
    cat.overwrite("t", _df(spark, [(9, "z")]))
    assert [r.k for r in cat.read("t").collect()] == [9]
    cat.rollback("t", 2)
    assert [r.k for r in cat.read("t").collect()] == [1]
    assert cat.current_version("t") == 2


def test_compact(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path))
    cat.create("t", SCHEMA)
    for i in range(4):
        cat.append("t", _df(spark, [(i, str(i))]))
    import json
    with open(cat._snap_path("t", cat.current_version("t"))) as f:
        assert len(json.load(f)["dirs"]) == 4
    cat.compact("t")
    with open(cat._snap_path("t", cat.current_version("t"))) as f:
        assert len(json.load(f)["dirs"]) == 1
    assert cat.read("t").count() == 4


def test_snapshot_ids(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path))
    cat.create("a", SCHEMA)
    cat.create("b", SCHEMA)
    cat.append("a", _df(spark, [(1, "x")]))
    assert cat.snapshot_ids(["a", "b", "missing"]) == {"a": 2, "b": 1}


PART_SCHEMA = T.StructType([
    T.StructField("k", T.LongType()),
    T.StructField("state", T.StringType()),
])


def test_replace_partition_incremental(spark, tmp_path):
    """Partition-incremental rewrite (r3 verdict #5): replace_partition
    supersedes ONE partition's rows via a manifest exclusion — old
    dirs' other-partition files are byte-untouched, reads see no
    duplicates, row_count agrees, and later appends carry the
    exclusions forward."""
    import glob

    def pdf(rows):
        return spark.createDataFrame(rows, schema=PART_SCHEMA)

    cat = Catalog(spark, str(tmp_path))
    cat.create("t", PART_SCHEMA)
    cat.append("t", pdf([(1, "queued"), (2, "fetched")]), partition_by=["state"])
    cat.append("t", pdf([(3, "queued"), (4, "error")]), partition_by=["state"])
    terminal_files = {
        f: os.path.getmtime(f)
        for f in glob.glob(str(tmp_path / "t" / "data" / "**" / "*.parquet"),
                           recursive=True)
        if "state=queued" not in f
    }
    assert terminal_files
    # fold: queued rows 1,3 -> 1 stays queued, 3 becomes fetched
    cat.replace_partition(
        "t", pdf([(1, "queued"), (3, "fetched")]), "state", "queued",
        partition_by=["state"],
    )
    got = sorted((r.k, r.state) for r in cat.read("t").collect())
    assert got == [(1, "queued"), (2, "fetched"), (3, "fetched"), (4, "error")]
    assert cat.row_count("t") == 4
    # terminal files of the old dirs: same paths, same mtimes
    for f, m in terminal_files.items():
        assert os.path.getmtime(f) == m
    # exclusions survive a later append
    cat.append("t", pdf([(5, "queued")]), partition_by=["state"])
    got = sorted((r.k, r.state) for r in cat.read("t").collect())
    assert got == [(1, "queued"), (2, "fetched"), (3, "fetched"),
                   (4, "error"), (5, "queued")]
    assert cat.row_count("t") == 5
    # a second replace_partition supersedes BOTH earlier queued sets
    cat.replace_partition(
        "t", pdf([(1, "fetched"), (5, "queued")]), "state", "queued",
        partition_by=["state"],
    )
    got = sorted((r.k, r.state) for r in cat.read("t").collect())
    assert got == [(1, "fetched"), (2, "fetched"), (3, "fetched"),
                   (4, "error"), (5, "queued")]
    # time travel to the pre-replace snapshot still sees old queued rows
    assert sorted(r.k for r in cat.read("t", version=2).collect()) == [1, 2]


def test_replace_partition_merges_distinct_exclusions(spark, tmp_path):
    """r4 advice: a second replace_partition on a DIFFERENT column must
    MERGE with (not clobber) the first dir-level exclusion — otherwise
    superseded rows silently resurrect. row_count must honor multiple
    exclusions per dir too."""
    sch = T.StructType([
        T.StructField("k", T.LongType()),
        T.StructField("state", T.StringType()),
        T.StructField("tier", T.StringType()),
    ])

    def pdf(rows):
        return spark.createDataFrame(rows, schema=sch)

    cat = Catalog(spark, str(tmp_path))
    cat.create("t", sch)
    cat.append(
        "t", pdf([(1, "queued", "hot"), (2, "fetched", "cold")]),
        partition_by=["state", "tier"],
    )
    # exclusion #1: supersede state=queued (row 1 -> fetched)
    cat.replace_partition(
        "t", pdf([(1, "fetched", "hot")]), "state", "queued",
        partition_by=["state", "tier"],
    )
    # exclusion #2 on a DIFFERENT column: supersede tier=cold
    # (row 2 -> warm). Dir 1 now carries BOTH exclusions.
    cat.replace_partition(
        "t", pdf([(2, "fetched", "warm")]), "tier", "cold",
        partition_by=["state", "tier"],
    )
    got = sorted((r.k, r.state, r.tier) for r in cat.read("t").collect())
    assert got == [(1, "fetched", "hot"), (2, "fetched", "warm")]
    assert cat.row_count("t") == 2
    # same column, second value: both exclusions accumulate on the dir
    cat2 = Catalog(spark, str(tmp_path / "c2"))
    cat2.create("t", sch)
    cat2.append(
        "t",
        pdf([(1, "queued", "x"), (2, "retry", "x"), (3, "fetched", "x")]),
        partition_by=["state"],
    )
    cat2.replace_partition(
        "t", pdf([(1, "fetched", "x")]), "state", "queued",
        partition_by=["state"],
    )
    cat2.replace_partition(
        "t", pdf([(2, "error", "x")]), "state", "retry",
        partition_by=["state"],
    )
    got = sorted((r.k, r.state) for r in cat2.read("t").collect())
    assert got == [(1, "fetched"), (2, "error"), (3, "fetched")]
    assert cat2.row_count("t") == 3


def test_row_count_fallback_unpartitioned_filtered_dir(spark, tmp_path):
    """r4 advice: row_count's path-based skipping only works when the
    filtered dir is hive-partitioned by the excluded column; a dir
    written WITHOUT partition_by must fall back to a real column read
    instead of silently overcounting superseded rows."""

    def pdf(rows):
        return spark.createDataFrame(rows, schema=PART_SCHEMA)

    cat = Catalog(spark, str(tmp_path))
    cat.create("t", PART_SCHEMA)
    # NOT partitioned by state: no state=... subdirs exist
    cat.append("t", pdf([(1, "queued"), (2, "fetched")]))
    cat.replace_partition(
        "t", pdf([(1, "fetched")]), "state", "queued",
        partition_by=["state"],
    )
    got = sorted((r.k, r.state) for r in cat.read("t").collect())
    assert got == [(1, "fetched"), (2, "fetched")]
    # read() and row_count must agree (pre-fix: row_count said 3)
    assert cat.row_count("t") == 2


def test_evolve_schema_widens_and_null_fills(spark, tmp_path):
    """Appended nullable columns (the Iceberg add-column analog):
    old data files null-fill on read; retypes are refused."""
    import pyspark.sql.types as T

    from pompspark.tables import Catalog

    cat = Catalog(spark, str(tmp_path / "evo"))
    old = T.StructType([
        T.StructField("a", T.LongType()),
        T.StructField("b", T.StringType()),
    ])
    cat.create("t", old)
    cat.append("t", spark.createDataFrame([(1, "x")], old))
    new = T.StructType(
        list(old.fields) + [T.StructField("c", T.IntegerType())]
    )
    assert cat.evolve_schema("t", new) is True
    assert cat.evolve_schema("t", new) is False  # idempotent no-op
    rows = cat.read("t").collect()
    assert rows[0].c is None and rows[0].a == 1
    cat.append("t", spark.createDataFrame([(2, "y", 7)], new))
    got = {r.a: r.c for r in cat.read("t").collect()}
    assert got == {1: None, 2: 7}
    import pytest as _pytest

    bad = T.StructType([T.StructField("a", T.StringType())])
    with _pytest.raises(ValueError):
        cat.evolve_schema("t", bad)


def test_frontier_state_migration_on_resume(spark, tmp_path):
    """A workdir checkpointed BEFORE retry_delay existed must open
    cleanly: the stored 5-column frontier_state schema widens on
    FrontierStore init and old retry rows read with a null cool-down
    (engine default applies)."""
    import pyspark.sql.types as T

    from pompspark.engine import simulated_engine
    from pompspark.fixtures import small_pages_df
    from pompspark.tables import Catalog

    wd = str(tmp_path / "oldcat")
    old_state = T.StructType([
        T.StructField("url_hash", T.LongType()),
        T.StructField("url", T.StringType()),
        T.StructField("state", T.StringType()),
        T.StructField("round", T.IntegerType()),
        T.StructField("attempt", T.IntegerType()),
    ])
    cat = Catalog(spark, wd)
    cat.create("frontier_state", old_state)
    cat.append("frontier_state", spark.createDataFrame(
        [(12345, "http://a.example/p9", "retry", 1, 1)], old_state))

    eng = simulated_engine(spark, wd, small_pages_df(spark),
                           max_retries=1, retry_delay_rounds=1)
    df = eng.cat.read("frontier_state")
    assert "retry_delay" in df.columns
    assert df.collect()[0].retry_delay is None
    # the queued() fold (max_by over retry_delay) must resolve and the
    # compaction select must not crash on the widened table
    eng.store.queued(current_round=5).count()
    eng.store.compact()


def test_commit_is_durable_in_order(spark, tmp_path, monkeypatch):
    """A commit fsyncs the manifest and its directory entry BEFORE the
    _latest flip, and the table dir after it: a power loss can never
    leave _latest naming a truncated or missing manifest, nor lose the
    flip once the commit returned. Rollback flips the same way."""
    cat = Catalog(spark, str(tmp_path))
    events = []
    real_fsync, real_replace = os.fsync, os.replace

    def fsync(fd):
        st = os.fstat(fd)
        events.append(("fsync", (st.st_dev, st.st_ino)))
        real_fsync(fd)

    def replace(src, dst):
        events.append(("replace", dst))
        real_replace(src, dst)

    monkeypatch.setattr(os, "fsync", fsync)
    monkeypatch.setattr(os, "replace", replace)

    def ino(p):
        st = os.stat(p)
        return st.st_dev, st.st_ino

    def flip(tdir, latest):
        return [("fsync", ino(latest)), ("replace", latest), ("fsync", ino(tdir))]

    cat.create("t", SCHEMA)
    tdir = os.path.join(str(tmp_path), "t")
    latest = os.path.join(tdir, "_latest")
    snaps = os.path.join(tdir, "snapshots")
    manifest = os.path.join(snaps, "s-00000001.json")
    assert events == [
        ("fsync", ino(manifest)), ("fsync", ino(snaps)), *flip(tdir, latest)
    ]
    events.clear()
    cat.rollback("t", 1)
    assert events == flip(tdir, latest)
