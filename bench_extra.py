#!/usr/bin/env python
"""Stage-isolation benchmarks for the crawl round (guide §1.4: noop
sink so we time computation, not the sink; §1.5: labeled jobs).

NOT part of the frozen measurement protocol — bench.py is the driver's
record. This file exists to attribute the round's wall time to its
operators and to A/B single optimizations. Modes (argv[1]):

  gen      time build_bench_pages -> parquet (the bench's gen_pages)
  gentext  A/B: full-page extract UDF vs per-doc precompute, and
           verify byte-identity of the two text columns
  round    engine warm-up + instrumented rounds with per-stage
           sub-timings (dequeue parts, fetch join vs join+extract,
           round write, merge parts), each isolated via noop writes
  explain  dump .explain('formatted') for dequeue / fetch / merge to
           plans/r06/

Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, BENCH_PAGES, BENCH_BUDGET.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
N_PAGES = int(os.environ.get("BENCH_PAGES", "1000000"))
BUDGET = int(os.environ.get("BENCH_BUDGET", "120000"))
WORKDIR = os.environ.get(
    "BENCH_WORKDIR",
    os.path.join(os.path.dirname(os.path.abspath(__file__)), ".bench_extra"),
)


def _spark():
    from pompspark.session import build_spark

    return build_spark(
        f"local[{CPUS}]",
        app_name="pompspark-bench-extra",
        shuffle_partitions=CPUS,
        extra_conf={"spark.sql.files.maxPartitionBytes": "4m"},
    )


def _noop(df, label: str, spark) -> float:
    spark.sparkContext.setJobDescription(label)
    t0 = time.monotonic()
    df.write.format("noop").mode("overwrite").save()
    dt = round(time.monotonic() - t0, 3)
    spark.sparkContext.setJobDescription(None)
    print(f"  {label}: {dt}s", flush=True)
    return dt


def mode_gen():
    import shutil

    from pompspark.benchgen import build_bench_pages

    spark = _spark()
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    shutil.rmtree(WORKDIR, ignore_errors=True)
    os.makedirs(WORKDIR, exist_ok=True)
    t0 = time.monotonic()
    build_bench_pages(spark, docs, n_pages=N_PAGES).repartition(256).write.mode(
        "overwrite"
    ).parquet(os.path.join(WORKDIR, "pages"))
    print(json.dumps({"gen_pages": round(time.monotonic() - t0, 3)}), flush=True)
    spark.stop()


def mode_gentext():
    """A/B the text computation inside build_bench_pages and verify
    byte-identity between the legacy full-page UDF and the per-doc
    precompute on every page."""
    from pompspark.benchgen import build_bench_pages

    spark = _spark()
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))

    for variant in ("legacy", "fast"):
        os.environ["BENCHGEN_TEXT_MODE"] = variant
        df = build_bench_pages(spark, docs, n_pages=N_PAGES)
        _noop(df.select("url", "text"), f"gentext:{variant}", spark)
    # identity check: run both, join on url, count mismatches
    os.environ["BENCHGEN_TEXT_MODE"] = "legacy"
    a = build_bench_pages(spark, docs, n_pages=N_PAGES).select(
        "url", F.col("text").alias("ta")
    )
    os.environ["BENCHGEN_TEXT_MODE"] = "fast"
    b = build_bench_pages(spark, docs, n_pages=N_PAGES).select(
        "url", F.col("text").alias("tb")
    )
    spark.sparkContext.setJobDescription("gentext:identity-check")
    bad = a.join(b, "url").filter(
        ~F.col("ta").eqNullSafe(F.col("tb"))
    ).count()
    print(json.dumps({"text_mismatches": bad}), flush=True)
    spark.stop()
    if bad:
        sys.exit(1)


def _setup_engine(spark):
    import shutil

    from pompspark.benchgen import bench_robots, bench_seed_urls, build_bench_pages
    from pompspark.engine import simulated_engine

    shutil.rmtree(WORKDIR, ignore_errors=True)
    os.makedirs(WORKDIR, exist_ok=True)
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    pages_path = os.path.join(WORKDIR, "pages")
    t0 = time.monotonic()
    build_bench_pages(spark, docs, n_pages=N_PAGES).repartition(256).write.mode(
        "overwrite"
    ).parquet(pages_path)
    print(f"  gen_pages: {round(time.monotonic() - t0, 3)}s", flush=True)
    pages = spark.read.parquet(pages_path)
    seeds = bench_seed_urls(spark, N_PAGES, n_hosts=1000, n_seeds=10000)
    robots = bench_robots(spark).persist()
    robots.count()
    eng = simulated_engine(
        spark,
        os.path.join(WORKDIR, "state"),
        pages,
        robots_df=robots,
        ordering="bfs",
        per_round_budget=BUDGET,
        per_host_budget=5000,
        compact_every=0,
        use_seen_filter=False,
    )
    t0 = time.monotonic()
    eng.seed(seeds)
    print(f"  seed: {round(time.monotonic() - t0, 3)}s", flush=True)
    return eng, pages


def mode_round():
    import pompspark.frontier as frontier_mod
    from pompspark.frontier import dequeue

    spark = _spark()
    eng, pages = _setup_engine(spark)
    # two warm-up rounds like the bench
    for w in range(2):
        t0 = time.monotonic()
        eng.run_round(BUDGET // 3)
        print(f"  warmup_{w}: {round(time.monotonic() - t0, 3)}s", flush=True)
    os.sync()

    # ---- instrumented round (manual stage replication) ----
    r = eng.round + 1
    sub: dict[str, float] = {}

    # dequeue, step by step
    spark.sparkContext.setJobDescription("dequeue")
    t0 = time.monotonic()
    q = eng.store.queued(current_round=r, retry_delay_rounds=1,
                         retry_enabled=False)
    raw = dequeue(q, eng.robots_df, ordering="bfs",
                  robots_rows=eng.robots_rows, per_round_budget=BUDGET,
                  per_host_budget=5000)
    raw = raw.persist()
    n = frontier_mod.materialize_batch(raw)
    cache = getattr(raw, "_topk_cache", None)
    if cache is not None:
        cache.unpersist()
    sub["dequeue_total"] = round(time.monotonic() - t0, 3)
    print(f"  dequeue ({n} rows): {sub['dequeue_total']}s", flush=True)
    spark.sparkContext.setJobDescription(None)

    # fetch: join only (html length instead of extract)
    flaky = "flaky_fails" in pages.columns
    page_cols = ["warc_ts", "html"] + (["flaky_fails"] if flaky else [])
    pg = pages.select(F.col("url").alias("__p_url"), *page_cols)
    join_only = pg.join(
        F.broadcast(raw), F.col("__p_url") == raw["url"], "inner"
    ).select(F.octet_length("html").alias("n"))
    sub["fetch_join_only"] = _noop(join_only, "fetch:join-only", spark)

    # fetch: join + extract (full fetcher output, noop sink)
    fetched = eng.fetcher.fetch(raw)
    sub["fetch_with_extract"] = _noop(fetched, "fetch:join+extract", spark)

    # full round (the engine's own path, includes the write)
    t0 = time.monotonic()
    eng.run_round(BUDGET)
    os.sync()
    sub["full_round_after"] = round(time.monotonic() - t0, 3)
    print(f"  engine round: {sub['full_round_after']}s "
          f"stages={eng.last_round_timings}", flush=True)
    raw.unpersist()

    print(json.dumps({"sub": sub, "stages": eng.last_round_timings}),
          flush=True)
    spark.stop()


def mode_explain():
    from pompspark.benchgen import build_bench_pages
    from pompspark.frontier import dequeue

    spark = _spark()

    out_dir0 = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "plans", "r06")
    os.makedirs(out_dir0, exist_ok=True)
    tag0 = os.environ.get("PLAN_TAG", "before")
    docs0 = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    gen_df = build_bench_pages(spark, docs0, n_pages=N_PAGES)
    with open(os.path.join(out_dir0, f"bench_gen_pages_{tag0}.txt"), "w") as f:
        f.write(gen_df._sc._jvm.PythonSQLUtils.explainString(
            gen_df._jdf.queryExecution(), "formatted"))

    eng, pages = _setup_engine(spark)
    eng.run_round(BUDGET // 3)
    out_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "plans", "r06")
    os.makedirs(out_dir, exist_ok=True)
    tag = os.environ.get("PLAN_TAG", "before")

    def dump(df, name):
        p = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(p, "w") as f:
            f.write(df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"))
        print(f"  wrote {p}", flush=True)

    r = eng.round + 1
    q = eng.store.queued(current_round=r, retry_delay_rounds=1,
                         retry_enabled=False)
    batch = dequeue(q, eng.robots_df, ordering="bfs",
                    robots_rows=eng.robots_rows, per_round_budget=BUDGET,
                    per_host_budget=5000,
                    n_queued_hint=eng._frontier_rows)
    dump(batch, "bench_dequeue")
    fetched = eng.fetcher.fetch(batch)
    dump(fetched, "bench_fetch_extract")

    # merge plan over the last committed round files
    dirs = eng.cat.snapshot_dirs("fetch_log")
    round_df = spark.read.parquet(dirs[-1])
    from pompspark.engine import round_discoveries

    disc = round_discoveries(round_df)
    from pompspark.frontier import new_frontier_rows

    rows = new_frontier_rows(disc, eng._identity_set(), eng.robots_df,
                             r, robots_rows=eng.robots_rows)
    dump(rows, "bench_links_merge")
    spark.stop()


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else "round"
    {"gen": mode_gen, "gentext": mode_gentext, "round": mode_round,
     "explain": mode_explain}[mode]()
