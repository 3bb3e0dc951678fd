"""The benchmark's three crawl workloads and the inputs they are built from.

Every input is synthetic and made here, in benchmark code, from the
workload's sizes and the run's seed; the program only ever sees the
generated tables. The costly inputs do not depend on the seed and are
cached under the work dir, so neither the timed rounds nor ``setup_s``
pay for them (``gen_s`` reports a run's input preparation, which
includes generating whatever the cache lacked):

- the page corpus (``pompspark.benchgen.build_bench_pages`` over
  synthetic documents), keyed by its size, its body size, its file
  count and a hash of the program files that generate it;
- the deep backlog's base rows, of which the seed picks the files a run
  injects.

The seed picks everything else by hashing each URL with the seed: the
seed URLs, the bulk-seeded share, and the recrawl epoch's churned,
flaky and moved pages. Those are projections over the cached corpus,
so a new seed costs no rewrite.
"""

from __future__ import annotations

import dataclasses
import hashlib
import os
import random
import shutil
import zlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

N_HOSTS = 1000  # benchgen's host universe (robots rules are keyed on it)
WORDS = (
    "crawl frontier fetch parse merge round queue host link page index "
    "bloom filter token batch table scan sort hash join spark arrow "
    "python worker shuffle stage task commit snapshot compact band seed"
).split()


@dataclasses.dataclass(frozen=True)
class Workload:
    name: str
    why: str
    n_pages: int          # page universe
    body_repeat: int      # doc body repeats per page (~300 B each)
    budget: int           # URLs per round
    per_host_budget: int
    warmup_budget: int    # URLs of the one warm-up round
    engine_kw: dict       # CrawlEngine options that define the regime
    n_seed_urls: int = 0        # seed() list length (0: bulk seed)
    bulk_seed_pct: int = 0      # seed_frontier share of the universe
    backlog_files: int = 0      # injected backlog = files x FILE_ROWS rows
    churn_pct: int = 0          # recrawl: pages changed since last epoch
    flaky_pct: int = 0          # recrawl: first fetch answers 503
    redirect_pct: int = 0       # recrawl: pages answering 301
    salt_min_rows: int = 0      # POMPSPARK_SALT_MIN_ROWS for the run (0: default)


# Deep backlog: a seed-independent base of BACKLOG_BASE_FILES files, of
# which a run injects ``backlog_files`` (chosen by the seed). Depths
# 100.. put every backlog row far behind the live BFS bands, on a host
# space (bl*.example) the live crawl never links to.
BACKLOG_FILE_ROWS = 100_000
BACKLOG_BASE_FILES = 48
BACKLOG_BANDS = 8
BACKLOG_HOSTS = 5000

WORKLOADS = {
    w.name: w
    for w in [
        Workload(
            name="crawl_fresh",
            why=(
                "fat ~30 KB pages, many new links, exact seen index, "
                "flat dequeue, no compaction: fetch/extract and an "
                "insert-heavy merge carry the round"
            ),
            n_pages=40_000, body_repeat=100, budget=3000,
            per_host_budget=5000, warmup_budget=500,
            n_seed_urls=500,
            engine_kw=dict(ordering="bfs", compact_every=0),
        ),
        Workload(
            name="deep_backlog",
            why=(
                "thin pages over a 300k-row queued backlog: banded "
                "dequeue with the salt pre-rank, bloom seen filter and "
                "compaction every 3 rounds carry the round"
            ),
            n_pages=20_000, body_repeat=2, budget=3000,
            per_host_budget=5000, warmup_budget=500,
            n_seed_urls=1000,
            backlog_files=3, salt_min_rows=250_000,
            engine_kw=dict(
                ordering="bfs", compact_every=3, banded_dequeue=True,
                use_seen_filter=True, seen_mode="approx",
                use_bucketed_index=False, seen_shards=8,
                seen_capacity_per_shard=100_000, async_compact=False,
            ),
        ),
        Workload(
            name="recrawl_churn",
            why=(
                "revisit epoch: mostly 304s without bodies, merge "
                "mostly rejects known links, retry fold in dequeue, "
                "fixed per-round cost dominates"
            ),
            n_pages=40_000, body_repeat=100, budget=3000,
            per_host_budget=5000, warmup_budget=3000,
            bulk_seed_pct=90,
            churn_pct=10, flaky_pct=3, redirect_pct=2,
            engine_kw=dict(
                ordering="bfs", compact_every=0, max_retries=2,
                retry_delay_rounds=1,
            ),
        ),
    ]
}


def _src_hash(root: str) -> str:
    """Hash of the program files the corpus is made by: a checkout whose
    generator or extractor changed never reuses a stale corpus."""
    h = hashlib.sha256()
    for rel in ("pompspark/benchgen.py", "pompspark/extract.py",
                "pompspark/robots.py"):
        with open(os.path.join(root, rel), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def _cached(path: str, make) -> bool:
    """Run ``make(tmp)`` unless ``path`` exists; publish by rename so an
    interrupted generation never leaves a half corpus behind. Returns
    True when the input had to be made."""
    if os.path.isdir(path):
        return False
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    make(tmp)
    os.replace(tmp, path)
    return True


def _documents(spark: SparkSession, n_docs: int = 200) -> DataFrame:
    """Synthetic webtext: ~300-byte bodies of plain words (the shape of
    the sf documents benchgen was written for)."""
    rng = random.Random(20260101)
    rows = [
        (i, " ".join(rng.choice(WORDS) for _ in range(rng.randint(40, 60))),
         rng.choice(["en", "fr", "de", "es"]))
        for i in range(n_docs)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


@dataclasses.dataclass
class Inputs:
    pages: DataFrame            # what the fetcher serves
    robots: DataFrame
    seed_urls: list | None      # seed() list
    bulk_seeds: DataFrame | None
    validators: DataFrame | None
    backlog_files: list         # parquet files to inject
    made: list                  # names of inputs generated by this run


def prepare(spark: SparkSession, w: Workload, seed: int, cache: str,
            root: str, nproc: int) -> Inputs:
    from pompspark.benchgen import bench_robots, build_bench_pages

    made: list[str] = []
    tag = _src_hash(root)
    # one file per core: the scan is one task per file, and every task
    # that runs Python pays a worker start on this stack
    pages_path = os.path.join(
        cache, f"pages-{w.n_pages}-{w.body_repeat}-{nproc}f-{tag}")
    if _cached(pages_path, lambda p: build_bench_pages(
        spark, _documents(spark), n_pages=w.n_pages, body_repeat=w.body_repeat,
    ).repartition(nproc).write.parquet(p)):
        made.append("pages")
    robots_path = os.path.join(cache, f"robots-{tag}")
    if _cached(robots_path, lambda p: bench_robots(spark, N_HOSTS)
               .coalesce(1).write.parquet(p)):
        made.append("robots")
    pages = spark.read.parquet(pages_path)
    robots = spark.read.parquet(robots_path)

    seed_urls = bulk = validators = None
    if w.n_seed_urls:
        # about every (n_pages / n_seed_urls)-th page, by a seeded hash
        import pyarrow.dataset as ds

        step = max(1, w.n_pages // w.n_seed_urls)
        urls = ds.dataset(pages_path, format="parquet").to_table(
            columns=["url"])["url"].to_pylist()
        seed_urls = sorted(
            u for u in urls if zlib.crc32(f"{seed}:{u}".encode()) % step == 0)
    if w.bulk_seed_pct:
        bulk = pages.select("url").filter(_pct(seed, "bulk") < w.bulk_seed_pct)
    if w.churn_pct:
        # the prior epoch validated every page; churned ones changed
        # after their validator and answer 200, the rest answer 304
        validators = pages.select(
            "url",
            F.when(_pct(seed, "churn") < w.churn_pct,
                   F.col("warc_ts") - F.expr("INTERVAL 1 DAY"))
            .otherwise(F.col("warc_ts")).alias("if_modified_since"),
        )
    if w.flaky_pct or w.redirect_pct:
        pages = with_faults(pages, w, seed)
    backlog: list[str] = []
    if w.backlog_files:
        base = os.path.join(
            cache, f"backlog-{BACKLOG_BASE_FILES}x{BACKLOG_FILE_ROWS}-{tag}")
        if _cached(base, lambda p: _backlog_rows(spark).repartition(
            BACKLOG_BASE_FILES).write.partitionBy("state").parquet(p)):
            made.append("backlog")
        files = sorted(
            os.path.join(base, "state=queued", f)
            for f in os.listdir(os.path.join(base, "state=queued"))
            if f.endswith(".parquet")
        )
        backlog = sorted(random.Random(seed).sample(files, w.backlog_files))
    return Inputs(pages, robots, seed_urls, bulk, validators, backlog, made)


def _pct(seed: int, salt: str):
    """Per-URL uniform draw in [0, 100) from the URL, the run's seed and
    a per-purpose salt: the seed picks each subset, independently."""
    return F.pmod(F.xxhash64("url", F.lit(seed), F.lit(salt)), F.lit(100))


def with_faults(pages: DataFrame, w: Workload, seed: int) -> DataFrame:
    """Seed-chosen flaky pages (first fetch answers 503 with a one-second
    Retry-After) and moved pages (answer 301 to a URL on the same host
    that no longer exists). Applied as a projection over the cached
    corpus, so a new seed costs no corpus rewrite."""
    flaky = _pct(seed, "flaky") < w.flaky_pct
    moved = _pct(seed, "moved") < w.redirect_pct
    return pages.select(
        "*",
        F.when(flaky, F.lit(1)).alias("flaky_fails"),
        F.when(flaky, F.lit(1.0)).alias("retry_after_s"),
        F.when(moved, F.regexp_replace("url", "/p", "/moved/p"))
        .alias("redirect_to"),
    )


def fault_flags(w: Workload, seed: int) -> dict:
    """Column expressions over ``url`` naming the seed's subsets, for
    the correctness checks."""
    return {
        "flaky": _pct(seed, "flaky") < w.flaky_pct,
        "moved": _pct(seed, "moved") < w.redirect_pct,
        "churned": _pct(seed, "churn") < w.churn_pct,
    }


def _backlog_rows(spark: SparkSession) -> DataFrame:
    """FRONTIER-shaped queued rows behind the live crawl: child priority,
    depths 100..100+BANDS, unique seq above any live seq."""
    from pompspark import schemas
    from pompspark.frontier import CHILD_PRIORITY, SALT_N

    n = BACKLOG_BASE_FILES * BACKLOG_FILE_ROWS
    host = F.concat(F.lit("bl"), (F.col("id") % BACKLOG_HOSTS).cast("string"),
                    F.lit(".example"))
    url = F.concat(F.lit("http://"), host, F.lit("/x"), F.col("id").cast("string"))
    band = (F.lit(100) + F.col("id") % BACKLOG_BANDS).cast("int")
    rows = spark.range(n).select(
        url.alias("url"), host.alias("host"), band.alias("depth"), "id"
    ).select(
        "url",
        F.xxhash64("url").alias("url_hash"),
        F.hash("url").alias("url_murmur3"),
        "host",
        "depth",
        F.lit(CHILD_PRIORITY).cast("double").alias("priority"),
        F.lit(0).alias("discovered_round"),
        (F.lit(1 << 44).cast("long") + F.col("id")).alias("seq"),
        F.pmod(F.hash("url"), F.lit(SALT_N)).cast("int").alias("salt"),
        F.lit("queued").alias("state"),
    )
    return rows.select(*[f.name for f in schemas.FRONTIER.fields])


def build_engine(spark: SparkSession, w: Workload, inp: Inputs, state_dir: str):
    """One set-up: inject the backlog (hard links into the state dir,
    then a zero-copy catalog append), construct the engine, seed it.
    Returns (engine, {phase: seconds})."""
    import time

    from pompspark.engine import CrawlEngine
    from pompspark.fetch import SimulatedFetcher

    phases = {}
    t = time.monotonic()
    if inp.backlog_files:
        from pompspark import schemas
        from pompspark.tables import Catalog

        inj = os.path.join(state_dir, "_backlog", "state=queued")
        os.makedirs(inj)
        for f in inp.backlog_files:
            os.link(f, os.path.join(inj, os.path.basename(f)))
        cat = Catalog(spark, state_dir)
        cat.create("frontier", schemas.FRONTIER)
        cat.append_dir("frontier", os.path.dirname(inj))
    phases["inject_s"] = time.monotonic() - t
    t = time.monotonic()
    eng = CrawlEngine(
        spark, state_dir, SimulatedFetcher(inp.pages, validators=inp.validators),
        robots_df=inp.robots, per_round_budget=w.budget,
        per_host_budget=w.per_host_budget, **w.engine_kw,
    )
    phases["engine_s"] = time.monotonic() - t
    t = time.monotonic()
    if inp.seed_urls is not None:
        eng.seed(inp.seed_urls)
    if inp.bulk_seeds is not None:
        eng.seed_frontier(inp.bulk_seeds)
    phases["seed_s"] = time.monotonic() - t
    return eng, phases
