"""The crawl engine: pomp's ``Pomp.pump`` loop as batch DataFrame
rounds (O11).

pomp analog, stage by stage (pomp/core/engine.py Pomp.pump):
    prepare()            -> CrawlEngine.seed() + table creation
    queue.get_requests   -> frontier.dequeue (rank-over-window + budgets)
    process_requests     -> request_middlewares (DataFrame transforms;
                            a middleware FILTERS instead of returning
                            None — SURVEY §2.4.2 drop semantics)
    downloader.get       -> fetcher.fetch (join or mapInPandas batch)
    process_response(s)  -> response_middlewares, reverse order
    process_exception    -> status/error columns; errors never throw
    extract_items        -> the extract pass inside the fetcher
                            (extract.extract_attach_arrow)
    on_parse_result      -> items -> pipelines -> fetch_log append;
                            requests -> link merge -> frontier append
    StopCommand          -> empty dequeue ends the loop
    finish()             -> pipelines' stop hook + final checkpoint

Durability ([A], north rule): after every round the engine appends
metrics (per partition) and a checkpoint row (snapshot version of
every table) — ``resume()`` rolls every table back to the last
committed checkpoint and continues, byte-for-byte identical to an
uninterrupted run (tests/test_resume.py).
"""

from __future__ import annotations

import time
from typing import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pompspark import schemas
from pompspark.canon import register_udfs
from pompspark.fetch import SimulatedFetcher
import pompspark.frontier as frontier_mod
from pompspark.frontier import (
    FRONTIER_COLS,
    S_RANK,
    S_ROUND,
    FrontierStore,
    new_frontier_rows,
    normalize_seeds,
)
from pompspark.tables import Catalog

Transform = Callable[[DataFrame], DataFrame]

TABLES = ["frontier", "frontier_state", "fetch_log", "metrics", "trace", "seen"]

# Frontier rows from which the merge anti-joins read the bucketed
# frontier_index instead of the frontier's own (url_hash, url) columns
# (smallest measured size where the index wins; crossover table in
# SCALE.md item 3). Below it the identity set is small enough that AQE
# broadcasts it anyway, and the index is pure upkeep: a bucketed append
# job per round (write tasks x buckets new files) and one merge scan
# task per index file.
INDEX_MIN_ROWS = 1_000_000

# Buckets of the frontier_index table (FrontierStore index_buckets).
INDEX_BUCKETS = 32

# Cap on a server-supplied Retry-After cool-down, in rounds: a day-long
# header must not park the idle loop for 86k rounds (real crawlers
# clamp to minutes).
MAX_RETRY_DELAY_ROUNDS = 100


def check_speculation_safe(spark, fetcher) -> None:
    """Refuse a paced fetcher on a speculative session.

    spark.speculation is a STATIC core conf — it cannot be toggled per
    job. A paced fetcher sleeps (n-1)*crawl_delay inside its tasks by
    design, so under speculation those legitimately-slow tasks get
    DUPLICATED: the speculative copy re-runs the side-effectful fetch
    and hits the slow host from two slots with < crawl_delay spacing,
    breaking the politeness guarantee. Build the session with
    ``build_spark(speculation=False)`` when the fetcher does real paced
    I/O; the pure-compute bench path (simulated fetch, paced=False)
    keeps speculation on as straggler insurance."""
    if not getattr(fetcher, "paced", False):
        return
    spec = spark.sparkContext.getConf().get("spark.speculation", "false")
    if spec == "true":
        raise ValueError(
            "paced fetcher on a speculative session: build the session "
            "with build_spark(speculation=False) (or spark.speculation="
            "false) when the fetcher does real paced I/O"
        )


def _metrics_rows(round_dir: str, round_: int, n_new: int,
                  wall_ms: int) -> list[dict]:
    """Per-partition lineage metrics from the round files: each data
    file is one write task (= one partition); footers give row counts,
    a two-column pruned read gives ok-bytes. Driver IO is bounded by
    the round batch (<= per_round_budget rows), never the frontier."""
    import glob as _glob
    import os as _os

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from concurrent.futures import ThreadPoolExecutor

    files = sorted(
        _glob.glob(_os.path.join(round_dir, "**", "*.parquet"), recursive=True)
    )

    def _one(f: str) -> tuple[int, int]:
        t = pq.read_table(f, columns=["status", "n_bytes"])
        if t.num_rows == 0:
            return 0, 0
        ok = pc.sum(
            pc.if_else(pc.equal(t["status"], 200), t["n_bytes"], 0)
        ).as_py() or 0
        return t.num_rows, int(ok)

    # pyarrow releases the GIL: thread-pool the per-file reads (hundreds
    # of small files; serial cold reads cost multiple seconds per round)
    with ThreadPoolExecutor(max_workers=8) as pool:
        stats = list(pool.map(_one, files))
    return [
        {
            "round": round_, "partition_id": i,
            "urls_fetched": n, "urls_new": n_new,
            "bytes": ok, "wall_ms": wall_ms,
        }
        for i, (n, ok) in enumerate(stats)
        if n
    ]


def round_discoveries(round_df: DataFrame) -> DataFrame:
    """A round's discoveries as (url, host, depth, fetch_rank, pos) — the
    input of frontier.new_frontier_rows. The fetch's extract pass
    already canonicalized both discovery flows into ``links``
    (extract.extract_response), so this runs on the JVM alone, with no
    Python worker:

    - anchor links of 200 responses, in (fetch_rank, pos) order; an
      href that did not canonicalize is a null at its pos;
    - 3xx Location headers, resolved against the REQUEST url exactly
      like a relative href: a redirect row's links is the one-element
      [resolved Location] (a 3xx has no anchors, so per-parent ordering
      stays well-defined and the global (fetch_rank, pos) order matches
      the oracle).

    depth+1 per hop — redirect chains consume depth like link chains,
    so trap/depth rules bound them and the frontier anti-join (O2)
    terminates redirect cycles."""
    from pompspark.canon import host_col

    is_redir = F.col("status").between(300, 399) & F.col("location").isNotNull()
    return (
        round_df.filter((F.col("status") == 200) | is_redir)
        .select("depth", "fetch_rank",
                F.posexplode("links").alias("pos", "url"))
        .filter(F.col("url").isNotNull())
        .select(
            "url", host_col("url").alias("host"),
            (F.col("depth") + 1).alias("depth"), "fetch_rank", "pos",
        )
        .filter(F.col("host").isNotNull())
    )


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        workdir: str,
        fetcher,
        robots_df: DataFrame | None = None,
        ordering: str = "bfs",
        per_round_budget: int = 1000,
        per_host_budget: int = 10,
        round_seconds: float = 1.0,
        request_middlewares: Sequence[Transform] = (),
        response_middlewares: Sequence[Transform] = (),
        pipelines: Sequence[Transform] = (),
        compact_every: int = 8,
        max_retries: int = 0,
        retry_delay_rounds: int = 1,
        use_seen_filter: bool = False,
        seen_shards: int = 16,
        seen_capacity_per_shard: int = 1_000_000,
        seen_mode: str = "exact",
        use_bucketed_index: bool = True,
        banded_dequeue: bool = False,
        catalog=None,
        frontier_transform: Callable[[DataFrame], DataFrame] | None = None,
        async_compact: bool = False,
    ):
        self.spark = spark
        # ``catalog``: inject an alternative Catalog-surface backend
        # (pompspark.iceberg.IcebergCatalog) — the "config-only swap".
        # Non-dir catalogs lose the parquet-layout fast paths (footer
        # counts, zero-copy trace/state aliasing, band markers) and the
        # engine routes through their snapshot-based equivalents.
        self.cat = catalog if catalog is not None else Catalog(spark, workdir)
        self._dir_layout = getattr(self.cat, "SUPPORTS_DIR_LAYOUT", True)
        self.fetcher = fetcher
        check_speculation_safe(spark, fetcher)
        self.ordering = ordering
        self.per_round_budget = per_round_budget
        self.per_host_budget = per_host_budget
        self.round_seconds = round_seconds
        self.request_middlewares = list(request_middlewares)
        self.response_middlewares = list(response_middlewares)
        self.pipelines = list(pipelines)
        self.compact_every = compact_every
        self.max_retries = max_retries
        self.retry_delay_rounds = retry_delay_rounds
        # whether compaction lays the queued rows out in sort-key-prefix
        # bands; the dequeue reads whatever layout the store has
        # (frontier.dequeue_banded: full scan when there are no bands)
        self.banded_dequeue = banded_dequeue
        # r6 (guide §2.6, r5 verdict composed-mode finding: a 25.3 s
        # synchronous compact inside a 74.7 s round): compaction runs
        # on a background driver thread overlapping the NEXT round's
        # dequeue + fetch, joined before that round's first state-table
        # write. The frontier fold commits in the background (safe for
        # concurrent readers: fold is redundant with the state
        # anti-join); the frontier_state trim is deferred to the main
        # thread at the join point so no reader can pair a pre-fold
        # frontier with a post-trim state table (see
        # FrontierStore.compact docstring). Off by default so that
        # table contents observed right after a run_round() are
        # deterministic (tests, ad-hoc callers): the same routine then
        # runs inline and is joined at once (``_compact``). The
        # composed-scale configuration (bench/deep_frontier.py) turns
        # it on, and run() always joins the thread before returning.
        self.async_compact = async_compact
        self._compact_thread = None
        self._compact_error: BaseException | None = None
        self._compact_finish: Callable[[], None] | None = None
        # tier-crawl seam (graph.tier_priority_transform): every batch
        # of FRONTIER rows (seeds + merged discoveries) passes through
        # the transform before it is committed, so a host-authority
        # re-prioritization composes with dequeue order without the
        # dequeue knowing about it. Schema is re-pinned after the call.
        self.frontier_transform = frontier_transform

        # the approximate merge never reads the identity set, so it
        # never builds or maintains the bucketed index
        self.store = FrontierStore(
            self.cat, index_buckets=INDEX_BUCKETS,
            use_index=use_bucketed_index and seen_mode == "exact",
        )
        # running frontier row count (footer-derived at init, then
        # maintained from append deltas — zero extra Spark jobs): the
        # dequeue's scale-adaptive salt pre-rank gate (frontier.py
        # SALT_PRERANK_MIN_ROWS) needs an upper bound on queued rows.
        self._frontier_rows = (
            self.cat.row_count("frontier") if self.cat.exists("frontier") else 0
        )
        self.cat.create("fetch_log", schemas.FETCH_LOG)
        self.cat.create("metrics", schemas.METRICS)
        self.cat.create("checkpoint", schemas.CHECKPOINT)
        self.cat.create("trace", schemas.TRACE)
        self.cat.create("robots_cache", schemas.ROBOTS_CACHE)
        if self.cat.current_version("robots_cache") == 1 and robots_df is not None:
            self.cat.append("robots_cache", robots_df)
        # Rules are served FROM the durable robots_cache table, not a
        # driver-pinned DataFrame: resume gets the cache back for free,
        # and the footer row count (zero Spark jobs) picks the join
        # strategy in with_robots — broadcast whole while small,
        # active-host-pruned semi-join past the gate (SCALE.md).
        self._reload_robots()

        self.seen_filter = None
        if seen_mode not in ("exact", "approx"):
            raise ValueError(f"seen_mode must be exact|approx, got {seen_mode!r}")
        self.seen_mode = seen_mode
        if use_seen_filter:
            from pompspark.seen import SeenFilter

            self.seen_filter = SeenFilter(
                self.cat, n_shards=seen_shards,
                capacity_per_shard=seen_capacity_per_shard,
            )
        elif seen_mode == "approx":
            raise ValueError("seen_mode='approx' requires use_seen_filter=True")

        self.round = 0
        self.urls_fetched_total = 0

    # ------------------------------------------------------------ lifecycle
    def _transform_frontier(self, rows: DataFrame) -> DataFrame:
        if self.frontier_transform is None:
            return rows
        out = self.frontier_transform(rows)
        # re-pin the FRONTIER contract: exact column set/order, and
        # priority back to double (a transform returning ints must not
        # change the table schema)
        return out.select(
            *[
                F.col(c).cast("double").alias(c) if c == "priority" else F.col(c)
                for c in FRONTIER_COLS
            ]
        )

    def _join_compact(self) -> None:
        """Wait for a background compaction (if any), surface its
        error, and apply the deferred frontier_state trim on THIS
        thread. Must be called before any frontier / frontier_state /
        seen write, before a checkpoint (a checkpoint must never
        snapshot a half-committed compaction pair), and before
        resume/rollback."""
        t = self._compact_thread
        if t is not None:
            t.join()
            self._compact_thread = None
        err, fin = self._compact_error, self._compact_finish
        self._compact_error = self._compact_finish = None
        if err is not None:
            raise err
        if fin is not None:
            fin()

    def _compact(self, band_col) -> None:
        """The one compaction routine: fold the frontier (state trim
        deferred) and compact the seen filter — on a background thread
        with ``async_compact``, else inline and joined at once."""
        self._join_compact()  # at most one in flight
        store, seen = self.store, self.seen_filter

        def _run() -> None:
            try:
                self._compact_finish = store.compact(
                    band_col=band_col, defer_state_trim=True
                )
                if seen is not None:
                    seen.compact()
            except BaseException as e:  # surfaced at the join
                self._compact_error = e

        if not self.async_compact:
            _run()
            self._join_compact()
            return
        try:
            from pyspark import InheritableThread as _T
        except ImportError:  # pragma: no cover
            from threading import Thread as _T
        t = _T(target=_run, daemon=True)
        t.start()
        self._compact_thread = t

    def seed(self, seeds: list) -> int:
        self._join_compact()
        rows = normalize_seeds(self.spark, seeds, self.robots_df, round_=0,
                               robots_rows=self.robots_rows)
        rows = self._transform_frontier(rows)
        _n, seeded = self.store.append_delta(rows)
        self._frontier_rows += _n
        self._track_identity(seeded)
        self._checkpoint(budget_left=0)
        return self.cat.current_version("frontier")

    def seed_frontier(self, urls: DataFrame, priority: float | None = None,
                      url_col: str = "url") -> int:
        """Bulk-seed from a DataFrame — the sitemap-scale entry point
        (pompspark.sitemap: one host's sitemap index can carry 10^9
        locs, which must never pass through a driver-side list the way
        seed() seeds do).

        Same canonicalization as seed() (JVM rlike gate, the pandas
        UDF sees only the non-canonical minority), exact
        anti-join against the frontier identity set (``_identity_set``),
        robots gating,
        and the frontier_transform hook. ``seq`` is xxhash64(url):
        bulk seeds have no meaningful list order, so within the seed
        priority class the dequeue order is deterministic HASH order
        (an xxhash64 tie would make the tied pair's relative order
        partition-dependent; at 10^8 seeds expect ~0.0003 ties).
        Returns the number of rows actually enqueued.
        """
        from pompspark.canon import CANONICAL_PATTERN
        from pompspark.frontier import (
            SEED_PRIORITY,
            _anti_join_existing,
            _identity_cols,
            _state_col,
        )
        from pompspark.robots import with_robots

        pri = SEED_PRIORITY if priority is None else float(priority)
        self._join_compact()
        canon_udf, _, host_udf = register_udfs()
        # stop the optimizer duplicating the UDFs below the pushed
        # isNotNull filters (guide §4.4; same fix as resolve_discoveries)
        canon_udf = canon_udf.asNondeterministic()
        host_udf = host_udf.asNondeterministic()
        is_fast = F.col(url_col).rlike(CANONICAL_PATTERN)
        slow = F.when(is_fast, F.lit(None).cast("string")).otherwise(F.col(url_col))
        canon = F.coalesce(F.when(is_fast, F.col(url_col)), canon_udf(slow))
        d = (
            urls.select(canon.alias("url"), is_fast.alias("__fast"))
            .filter(F.col("url").isNotNull())
            .select(
                "url",
                F.when(
                    F.col("__fast"),
                    F.regexp_extract("url", r"^https?://([^/]+)", 1),
                ).otherwise(
                    host_udf(
                        F.when(F.col("__fast"), F.lit(None).cast("string"))
                        .otherwise(F.col("url"))
                    )
                ).alias("host"),
            )
            .filter(F.col("host").isNotNull())
            .dropDuplicates(["url"])
            .withColumn("url_hash", F.xxhash64("url"))
        )
        fresh = _anti_join_existing(d, self._identity_set())
        fresh = with_robots(fresh, self.robots_df, robots_rows=self.robots_rows)
        rows = fresh.select(
            "url", *_identity_cols(F.col("url"))[:2], "host",
            F.lit(0).cast("int").alias("depth"),
            F.lit(pri).cast("double").alias("priority"),
            F.lit(self.round).cast("int").alias("discovered_round"),
            F.xxhash64("url").alias("seq"),
            _identity_cols(F.col("url"))[2],
            _state_col(self.robots_df).alias("state"),
        ).select(*FRONTIER_COLS)
        rows = self._transform_frontier(rows)
        n_new, seeded = self.store.append_delta(rows)
        self._frontier_rows += n_new
        self._track_identity(seeded)
        self._checkpoint(budget_left=0)
        return n_new

    def _identity_set(self) -> DataFrame:
        """The merge anti-joins' identity set, picked from
        ``_frontier_rows``: below INDEX_MIN_ROWS the frontier's own
        pruned (url_hash, url) columns; from there on the bucketed
        frontier_index, which the first such call builds from the
        frontier and ``_track_identity`` keeps current from then on."""
        store = self.store
        if store.use_index and (
            store.index_ready or self._frontier_rows >= INDEX_MIN_ROWS
        ):
            return store.identity_rows()
        return store.all_rows().select("url_hash", "url")

    def _track_identity(self, added: DataFrame | None) -> None:
        """Follow a frontier append (``added``: its rows, None when
        empty) in the derived identity structures: the bucketed index
        while it is maintained (its marker follows the frontier version
        even when nothing was added) and the seen filter."""
        store = self.store
        if store.index_ready:
            if added is not None:
                store.index_append(added)
            else:
                store._write_marker()
        if added is not None and self.seen_filter is not None:
            self.seen_filter.add(added.select("url_hash"))

    def _checkpoint(self, budget_left: int) -> None:
        # driver-side pyarrow commit (Catalog.append_rows): a 1-row
        # Spark write per round is pure serial overhead.
        snap = self.cat.snapshot_ids(TABLES)
        self.cat.append_rows("checkpoint", [{
            "round": self.round,
            "snapshot_ids": list(snap.items()),
            "budget_left": budget_left,
        }])

    def resume(self) -> int:
        """Roll every state table back to the last committed checkpoint
        (exact resume after a mid-round crash) and restore the round
        counter. Returns the restored round."""
        self._join_compact()
        cp = (
            self.cat.read("checkpoint")
            .orderBy(F.col("round").desc())
            .limit(1)
            .collect()
        )
        if not cp:
            raise RuntimeError("no checkpoint to resume from")
        row = cp[0]
        for t, v in row.snapshot_ids.items():
            self.cat.rollback(t, v)
        self.round = row.round
        self._frontier_rows = self.cat.row_count("frontier")
        if self.store.use_index:
            # the bucketed merge index may be a SUPERSET of the rolled-
            # back frontier (appends after the checkpoint) — a stale
            # entry would suppress a url the resumed crawl must
            # re-discover. Derived state: rebuild it from the frontier
            # where the merge reads it, else drop its marker so the
            # first round past the gate rebuilds it.
            if self._frontier_rows >= INDEX_MIN_ROWS:
                self.store.index_rebuild()
            else:
                self.store.index_invalidate()
        return self.round

    def refresh_robots(self, transport, now=None, ttl_s: float = 86400.0) -> None:
        """Expire + refetch robots entries older than ttl_s (robots.py
        refresh_robots_cache); persists the refreshed cache and swaps
        the live robots_df so the NEXT dequeue/merge sees new rules."""
        import datetime as _dt

        from pompspark.robots import refresh_robots_cache

        now = now or _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None)
        updated = refresh_robots_cache(self.robots_df, transport, now, ttl_s)
        if updated is not self.robots_df:
            self.cat.overwrite("robots_cache", updated)
            self._reload_robots()

    def _reload_robots(self) -> None:
        self.robots_df = self.cat.read("robots_cache")
        self.robots_rows = self.cat.row_count("robots_cache")

    # ------------------------------------------------------------ the loop
    def run(self, max_rounds: int | None = None, total_budget: int | None = None):
        """pump: rounds until the frontier is empty (pomp StopCommand)
        or budgets run out."""
        budget = total_budget if total_budget is not None else (1 << 62)
        idle = 0
        while budget > 0 and (max_rounds is None or self.round < max_rounds):
            fetched = self.run_round(min(budget, self.per_round_budget))
            if fetched == 0:
                if self.max_retries and self._has_pending_retries():
                    idle += 1
                    # per-url Retry-After cool-downs can exceed the
                    # global default — bound idling by the LONGEST
                    # pending cool-down, not just retry_delay_rounds
                    if idle > max(self.retry_delay_rounds,
                                  self._max_pending_retry_delay()):
                        # every pending retry's cool-down elapsed during
                        # the idle run and a fully-eligible round STILL
                        # fetched nothing — the retries are permanently
                        # undequeueable (e.g. refresh_robots() now
                        # disallows their hosts). Unbounded idling here
                        # would spin forever appending checkpoint rows
                        # (r2 advice).
                        break
                    # only cooling-down retries left: advance the round
                    # clock (their eligibility is round-based) and keep
                    # pumping — mirrors the oracle's idle round.
                    self.round += 1
                    self._join_compact()
                    self._checkpoint(budget_left=0)
                    continue
                break
            idle = 0
            budget -= fetched
        self._join_compact()
        return self.cat.read("trace")

    def _has_pending_retries(self) -> bool:
        t = self.cat.read("frontier_state")
        latest = t.groupBy("url_hash", "url").agg(
            F.max_by("state", "round").alias("s")
        )
        return bool(latest.filter(F.col("s") == "retry").limit(1).count())

    def _max_pending_retry_delay(self) -> int:
        """Longest per-url Retry-After cool-down (rounds) among urls
        whose LATEST state is retry; 0 if none carry one. Only called
        on the rare all-idle path — one aggregate over the (small,
        between-compactions) transition table."""
        t = self.cat.read("frontier_state")
        row = t.groupBy("url_hash", "url").agg(
            F.max_by("state", "round").alias("s"),
            F.max_by("retry_delay", "round").alias("d"),
        ).filter(F.col("s") == "retry").agg(F.max("d").alias("m")).head()
        return int(row.m or 0)

    def run_round(self, round_budget: int | None = None) -> int:
        """One round: dequeue -> fetch/extract -> sinks -> merge.
        Returns the number of urls fetched (0 = frontier exhausted).

        One Python pass per round: the fetcher's extract pass returns
        ``links`` as canonical children (extract.extract_response —
        canonicalized against the page url, None where an href does not
        canonicalize; a 3xx carries its resolved Location), and the
        merge reads them with a JVM host expression (canon.host_col).

        Fetcher column contract (both fetchers in pompspark.fetch emit
        it; a custom fetcher must too — nothing is backfilled): the
        batch's ``url``, ``url_hash``, ``host``, ``depth``,
        ``fetch_rank`` and ``attempt`` columns, plus ``status`` (int),
        ``warc_ts``, ``text`` (null off the 200 path), ``links``
        (canonical children as above), ``n_bytes``, ``error``,
        ``location`` (raw 3xx Location header or null) and
        ``retry_after`` (5xx Retry-After seconds as double, or null).

        The dequeue is frontier.dequeue_banded: it reads the store's
        band layout when compaction left one (``banded_dequeue``) and
        scans the whole queued frontier otherwise.

        Driver-job budget (the N->4N scaling term — every serial driver
        second divides throughput at BOTH cluster sizes but can't be
        parallelized away, so it caps efficiency): exactly TWO Spark
        actions per round on the no-middleware path — the dequeue
        materialization (count doubles as the cache fill the fetch
        broadcast reads from) and the round write; the merge write is
        the third. Below INDEX_MIN_ROWS frontier rows that is all (the
        merge anti-join reads the frontier's own columns); from there on
        the bucketed index append is a fourth, plus an index rewrite
        whenever it passes FrontierStore.INDEX_FILES_PER_BUCKET files
        per bucket, and the first indexed round builds the index from
        the frontier. Row counts come from committed parquet FOOTERS
        (tables.dir_row_count — the Iceberg manifest-count analog) and
        metrics/checkpoint rows are pyarrow driver commits
        (Catalog.append_rows), not Spark jobs."""
        r = self.round + 1
        t0 = time.monotonic()
        timings: dict[str, float] = {}
        _last = [t0]

        def lap(stage: str) -> None:
            now = time.monotonic()
            timings[stage] = round(now - _last[0], 3)
            _last[0] = now

        self.last_round_timings = timings

        raw, n_dequeued, self.last_bands_read = frontier_mod.dequeue_banded(
            self.store, self.robots_df, ordering=self.ordering,
            robots_rows=self.robots_rows,
            n_queued_hint=self._frontier_rows,
            per_round_budget=round_budget or self.per_round_budget,
            per_host_budget=self.per_host_budget,
            round_seconds=self.round_seconds,
            current_round=r,
            retry_delay_rounds=self.retry_delay_rounds,
            retry_enabled=self.max_retries > 0,
        )
        lap("dequeue")
        if n_dequeued == 0:
            raw.unpersist()
            return 0

        batch = raw
        for mw in self.request_middlewares:  # pomp process_request order
            batch = mw(batch)
        if self.request_middlewares:
            # pomp drop semantics: a request dropped by middleware
            # (process_request -> None) is consumed, not re-queued —
            # mark it so the next dequeue never sees it again.
            kept = batch.select("url_hash", F.col("url").alias("__k_url"))
            dropped = raw.join(
                kept,
                (raw["url_hash"] == kept["url_hash"])
                & (raw["url"] == kept["__k_url"]),
                "left_anti",
            )
            self._join_compact()
            self.store.mark(dropped, F.lit("dropped"), r)
            batch = batch.persist()
            n_batch = batch.count()
            if n_batch == 0:
                # everything dropped: the queue still advanced — record
                # the round and keep pumping (pomp keeps looping on a
                # nonempty queue even when middlewares drop a batch).
                batch.unpersist()
                raw.unpersist()
                self.round = r
                self._checkpoint(budget_left=0)
                return n_dequeued

        fetch_in = batch
        if getattr(self.fetcher, "paced", False):
            # real-HTTP politeness pacing (north rule: per-host delay
            # enforcement): attach slot_s so the fetcher's Arrow tasks
            # space each host's fetches crawl_delay apart. The dequeue
            # CAP bounded how many a host contributes; the slot schedule
            # is WHEN within the round each may fire. Simulated fetch
            # skips this (no wall clock in tests/bench). ``batch`` keeps
            # naming the persisted frame (unpersisted below).
            from pompspark.politeness import schedule_slots
            from pompspark.robots import with_robots

            fetch_in = schedule_slots(
                with_robots(batch, self.robots_df,
                            robots_rows=self.robots_rows)
            ).drop("crawl_delay", "disallow", "allow", "disallowed")
        fetched = self.fetcher.fetch(fetch_in)
        for mw in reversed(self.response_middlewares):  # pomp reverse order
            fetched = mw(fetched)

        # ONE materialization per round: the fetch/extract output is
        # written exactly once — as the fetch_log data files, with the
        # engine's working columns (links, rank, ...) alongside the
        # declared FETCH_LOG columns (reads prune to the schema). Every
        # later stage re-reads the files column-pruned: the trace reads
        # no text, the link merge reads only links+rank, metrics only
        # counters. No multi-GB round cache, no recomputed extract.
        round_out = fetched.select(
            "url", F.lit(r).alias("round"), "status", "warc_ts", "text",
            # anchor count of a 200 (a 3xx's links hold its Location)
            F.when(F.col("status") == 200, F.size("links"))
            .otherwise(0).alias("n_links"), "error",
            # working columns (pruned away by fetch_log reads). seq and
            # state are precomputed so the trace and frontier_state
            # tables can ALIAS these files zero-copy (append_dir):
            "url_hash", "host", "depth", "fetch_rank", "links", "n_bytes",
            "location",
            # same field widths as frontier seq packing (frontier.S_*):
            # rank < 2^24 is enforced by dequeue's budget guard.
            (
                F.lit(r).cast("long") * F.lit(S_ROUND)
                + F.col("fetch_rank") * F.lit(S_RANK)
            ).alias("seq"),
            # transient (5xx) failures below the retry cap park as
            # 'retry' — queued() re-admits them after the cool-down
            # with the ORIGINAL (priority, depth, seq); anything else
            # non-200 (404, exhausted retries) is terminal 'error'.
            # 304 Not Modified (conditional re-crawl) is a completed
            # visit: terminal like 200, but text stays null and the
            # discovery flow (status==200) never sees it.
            F.when(F.col("status").isin(200, 304), F.lit("fetched"))
            # 3xx with a Location header is TERMINAL for this url —
            # the target is enqueued below as a discovery (depth+1,
            # so max-depth/trap rules bound redirect chains and the
            # frontier dedup kills redirect cycles). 3xx without a
            # Location falls through to 'error'.
            .when(
                F.col("status").between(300, 399)
                & F.col("location").isNotNull(),
                F.lit("redirect"),
            )
            .when(
                (F.col("status") >= 500)
                & (F.col("attempt") + 1 <= F.lit(self.max_retries)),
                F.lit("retry"),
            )
            .otherwise(F.lit("error")).alias("state"),
            (F.col("attempt") + 1).cast("int").alias("attempt"),
            # a 5xx Retry-After header (seconds) overrides the global
            # retry_delay_rounds for THIS url's cool-down: rounds =
            # ceil(seconds / round_seconds), consulted by queued().
            # Clamped: a hostile 'Retry-After: 86400' must not make the
            # idle loop spin 86k empty rounds (the clamp also kills the
            # long->int wrap an absurd header value would cause). A
            # header that is not a positive number (negative, zero,
            # NaN) is treated as absent: retry_delay_rounds applies.
            F.when(
                (F.col("status") >= 500) & (F.col("retry_after") > 0)
                & ~F.isnan("retry_after"),
                F.least(
                    F.ceil(F.col("retry_after")
                           / F.lit(float(self.round_seconds))),
                    F.lit(MAX_RETRY_DELAY_ROUNDS),
                ),
            ).cast("int").alias("retry_delay"),
        )
        if self.pipelines or not self._dir_layout:
            # pipelines may transform/filter ITEMS only — the crawl
            # (trace/state/links) must see the unfiltered batch, so
            # write the round output to scratch first, then run the
            # pipeline chain into fetch_log (pomp: pipe.process(None)
            # stops an item, never the crawl). Non-dir catalogs take
            # this materialize-first path too: they cannot alias one
            # data dir under several tables, so the round is staged
            # once and each table gets a pruned append.
            if self._dir_layout:
                import os as _os

                scratch = _os.path.join(self.cat.root, "_rounds", f"r{r:06d}")
                round_out.write.mode("overwrite").parquet(scratch)
                round_df = self.spark.read.parquet(scratch)
                round_files = scratch
                if not self.request_middlewares:
                    n_batch = None  # resolved from footers below
            else:
                if not self.cat.exists("round_scratch"):
                    self.cat.create("round_scratch", round_out.schema)
                elif hasattr(self.cat, "evolve_schema"):
                    # resumed pre-upgrade catalog: widen the stored
                    # scratch schema for newer working columns
                    self.cat.evolve_schema("round_scratch", round_out.schema)
                v = self.cat.overwrite("round_scratch", round_out)
                round_df = self.cat.read("round_scratch")
                round_files = None
                if not self.request_middlewares:
                    n_batch = self.cat.row_count("round_scratch", v)
            items = round_df
            for pipe in self.pipelines:
                items = pipe(items)
            self.cat.append(
                "fetch_log",
                items.select(
                    "url", "round", "status", "warc_ts", "text", "n_links", "error",
                ),
            )
        else:
            _v, data_dir = self.cat.append_with(
                "fetch_log",
                lambda p: round_out.write.parquet(p),
            )
            round_df = self.spark.read.parquet(data_dir)
            round_files = data_dir
            n_batch = None  # resolved from footers below
        lap("fetch_extract_log")
        if n_batch is None:
            from pompspark.tables import dir_row_count

            n_batch = dir_row_count(round_files)
        batch.unpersist()
        raw.unpersist()

        self._join_compact()
        if self.pipelines or not self._dir_layout:
            # pipeline / non-dir path: trace/state written explicitly
            # from the staged round (pipelines must not affect the
            # crawl; non-dir catalogs cannot dir-alias)
            self.cat.append(
                "trace",
                round_df.select("seq", "round", "url", "depth", "host"),
            )
            lap("trace_append")
            self.cat.append(
                "frontier_state",
                round_df.select("url_hash", "url", "state", "round",
                                "attempt", "retry_delay"),
            )
            lap("mark_state")
        else:
            # zero-copy: trace and frontier_state alias the round files
            # (column-pruned reads); no extra write jobs per round.
            self.cat.append_dir("trace", round_files)
            self.cat.append_dir("frontier_state", round_files)
            lap("trace_state_alias")

        # metrics file-reads (driver pyarrow IO, occasionally several
        # seconds when contending with the round files' writeback)
        # overlap the merge job below — the driver thread is otherwise
        # parked in py4j waiting on executors. urls_new is patched in
        # after the merge commits.
        import threading

        metrics_box: dict = {}

        def _collect_metrics():
            if round_files is not None:
                metrics_box["rows"] = _metrics_rows(round_files, r, 0, 0)
            else:
                # non-dir catalog: no footers to read; one summary row
                # from an aggregation job over the staged round (the
                # per-partition lineage granularity is a dir-layout
                # nicety, not part of the metrics contract)
                agg = round_df.agg(
                    F.count("*").alias("n"),
                    F.sum(F.when(F.col("status") == 200,
                                 F.col("n_bytes")).otherwise(0)).alias("b"),
                ).head()
                metrics_box["rows"] = [{
                    "round": r, "partition_id": 0,
                    "urls_fetched": int(agg.n), "urls_new": 0,
                    "bytes": int(agg.b or 0), "wall_ms": 0,
                }] if agg.n else []

        metrics_thread = threading.Thread(target=_collect_metrics)
        metrics_thread.start()

        # discoveries -> dedup -> anti-join -> merge (O9/O2)
        disc = round_discoveries(round_df)
        new_rows = new_frontier_rows(
            disc, self._identity_set(), self.robots_df, r,
            seen_filter=self.seen_filter, robots_rows=self.robots_rows,
            seen_exact=self.seen_mode == "exact",
        )
        new_rows = self._transform_frontier(new_rows)
        # the append IS the materialization: n_new comes from commit
        # METADATA (parquet footers / Iceberg snapshot summary), not a
        # separate .count() action.
        n_new, new_back = self.store.append_delta(new_rows)
        self._frontier_rows += n_new
        lap("links_merge")
        self._track_identity(new_back)
        if n_new and self.seen_filter is not None:
            # bound delta accrual independently of compact_every:
            # broadcast-path membership is O(delta dirs) per round
            self.seen_filter.maybe_compact()
        lap("index_upkeep")

        # metrics: per-partition lineage rows ([A] north rule), derived
        # from the round files' footers + two pruned columns on the
        # driver — the Iceberg manifest-stats analog, zero Spark jobs
        # (a per-round metrics aggregation job cost ~0.9 s of serial
        # driver time, measured round-over-round). The file reads ran
        # concurrently with the merge job; finalize and commit.
        metrics_thread.join()
        wall = int((time.monotonic() - t0) * 1000)
        rows = metrics_box.get("rows") or []
        for row in rows:
            row["urls_new"] = n_new
            row["wall_ms"] = wall
        self.cat.append_rows("metrics", rows)
        lap("append_metrics")

        self.round = r
        self.urls_fetched_total += n_batch
        self._checkpoint(budget_left=0)
        lap("checkpoint")
        if self.compact_every and r % self.compact_every == 0:
            from pompspark.frontier import BAND_COL

            band = BAND_COL[self.ordering] if self.banded_dequeue else None
            # async: overlaps the next round's dequeue + fetch; the
            # deferred state trim lands at that round's _join_compact
            # (guide §2.6 back-fill pattern)
            self._compact(band)
            lap("compact_submit" if self.async_compact else "compact")
        return n_dequeued

    # ------------------------------------------------------------ outputs
    def trace(self) -> DataFrame:
        return self.cat.read("trace").orderBy("seq")

    def fetch_log(self) -> DataFrame:
        return self.cat.read("fetch_log")

    def link_edges(self) -> DataFrame:
        """(host, links[]) rows of successful fetches — the input of
        graph.host_rank_from_fetch_log's tier-crawl loop. ``links`` are
        the canonical children written by the fetch's extract pass
        (None where an href did not canonicalize). Dir layout
        only: the working columns ride in the round files next to the
        declared FETCH_LOG schema (run_round's single materialization)
        and fetch_log() schema-projects them away; this reads them back
        without a second copy ever being written. Files that predate
        the working columns (the empty-table seed) read as nulls and
        are filtered."""
        if not self._dir_layout:
            raise NotImplementedError(
                "link_edges() requires the dir-layout catalog; non-dir "
                "catalogs persist only the declared FETCH_LOG columns — "
                "log (host, links) through a pipeline there instead"
            )
        dirs = self.cat.snapshot_dirs("fetch_log")
        empty = self.spark.createDataFrame(
            [], "host string, links array<string>"
        )
        if not dirs:
            return empty
        return (
            self.spark.read.schema(
                "status int, host string, links array<string>"
            )
            .parquet(*dirs)
            .filter(
                (F.col("status") == 200)
                & F.col("host").isNotNull()
                & F.col("links").isNotNull()
            )
            .select("host", "links")
        )

    def metrics(self) -> DataFrame:
        return self.cat.read("metrics")


def simulated_engine(spark, workdir, pages_df, **kw) -> CrawlEngine:
    return CrawlEngine(spark, workdir, SimulatedFetcher(pages_df), **kw)
