"""Frontier operators: seed (O1), merge (O2), dequeue (O3).

pomp analog: the engine queue — ``BaseQueue.put_requests/get_requests``
(pomp/core/base.py) and the default in-memory ``SimpleQueue``
(pomp/core/engine.py). LIFO (depth-first) is pomp's default; FIFO via
``breadth_first=True``. Here the queue is the ``frontier`` table and
dequeue is rank-over-window per host + global top-k.

Scale design (10^10-URL frontier):
- the frontier is append-only; state transitions are appended to a slim
  ``frontier_state`` side table and folded in by periodic compaction,
  so a round writes O(batch) not O(frontier) (Iceberg MERGE analog).
- data dirs are partitioned by ``state`` → a dequeue scans only
  ``state=queued`` files (partition pruning).
- hot-host skew: explicit ``salt = pmod(murmur3, SALT_N)`` column; the
  dequeue ranks per (host, salt) first — 10^8 urls of one host spread
  over SALT_N window partitions — then re-ranks the tiny survivor set
  per host. Exact: the true top-k per host is a subset of the per-salt
  top-k union.
- global top-k is ``ORDER BY ... LIMIT`` → Spark's TakeOrderedAndProject
  (per-partition heap + driver merge), never a full sort shuffle.
- ``seq`` (discovery order, the queue tie-breaker) is assigned
  WITHOUT a global row_number: ``seq = round<<45 | fetch_rank<<21 | pos``
  is deterministic, collision-free (budget < 2^24 ranks — enforced in
  dequeue(); outdegree < 2^21 links per page — enforced in
  new_frontier_rows()), and order-isomorphic to a global counter — so
  traces match the oracle while seq assignment stays embarrassingly
  parallel. Field widths cover the advertised crawl scale: 2^24 =
  16.7M-url round budgets (the parallel top-k path's territory),
  2^21 = 2M outlinks/page, rounds < 2^18 (262k; round 2^18 itself
  would overflow signed int64 — enforced in new_frontier_rows()).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pompspark import schemas
from pompspark.canon import register_udfs
from pompspark.robots import politeness_cap_col, with_robots
from pompspark.tables import Catalog

SALT_N = 16
S_ROUND = 1 << 45
S_RANK = 1 << 21
MAX_RANK = S_ROUND // S_RANK  # 2^24 ranks per round
MAX_POS = S_RANK              # 2^21 outlinks per page
MAX_ROUND = 1 << 18           # round*S_ROUND must stay below 2^63

CHILD_PRIORITY = 0.5  # pinned contract — see tests/oracle_sim.py
SEED_PRIORITY = 1.0

FRONTIER_COLS = [f.name for f in schemas.FRONTIER.fields]


def sort_keys(ordering: str):
    """bfs = FIFO within a priority class; dfs = strict LIFO.
    pomp cite: Pomp(breadth_first=...) flag, pomp/core/engine.py."""
    if ordering == "bfs":
        return [F.col("priority").desc(), F.col("depth").asc(), F.col("seq").asc()]
    if ordering == "dfs":
        return [F.col("priority").desc(), F.col("seq").desc()]
    raise ValueError(f"ordering must be bfs|dfs, got {ordering!r}")


def _identity_cols(url_col):
    return [
        F.xxhash64(url_col).alias("url_hash"),
        F.hash(url_col).alias("url_murmur3"),
        F.pmod(F.hash(url_col), F.lit(SALT_N)).cast("int").alias("salt"),
    ]


def _state_col(robots_df):
    return F.when(F.col("disallowed"), F.lit("excluded")).otherwise(F.lit("queued"))


def normalize_seeds(spark, seeds, robots_df, round_: int = 0,
                    robots_rows: int | None = None) -> DataFrame:
    """seeds: list[str | (url, priority)] -> FRONTIER-shaped rows.
    pomp analog: ENTRY_REQUESTS consumed at pump start
    (pomp/core/base.py BaseCrawler.ENTRY_REQUESTS -> Pomp.prepare)."""
    import pandas as pd

    rows = []
    for i, s in enumerate(seeds):
        url, pri = (s, SEED_PRIORITY) if isinstance(s, str) else s
        rows.append({"url": url, "priority": float(pri), "seed_idx": i})
    pdf = pd.DataFrame(rows, columns=["url", "priority", "seed_idx"])
    raw = spark.createDataFrame(pdf)

    canon_udf, _, host_udf = register_udfs()
    # nondeterministic marking stops the optimizer duplicating the
    # UDFs below the pushed isNotNull filters (guide §4.4; same fix as
    # canon.resolve_discoveries — pure functions, results unchanged)
    canon_udf = canon_udf.asNondeterministic()
    host_udf = host_udf.asNondeterministic()
    df = (
        raw.withColumn("url", canon_udf("url"))
        .filter(F.col("url").isNotNull())
        .withColumn("host", host_udf("url"))
        .filter(F.col("host").isNotNull())
    )
    # first occurrence wins (seed lists are small: global windows are fine)
    w_dup = Window.partitionBy("url").orderBy("seed_idx")
    w_seq = Window.orderBy("seed_idx")
    df = (
        df.withColumn("rn", F.row_number().over(w_dup))
        .filter(F.col("rn") == 1)
        .withColumn("seq", (F.row_number().over(w_seq) - 1).cast("long"))
    )
    df = with_robots(df, robots_df, robots_rows=robots_rows)
    return df.select(
        "url", *_identity_cols(F.col("url"))[:2], "host",
        F.lit(0).alias("depth"), "priority",
        F.lit(round_).alias("discovered_round"), "seq",
        _identity_cols(F.col("url"))[2],
        _state_col(robots_df).alias("state"),
    ).select(*FRONTIER_COLS)


def exact_ranked_topk(df: DataFrame, keys, k: int, partitions: int | None = None) -> DataFrame:
    """Exact global top-k WITH dense 0-based rank, fully parallel.

    ORDER BY + LIMIT k plans as TakeOrderedAndProject: fine for small
    k, but its driver-side merge of per-partition heaps (and the
    single-partition row_number window for the rank) serializes at
    k ~ 10^5-10^7 — the crawl-scale budgets (measured: an 80k budget
    over 32 partitions made the driver merge 2.5M rows and blew a
    round's dequeue to 30+ s). This is the classic parallel top-k,
    kept ENTIRELY JVM-side:

      1. range-partition by the sort keys (order-preserving across
         partition ids) + sort within partitions,
      2. assign ``monotonically_increasing_id`` AFTER the sort — it is
         partitionId<<33 | local-row-index, so it encodes the exact
         per-partition order without any window or Python hop,
      3. per-partition counts -> driver prefix sums (P integers, the
         only driver data),
      4. rank = offset[pid] + local index via a literal-map lookup;
         filter rank < k.

    Exact and deterministic for a total-order key (ours ends in the
    unique seq). Two jobs (count materializes the cached sort, final
    pass reads it back), no driver merges, no python workers.
    """
    spark = df.sparkSession
    p = partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    # persist the INPUT too: the range partitioner runs a sampling pass
    # over its child before the real shuffle — without the cache the
    # dequeue's two window passes execute twice per round.
    df = df.persist()
    s = (
        df.repartitionByRange(p, *keys)
        .sortWithinPartitions(*keys)
        .withColumn("__mid", F.monotonically_increasing_id())
        .persist()
    )
    pid = F.shiftright(F.col("__mid"), 33).cast("int")
    counts = {
        r["pid"]: r["cnt"]
        for r in s.groupBy(pid.alias("pid")).agg(F.count("*").alias("cnt")).collect()
    }
    acc = 0
    pairs = []
    for i in sorted(counts):
        pairs.extend([F.lit(int(i)), F.lit(acc)])
        acc += counts[i]
    offmap = F.create_map(*pairs) if pairs else F.create_map()
    rank = (
        F.coalesce(F.element_at(offmap, pid), F.lit(0))
        + F.col("__mid").bitwiseAND(F.lit((1 << 33) - 1))
    ).alias("fetch_rank")
    # the input cache served the sampling + shuffle passes inside the
    # counts job — release it now; ``s`` must stay cached until the
    # caller materializes the result, so hand it over for release via
    # release_dequeue_caches (leaking one cached dataset per round
    # churns the LRU store and was measured to degrade later rounds).
    df.unpersist()
    out_cols = [f.name for f in s.schema.fields if f.name != "__mid"]
    result = s.select(*out_cols, rank).filter(F.col("fetch_rank") < k)
    result._topk_cache = s
    # contract for materialize_batch: ranks are valid only if the
    # cached sort was NOT recomputed between the counts collect above
    # and the caller's materialization (repartitionByRange sampling and
    # monotonically_increasing_id are nondeterministic on recompute —
    # cache eviction / executor loss would silently corrupt fetch
    # order). Callers validate against this expectation and fail loudly.
    result._topk_expected = min(k, acc)
    return result


def materialize_batch(batch: DataFrame) -> int:
    """Persist-fill + count a dequeue batch while VALIDATING the rank
    assignment: n rows must carry ranks 0..n-1 (max == n-1) and match
    the parallel top-k's expected count. A cached-sort recompute (cache
    eviction, executor loss) breaks those invariants in practice —
    raising beats silently fetching in the wrong order (r2 advice).
    One Spark action, same cache-fill role as the old .count()."""
    row = batch.agg(
        F.count("*").alias("n"), F.max("fetch_rank").alias("m")
    ).first()
    n = int(row["n"])
    exp = getattr(batch, "_topk_expected", None)
    if n and (int(row["m"]) != n - 1 or (exp is not None and n != exp)):
        raise RuntimeError(
            f"dequeue rank validation failed: n={n}, max_rank={row['m']}, "
            f"expected={exp} — cached top-k sort was likely recomputed"
        )
    return n


# Queued-row count below which the level-1 (host, salt) pre-rank is
# skipped (r6, guide §2.5): the pre-rank exists ONLY to defuse window
# skew — a 10^8-row host would otherwise be sorted by one task in the
# per-host window — and its survivors are a provable SUPERSET of the
# per-host top-cap (per-(host,salt) rank <= per-host rank), so skipping
# it never changes the result. Below this many queued rows even a
# fully skewed host sorts in well under a second per task, and the
# pre-rank is a pure extra Exchange+sort over the whole queued set
# (measured ~1s/round at bench scale). Scale-adaptive: the engine
# passes the frontier's footer row count; past the threshold the salt
# level engages exactly as before. Env-overridable for clusters whose
# skew profile differs.
SALT_PRERANK_MIN_ROWS = 4_000_000


def _salt_min_rows() -> int:
    import os

    return int(os.environ.get(
        "POMPSPARK_SALT_MIN_ROWS", str(SALT_PRERANK_MIN_ROWS)
    ))


def dequeue(
    queued: DataFrame,
    robots_df: DataFrame,
    ordering: str = "bfs",
    per_round_budget: int = 1000,
    per_host_budget: int = 10,
    round_seconds: float = 1.0,
    parallel_topk_threshold: int = 50_000,
    robots_rows: int | None = None,
    n_queued_hint: int | None = None,
) -> DataFrame:
    """O3: the politeness-budgeted top-k. Returns the fetch batch with
    ``fetch_rank`` (0-based fetch order within the round).

    ``n_queued_hint``: upper bound on the queued row count (the
    engine's frontier footer count — zero Spark jobs). When provided
    and small, the level-1 salt pre-rank is skipped (see
    SALT_PRERANK_MIN_ROWS); None keeps the conservative two-level path.

    pomp analog: BaseQueue.get_requests(count=workers) — count here is
    per_round_budget; politeness caps are the [A] addition."""
    if per_round_budget > MAX_RANK:
        raise ValueError(
            f"per_round_budget {per_round_budget} exceeds the seq "
            f"rank-field width ({MAX_RANK}); widen S_RANK packing"
        )
    keys = sort_keys(ordering)
    df = with_robots(queued, robots_df, robots_rows=robots_rows)
    # fetch-time robots enforcement: with a static cache this is a
    # no-op (merge already marked disallowed rows 'excluded'), but a
    # TTL refresh can disallow a host AFTER its urls were queued — those
    # rows must never be fetched again (RFC 9309 compliance is checked
    # against the rules in force at fetch time, not enqueue time).
    df = df.filter(~F.col("disallowed"))
    cap = politeness_cap_col(per_host_budget, round_seconds)

    use_salt = n_queued_hint is None or n_queued_hint >= _salt_min_rows()
    if use_salt:
        # level 1: per-(host, salt) — defuses hot-host window skew.
        w1 = Window.partitionBy("host", "salt").orderBy(*keys)
        survivors = (
            df.withColumn("cap", cap)
            .withColumn("rn1", F.row_number().over(w1))
            .filter(F.col("rn1") <= F.col("cap"))
        )
    else:
        survivors = df.withColumn("cap", cap)
    # level 2: exact per-host cap (over the salt survivors, or the
    # whole queued set when the pre-rank is skipped — same result).
    w2 = Window.partitionBy("host").orderBy(*keys)
    capped = (
        survivors.withColumn("rn2", F.row_number().over(w2))
        .filter(F.col("rn2") <= F.col("cap"))
    )
    out_cols = FRONTIER_COLS + (
        ["attempt"] if "attempt" in queued.columns else []
    )
    if per_round_budget >= parallel_topk_threshold:
        # crawl-scale budgets: parallel exact top-k + rank (no driver
        # heap merge, no single-partition rank window).
        batch = exact_ranked_topk(
            capped.select(*out_cols), keys, per_round_budget
        )
        out = batch.select(*out_cols, "fetch_rank")
        out._topk_cache = getattr(batch, "_topk_cache", None)
        return out
    # small budgets: TakeOrderedAndProject (one job), rank over the
    # ≤budget-row batch in a single small partition.
    batch = capped.orderBy(*keys).limit(per_round_budget)
    batch = batch.withColumn(
        "fetch_rank", (F.row_number().over(Window.orderBy(*keys)) - 1).cast("long")
    )
    return batch.select(*out_cols, "fetch_rank")


BAND_COL = {"bfs": "depth", "dfs": "discovered_round"}


def _dequeue_persisted(queued: DataFrame, **kw) -> tuple[DataFrame, int]:
    """``dequeue`` -> persisted, validated batch and its row count;
    the parallel top-k's internal sort cache is released once the
    batch's own cache backs every downstream read."""
    batch = dequeue(queued, **kw).persist()
    n = materialize_batch(batch)
    cache = getattr(batch, "_topk_cache", None)
    if cache is not None:
        cache.unpersist()
    return batch, n


def dequeue_banded(
    store: "FrontierStore",
    robots_df: DataFrame,
    ordering: str = "bfs",
    per_round_budget: int = 1000,
    per_host_budget: int = 10,
    round_seconds: float = 1.0,
    current_round: int | None = None,
    retry_delay_rounds: int = 1,
    retry_enabled: bool = True,
    parallel_topk_threshold: int = 50_000,
    robots_rows: int | None = None,
    n_queued_hint: int | None = None,
) -> tuple[DataFrame, int, int]:
    """The engine's one dequeue entry: the persisted, materialized
    fetch batch. Returns (persisted batch, n_rows, bands_read).

    Without a valid band layout for ``ordering`` (never compacted with
    bands, or the table moved past the band marker) this is ``dequeue``
    over the whole queued frontier, and bands_read is -1. With one, it
    reads sort-key-prefix bands of the queued frontier in key order,
    growing the prefix geometrically, and STOPS as soon as the
    politeness-capped selection fills the round budget.

    EXACTNESS: bands are ordered by a strict prefix of the sort key
    ((priority desc, depth asc) for BFS; (priority desc,
    discovered_round desc) for DFS — within one priority, seq blocks
    are monotone in discovered_round). The loop stops only when BOTH
    hold:
      (a) |selection| == budget (the politeness-capped candidate pool
          already covers the budget), and
      (b) every selected row's (priority, band) ranks STRICTLY before
          the first unread band — necessary because the un-banded
          recent dirs (appends since the last compaction, always read
          in full) contribute rows from arbitrary bands: a selected
          deep row from an append does NOT prove the unread shallower-
          than-it banded rows are covered, so the prefix is extended
          through the deepest selected band and re-run.
    Under (a)+(b) every unread banded row ranks behind every selected
    row, and adding worse rows can neither enter a host's top-cap
    ahead of existing rows nor displace any of the global top-budget —
    so the selection equals the full-frontier selection (pinned by the
    banded trace-equivalence grid). At a 10^10-row frontier with a
    10^7 budget this reads the active crawl band(s), not the whole
    table, each round."""
    dq_kw = dict(
        robots_df=robots_df, ordering=ordering,
        per_round_budget=per_round_budget, per_host_budget=per_host_budget,
        round_seconds=round_seconds,
        parallel_topk_threshold=parallel_topk_threshold,
        robots_rows=robots_rows, n_queued_hint=n_queued_hint,
    )
    info = store.band_info()
    want_col = BAND_COL[ordering]
    if info is None or info["band_col"] != want_col:
        # no valid banded layout for this ordering: full scan
        return (*_dequeue_persisted(
            store.queued(current_round, retry_delay_rounds, retry_enabled),
            **dq_kw,
        ), -1)

    band_col = info["band_col"]
    pairs = []
    for p_str, bands in info["bands"].items():
        for b in bands:
            pairs.append((float(p_str), int(b)))
    desc_band = ordering == "dfs"
    keyf = (lambda pb: (-pb[0], -pb[1])) if desc_band else (lambda pb: (-pb[0], pb[1]))
    pairs.sort(key=keyf)

    def rank_of(p: float, b: int) -> int:
        """# of bands strictly before (p, b) in key order — works for
        (p, b) values that only exist in un-banded appends too."""
        k = keyf((p, b))
        return sum(1 for pb in pairs if keyf(pb) < k)

    i = 0  # bands [0, i) are in the read prefix
    while True:
        i = min(len(pairs), max(i + 1, i * 2))  # geometric growth
        exhausted = i >= len(pairs)
        by_p: dict[float, list[int]] = {}
        for p, b in pairs[:i]:
            by_p.setdefault(p, []).append(b)
        pred = F.lit(False)
        for p, bs in by_p.items():
            pred = pred | (
                (F.col("priority") == F.lit(p)) & F.col(band_col).isin(bs)
            )
        src = store.banded_source(pred, info=info)
        eligible = store.queued(
            current_round, retry_delay_rounds, retry_enabled, source=src
        )
        batch, n = _dequeue_persisted(eligible, **dq_kw)
        if exhausted:
            return batch, n, i
        if n >= per_round_budget:
            # coverage check (b): the deepest selected band must rank
            # strictly before the first unread band, else extend the
            # prefix through it and re-run.
            sel_bands = batch.select("priority", band_col).distinct().collect()
            worst = max(rank_of(float(r[0]), int(r[1])) for r in sel_bands)
            if worst < i:
                return batch, n, i
            batch.unpersist()
            # extend the prefix through the deepest selected band: the
            # loop head grows to >= i+1, so aim it at worst (+1 there).
            i = worst
            continue
        batch.unpersist()


def dedup_discoveries(discoveries: DataFrame) -> DataFrame:
    """First occurrence (by fetch_rank, pos) wins within one round's
    link batch — matches the oracle's in-order _admit.

    groupBy + min instead of a row_number window: (fetch_rank, pos) is
    unique per (url, parent-row), so the minimum IS the first
    occurrence. Unlike a window, the aggregate gets map-side partial
    aggregation — the shuffle carries one row per (url,
    map-partition), not every duplicate link (link batches are
    dup-heavy, the round's biggest shuffle).

    r6 (guide §2.3/§7.2): ``min(struct(...))`` planned as
    SortAggregate — a struct buffer is not HashAggregate-mutable — so
    the exploded stream was SORTED twice (before the partial and after
    the exchange; plans/r06/bench_links_merge_before.txt nodes 14-18).
    The min now runs over ONE packed long
    ``(fetch_rank << 39) | (pos << 18) | depth`` (widths 24+21+18 =
    63 bits: rank < 2^24 enforced by dequeue's budget guard, pos <
    2^21 and depth < 2^18 guarded here exactly like new_frontier_rows'
    seq packing — same invariants, raised a step earlier), which IS
    hash-aggregatable: both sorts disappear
    (..._after.txt: SortAggregate -> HashAggregate). Ordering is
    unchanged: (fetch_rank, pos) is unique per row, so the depth low
    bits never decide a winner. ``host`` moves into the GROUP KEY —
    host is a pure function of the url string (fast path:
    regexp_extract of the canonical url; slow path: urlsplit hostname
    of the same canonical url — identical for any url both paths can
    produce), so grouping by (url, host) partitions rows exactly like
    url alone."""
    pos_ok = F.when(
        (F.col("pos") < F.lit(MAX_POS)) & (F.col("depth") < F.lit(MAX_ROUND)),
        F.col("pos").cast("long"),
    ).otherwise(
        F.raise_error(F.lit(
            f"dedup packing overflow: pos >= {MAX_POS} or depth >= "
            f"{MAX_ROUND} (same invariants as seq packing)"
        )).cast("long")
    )
    packed = (
        F.col("fetch_rank").cast("long") * F.lit(S_RANK * MAX_ROUND)
        + pos_ok * F.lit(MAX_ROUND)
        + F.col("depth").cast("long")
    )
    first = F.min(packed).alias("k")
    # unpack with exact bit ops (39 = 21+18; a double division would
    # lose bits past 2^53)
    return discoveries.groupBy("url", "host").agg(first).select(
        "url",
        "host",
        F.col("k").bitwiseAND(F.lit(MAX_ROUND - 1)).cast("int").alias("depth"),
        F.shiftright(F.col("k"), 39).alias("fetch_rank"),
        F.shiftright(F.col("k"), 18).bitwiseAND(F.lit(S_RANK - 1))
        .cast("int").alias("pos"),
    )


def _anti_join_existing(d: DataFrame, existing: DataFrame) -> DataFrame:
    """candidates ANTI JOIN identity rows. The ONLY equi key is
    url_hash — the bucket key of the frontier_index table — so the
    bucketed side is read WITHOUT an Exchange (Spark co-partitions the
    small candidate side to the bucket count). The url check rides
    along as a non-equi condition (<= AND >=) rather than a second
    equi key: as an equi key it would force hash-partitioning both
    sides by (url_hash, url), re-shuffling the whole frontier. The
    guard keeps an xxhash64 collision from ever dropping a distinct
    url (expected ~2.7 collisions at 10^10 urls)."""
    e = existing.select(
        F.col("url_hash").alias("__e_hash"), F.col("url").alias("__e_url")
    )
    return d.join(
        e,
        (d["url_hash"] == F.col("__e_hash"))
        & (F.col("__e_url") <= d["url"])
        & (F.col("__e_url") >= d["url"]),
        "left_anti",
    )


def new_frontier_rows(
    discoveries: DataFrame,
    existing: DataFrame,
    robots_df: DataFrame,
    round_: int,
    seen_filter=None,
    robots_rows: int | None = None,
    seen_exact: bool = True,
) -> DataFrame:
    """O2 merge: discoveries (url, host, depth, fetch_rank, pos) ->
    FRONTIER rows not already present. ``existing`` is the identity-row
    set (FrontierStore.identity_rows(): the bucketed frontier_index at
    scale). Anti-join keys on url_hash (the bucket key — 8 bytes) with
    an url guard so xxhash64 collisions can never drop a distinct url.

    With a ``seen_filter`` (pompspark.seen.SeenFilter), bloom-miss rows
    ("definitely new" — blooms have no false negatives) BYPASS the
    exact anti-join; what happens to maybe-seen rows depends on
    ``seen_exact``:

    - ``seen_exact=True`` (default): maybe-seen rows (true dupes + the
      small FP fraction) pay the exact anti-join. Exactness preserved
      (SURVEY §7.4). Note the honest cost model: in a MATURE crawl the
      dup fraction approaches 1, so nearly every row is maybe-seen and
      the anti-join input barely shrinks — the mode only helps while
      discoveries are mostly new.
    - ``seen_exact=False`` (approximate): maybe-seen rows are DROPPED
      without confirmation. No frontier-index scan at all — the
      merge's cost becomes O(batch) regardless of frontier size, which
      is the 10^10-frontier scale path. The price: a genuinely-new url
      that bloom-collides is never crawled, bounded by the filter's
      fp_rate (default 1%; real crawl frontiers accept this — a bloom
      "URL-seen test" is the standard design). Keep ``existing``
      unneeded by passing any DataFrame; it is not read.

    pomp analog: put_requests after middleware dedup (None -> drop)."""
    if round_ >= MAX_ROUND:
        raise ValueError(
            f"round {round_} exceeds the seq round-field width "
            f"({MAX_ROUND}): round*S_ROUND would overflow int64 and "
            f"silently corrupt queue order"
        )
    d = dedup_discoveries(discoveries)
    d = d.withColumn("url_hash", F.xxhash64("url"))
    if seen_filter is not None:
        d = seen_filter.maybe_seen_col(d, "url_hash")
        definitely_new = d.filter(~F.col("maybe_seen")).drop("maybe_seen")
        if seen_exact:
            maybe = d.filter(F.col("maybe_seen")).drop("maybe_seen")
            survivors = _anti_join_existing(maybe, existing)
            fresh = definitely_new.unionByName(survivors)
        else:
            fresh = definitely_new
    else:
        fresh = _anti_join_existing(d, existing)
    fresh = with_robots(fresh, robots_df, robots_rows=robots_rows)
    # pos-field width guard: a page with >= 2^21 outlinks would make
    # seq collide with the next rank — raise instead of silently
    # corrupting the queue order (physically impossible for real pages,
    # but the invariant is load-bearing).
    pos_checked = F.when(
        F.col("pos") < F.lit(MAX_POS), F.col("pos").cast("long")
    ).otherwise(
        F.raise_error(
            F.lit(f"outdegree exceeds seq pos-field width ({MAX_POS})")
        ).cast("long")
    )
    seq = (
        F.lit(round_).cast("long") * F.lit(S_ROUND)
        + F.col("fetch_rank").cast("long") * F.lit(S_RANK)
        + pos_checked
    )
    return fresh.select(
        "url",
        F.xxhash64("url").alias("url_hash"),
        F.hash("url").alias("url_murmur3"),
        "host",
        F.col("depth").cast("int").alias("depth"),
        F.lit(CHILD_PRIORITY).alias("priority"),
        F.lit(round_).alias("discovered_round"),
        seq.alias("seq"),
        F.pmod(F.hash("url"), F.lit(SALT_N)).cast("int").alias("salt"),
        _state_col(robots_df).alias("state"),
    )


class FrontierStore:
    """Catalog-backed frontier with append-only state transitions.

    Tables: ``frontier`` (discovery rows, partitioned by state),
    ``frontier_state`` (slim per-round transition rows). ``queued()``
    = frontier[state=queued] ANTI JOIN transitions. ``compact()``
    folds transitions in (every K rounds from the engine).

    Merge-dedup index (10^10-scale path): ``frontier_index`` is a
    Spark-catalog BUCKETED parquet table of the frontier's identity
    rows (url_hash, url), CLUSTERED BY url_hash — the Iceberg
    bucket-partition-transform analog. The merge anti-join reads it
    bucket-aligned, so the frontier side needs NO Exchange per round
    (only the O(batch) discoveries shuffle to the bucket count);
    without it every round re-shuffled the entire frontier
    (tests/test_plan_shapes.py pins the no-frontier-Exchange property).
    The index is derived state: built on first use (the engine uses it
    only past engine.INDEX_MIN_ROWS frontier rows — below that a
    broadcast anti-join over the frontier's own columns is cheaper),
    rebuilt from the frontier table on resume/rollback or whenever the
    version marker mismatches."""

    def __init__(self, cat: Catalog, index_buckets: int = 32,
                 use_index: bool = True):
        self.cat = cat
        from pyspark.sql import types as T

        self._state_schema = T.StructType([
            T.StructField("url_hash", T.LongType()),
            T.StructField("url", T.StringType()),
            T.StructField("state", T.StringType()),
            T.StructField("round", T.IntegerType()),
            T.StructField("attempt", T.IntegerType()),
            # per-url retry cool-down in rounds (5xx Retry-After);
            # null -> the engine-wide retry_delay_rounds default
            T.StructField("retry_delay", T.IntegerType()),
        ])
        cat.create("frontier", schemas.FRONTIER)
        cat.create("frontier_state", self._state_schema)
        # resuming a catalog checkpointed before newer state columns
        # existed (e.g. retry_delay): widen the STORED schema, else
        # schema-on-read prunes the column and queued()/compact()
        # reference an unresolvable name. No-op when current.
        if hasattr(cat, "evolve_schema"):
            cat.evolve_schema("frontier_state", self._state_schema)
        self.use_index = use_index
        self.index_buckets = index_buckets
        # the index is built on first use (``_ensure_index``), not here:
        # the engine reads it only once the frontier outgrows a
        # broadcast anti-join (engine.INDEX_MIN_ROWS)
        self.index_ready = False
        if use_index:
            import hashlib
            import os

            tag = hashlib.md5(cat.root.encode()).hexdigest()[:12]
            self._index_name = f"frontier_index_{tag}"
            self._index_loc = os.path.join(cat.root, "frontier_index")
            self._marker = os.path.join(cat.root, "frontier_index_version")

    def all_rows(self) -> DataFrame:
        return self.cat.read("frontier")

    # ------------------------------------------------------- identity index
    def _bucket_write(self, df: DataFrame, overwrite: bool) -> None:
        w = (
            df.select("url_hash", "url")
            .write.format("parquet")
            .bucketBy(self.index_buckets, "url_hash")
            .sortBy("url_hash")
        )
        if overwrite:
            w.mode("overwrite").option("path", self._index_loc).saveAsTable(
                self._index_name
            )
        else:
            w.mode("append").saveAsTable(self._index_name)

    def _write_marker(self) -> None:
        with open(self._marker, "w") as f:
            f.write(str(self.cat.current_version("frontier")))

    def _read_marker(self) -> int:
        import os

        if not os.path.exists(self._marker):
            return -1
        with open(self._marker) as f:
            return int(f.read().strip() or -1)

    def _register_index_table(self) -> None:
        # re-register the external bucketed table over existing files
        # (files carry bucket ids in their names)
        self.cat.spark.sql(
            f"CREATE TABLE {self._index_name} "
            f"(url_hash BIGINT, url STRING) USING PARQUET "
            f"CLUSTERED BY (url_hash) SORTED BY (url_hash) "
            f"INTO {self.index_buckets} BUCKETS "
            f"LOCATION '{self._index_loc}'"
        )

    def _ensure_index(self) -> None:
        """Make the index current with the frontier: build it when it
        does not exist, re-register it in a new session, rebuild it when
        its version marker is stale (a crash between the frontier append
        and the index append, or a compaction while it was idle)."""
        if self.index_ready:
            return
        import os

        if not os.path.isdir(self._index_loc):
            self.index_rebuild()
            return
        if not self.cat.spark.catalog.tableExists(self._index_name):
            self._register_index_table()
        if self._read_marker() != self.cat.current_version("frontier"):
            self.index_rebuild()
        self.index_ready = True

    def index_rebuild(self) -> None:
        """Rebuild the bucketed index from the frontier table (the
        source of truth) — used after rollback/resume, where the index
        may be a superset of the rolled-back frontier, and when the
        index is first built over a non-empty frontier."""
        self._bucket_write(
            self.cat.read("frontier").select("url_hash", "url"),
            overwrite=True,
        )
        self._write_marker()
        self.index_ready = True

    def index_invalidate(self) -> None:
        """Stop maintaining the index and drop its version marker, so
        the next ``_ensure_index`` rebuilds it (after a rollback the
        frontier's version numbers are reused: an old marker could
        match a different frontier)."""
        import os

        self.index_ready = False
        if os.path.exists(self._marker):
            os.remove(self._marker)

    def index_append(self, df: DataFrame) -> None:
        self._ensure_index()
        self._bucket_write(df, overwrite=False)
        self._write_marker()
        self._bound_index_files()

    def index_file_count(self) -> int:
        import glob
        import os

        return len(glob.glob(
            os.path.join(self._index_loc, "**", "*.parquet"), recursive=True
        ))

    # index files per bucket tolerated before index_append() or
    # compact() rewrites the index (each append lays one file-set, so a
    # compact_every=0 crawl needs the check after every append; past
    # this the bucketed-scan advantage drowns in file-open costs — r2
    # verdict: 10^4 rounds = 10^4 files per bucket without a rewrite).
    INDEX_FILES_PER_BUCKET = 4

    def _bound_index_files(self) -> None:
        if self.index_file_count() > (
            self.INDEX_FILES_PER_BUCKET * self.index_buckets
        ):
            self.index_compact()

    def index_compact(self) -> None:
        """Rewrite the bucketed identity index into ONE file per bucket
        (Iceberg rewrite_data_files analog). repartition on the bucket
        column uses the same murmur3 pmod as the bucket-id assignment,
        so each write task holds exactly one bucket and emits exactly
        one file. Shuffle volume: the 2-column identity set — never the
        frontier's full rows. Writes to a sibling location, then swaps
        dirs and re-registers; a crash mid-swap is healed by
        _ensure_index (dir re-register) or the marker-mismatch rebuild
        (index is derived state — the frontier stays source of truth)."""
        import os
        import shutil

        spark = self.cat.spark
        tmp_name = self._index_name + "_rw"
        tmp_loc = self._index_loc + ".rw"
        shutil.rmtree(tmp_loc, ignore_errors=True)
        spark.sql(f"DROP TABLE IF EXISTS {tmp_name}")
        # read the FILES, not the table: a bucketed-table scan reports
        # HashPartitioning(url_hash) and Catalyst elides the repartition
        # below the write — but auto-bucketed-scan may not actually
        # align tasks to buckets, scattering every bucket across every
        # write task (measured: 8 tasks x 4 buckets = 32 files).
        (
            spark.read.schema("url_hash long, url string")
            .parquet(self._index_loc)
            .repartition(self.index_buckets, F.col("url_hash"))
            .write.format("parquet")
            .bucketBy(self.index_buckets, "url_hash")
            .sortBy("url_hash")
            .mode("overwrite")
            .option("path", tmp_loc)
            .saveAsTable(tmp_name)
        )
        spark.sql(f"DROP TABLE {self._index_name}")
        spark.sql(f"DROP TABLE {tmp_name}")  # metadata only; files stay
        shutil.rmtree(self._index_loc)
        os.replace(tmp_loc, self._index_loc)
        self._register_index_table()
        self._write_marker()

    def identity_rows(self) -> DataFrame:
        """(url_hash, url) of every url ever admitted — the merge
        anti-join's right side. Bucketed table when enabled (scan
        without Exchange; built on first use), else a pruned frontier
        read."""
        if self.use_index:
            self._ensure_index()
            return self.cat.spark.table(self._index_name)
        return self.cat.read("frontier").select("url_hash", "url")

    # state-transition rows are broadcast into the dequeue anti-join up
    # to this size; beyond it Spark falls back to a shuffle join and
    # compaction should be folding transitions in anyway. The row count
    # comes from parquet footers (no job).
    BROADCAST_STATE_ROWS = 4_000_000

    def queued(self, current_round: int | None = None,
               retry_delay_rounds: int = 1,
               retry_enabled: bool = True,
               source: DataFrame | None = None) -> DataFrame:
        """Rows eligible for dequeue: frontier[state=queued] minus
        transitioned urls — except urls whose LATEST transition is
        'retry' (transient fetch failure below max_retries) and whose
        cool-down has elapsed; those re-enter with their ORIGINAL
        (priority, depth, seq) plus an ``attempt`` column (prior failed
        attempts) for the fetcher. Always emits ``attempt``.

        ``retry_enabled=False`` (engines with max_retries=0): no
        'retry' transition can exist, so the latest-state fold
        degenerates to a plain anti-join — measured ~3 s/round cheaper
        at bench scale (the fold aggregates the whole transition table
        before every broadcast build).

        ``source`` overrides the frontier row source (the band-pruned
        dequeue passes a band-limited read)."""
        base = source if source is not None else self.cat.read("frontier")
        f = base.filter(F.col("state") == "queued")
        t = self.cat.read("frontier_state")
        small = self.cat.row_count("frontier_state") <= self.BROADCAST_STATE_ROWS
        if not retry_enabled:
            s = t.select("url_hash", F.col("url").alias("__s_url"))
            if small:
                s = F.broadcast(s)
            return f.join(
                s,
                (f["url_hash"] == s["url_hash"]) & (f["url"] == s["__s_url"]),
                "left_anti",
            ).withColumn("attempt", F.lit(0))
        agg = t.groupBy(
            F.col("url_hash").alias("__s_hash"), F.col("url").alias("__s_url")
        ).agg(
            F.max_by("state", "round").alias("__last_state"),
            F.max("round").alias("__last_round"),
            F.sum(F.when(F.col("state") == "retry", 1).otherwise(0))
            .cast("int").alias("__n_retry"),
            # the LATEST transition's Retry-After cool-down (null on
            # non-retry rows — only consulted when last state is retry,
            # and that row is by definition the latest)
            F.max_by("retry_delay", "round").alias("__retry_delay"),
        )
        if small:
            # keep the full frontier un-shuffled: transitions between
            # compactions are O(rounds x budget), broadcastable — the
            # alternative SMJ shuffles the WHOLE frontier every dequeue
            # (measured 8x round-time blowup once stats pushed Spark
            # off the broadcast plan).
            agg = F.broadcast(agg)
        joined = f.join(
            agg,
            (f["url_hash"] == F.col("__s_hash")) & (f["url"] == F.col("__s_url")),
            "left",
        )
        retry_ok = (F.col("__last_state") == "retry")
        if current_round is not None:
            retry_ok = retry_ok & (
                F.lit(current_round) - F.col("__last_round")
                >= F.coalesce(F.col("__retry_delay"),
                              F.lit(retry_delay_rounds))
            )
        eligible = F.col("__last_state").isNull() | retry_ok
        return (
            joined.filter(eligible)
            .withColumn("attempt", F.coalesce(F.col("__n_retry"), F.lit(0)))
            .select(*FRONTIER_COLS, "attempt")
        )

    def append(self, rows: DataFrame) -> str:
        """Append discovery rows; returns the committed data dir so the
        caller can count rows from footers / re-read column-pruned
        without another action."""
        import os

        v = self.cat.append("frontier", rows, partition_by=["state"])
        return os.path.join(self.cat._tdir("frontier"), f"data/d-{v:08d}")

    def append_delta(self, rows: DataFrame) -> tuple[int, DataFrame | None]:
        """Append discovery rows and return ``(n_new, delta_df)`` —
        the committed count from METADATA (no .count() action) and a
        reader over exactly the appended rows (no re-filter of the
        whole table). Dir-layout catalogs: parquet footers + a
        zero-copy dir read. Others (IcebergCatalog): snapshot-summary
        ``added-records`` + an incremental append scan. ``delta_df``
        is None when nothing was appended."""
        if getattr(self.cat, "SUPPORTS_DIR_LAYOUT", True):
            from pompspark.tables import dir_row_count

            d = self.append(rows)
            n = dir_row_count(d)
            return n, (self.cat.spark.read.parquet(d) if n else None)
        prev = self.cat.current_version("frontier")
        v = self.cat.append("frontier", rows, partition_by=["state"])
        n = self.cat.appended_row_count("frontier", prev, v)
        return n, (self.cat.read_appended("frontier", prev, v) if n else None)

    def mark(self, batch: DataFrame, state_col, round_: int) -> int:
        """Record state transitions for a fetched batch (url_hash, url)."""
        att = (
            F.col("attempt") if "attempt" in batch.columns else F.lit(0)
        ).cast("int")
        upd = batch.select(
            "url_hash", "url", state_col.alias("state"),
            F.lit(round_).alias("round"), att.alias("attempt"),
        )
        return self.cat.append("frontier_state", upd)

    # ---------------------------------------------------------- band layout
    # Band-pruned dequeue (the 10^10 path): compaction partitions the
    # queued rows by a SORT-KEY-PREFIX band column — depth for BFS,
    # discovered_round for DFS — so a dequeue reads bands in key order
    # and STOPS once the politeness-capped candidate count reaches the
    # round budget, instead of scanning the whole queued frontier every
    # round. Exact: bands are ordered by a prefix of the sort key, so
    # every row of a later band ranks behind every row already read
    # (proof in dequeue_banded). Appends since the last compaction are
    # not banded and are always read in full (O(K x batch) rows).

    def band_marker_path(self) -> str:
        import os

        return os.path.join(self.cat.root, "frontier_bands.json")

    def _write_band_marker(self, rel_dir: str, band_col: str) -> None:
        import glob
        import json
        import os
        import re

        base = os.path.join(self.cat._tdir("frontier"), rel_dir)
        bands: dict[str, list] = {}
        for d in glob.glob(os.path.join(
            base, "state=queued", "priority=*", f"{band_col}=*"
        )):
            m = re.search(rf"priority=([^/]+)/{band_col}=([^/]+)$", d)
            if m:
                bands.setdefault(m.group(1), []).append(int(m.group(2)))
        for v in bands.values():
            v.sort()
        # write-then-rename: the marker is read concurrently by the
        # next round's banded dequeue when compaction runs on the
        # engine's background thread (r6 async compact) — a partial
        # in-place write must never be observable.
        tmp = self.band_marker_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump({
                "dir": rel_dir, "band_col": band_col, "bands": bands,
                "frontier_version": self.cat.current_version("frontier"),
            }, f)
        os.replace(tmp, self.band_marker_path())

    def band_info(self) -> dict | None:
        """The banded compacted dir + its (priority -> bands) map, or
        None when no valid banded layout exists (never compacted, or
        the table moved past the marker, e.g. rollback/overwrite)."""
        import json
        import os

        if not getattr(self.cat, "SUPPORTS_DIR_LAYOUT", True):
            return None
        p = self.band_marker_path()
        if not os.path.exists(p):
            return None
        with open(p) as f:
            info = json.load(f)
        v = self.cat.current_version("frontier")
        snap = self.cat._read_snapshot("frontier", v)
        if info.get("dir") not in snap["dirs"]:
            return None
        return info

    def banded_source(self, band_pred, info: dict | None = None) -> DataFrame:
        """Frontier rows limited to ``band_pred`` over the banded
        compacted dir, UNION all rows of the (small) un-banded dirs
        appended since compaction. Partition pruning keeps unread
        bands' files untouched.

        ``info``: the band marker snapshot to use. dequeue_banded MUST
        pass the one it built its band list from (r6 async compact): a
        background compaction may commit a NEW marker mid-dequeue, and
        applying an OLD band list's predicate to the NEW banded dir
        would hide the bands the old list doesn't know about — the
        dequeue would see an empty prefix and terminate the crawl
        early. With the marker pinned, every commit interleaving is
        exact: if the pinned dir has since been superseded its queued
        rows are excluded by dir_filters and the NEW compacted dir is
        read in full as an ordinary append (unpruned but complete)."""
        import json
        import os

        from pyspark.sql import types as T

        if info is None:
            info = self.band_info()
        v = self.cat.current_version("frontier")
        snap = self.cat._read_snapshot("frontier", v)
        schema = T.StructType.fromJson(json.loads(snap["schema"]))
        filters = snap.get("dir_filters") or {}
        cols = schema.fieldNames()
        parts = []
        for d in snap["dirs"]:
            full = os.path.join(self.cat._tdir("frontier"), d)
            df = (
                self.cat.spark.read.schema(schema)
                .option("basePath", full)
                .parquet(full)
                .select(*cols)
            )
            for c, vals in (filters.get(d) or {}).items():
                if not isinstance(vals, list):  # legacy scalar form
                    vals = [vals]
                # replace_partition exclusions (incremental compact):
                # this dir's queued rows were folded into a newer dir
                df = df.filter(~F.col(c).isin(vals))
            if info is not None and d == info["dir"]:
                df = df.filter(band_pred)
            parts.append(df)
        out = parts[0]
        for p_ in parts[1:]:
            out = out.unionByName(p_)
        return out

    def compact(self, band_col: str | None = None,
                defer_state_trim: bool = False):
        """Fold TERMINAL transitions (fetched/error/dropped) into the
        frontier rows; transitions of urls whose latest state is
        'retry' must survive compaction — queued() needs their last
        round (cool-down) and retry count (attempt number).

        ``band_col`` ('depth' or 'discovered_round'): also lay the
        compacted queued rows out in sort-key-prefix bands for the
        band-pruned dequeue.

        Fold and rewrite ONLY the queued partition — terminal-state
        files are never rewritten (r3 verdict #5: a full compact at
        10^10 rows is a 1.2 TB rewrite per call). Sound because
        transitions can only reference rows that were dequeued, and
        only ``state='queued'`` rows are ever dequeued — every
        non-queued row's fold is the identity. Old dirs get a
        manifest-level ``state != 'queued'`` exclusion
        (Catalog.replace_partition); the folded output (still-queued +
        newly-terminal + retry-pending rows) lands in one new dir.

        ``defer_state_trim`` (r6 async compact, guide §2.6): commit
        only the FRONTIER fold here and return a zero-arg ``finish``
        callable that commits the frontier_state trim later. Needed
        when compaction runs on a background thread overlapping the
        next round's dequeue: a reader that resolves frontier at the
        PRE-fold version but frontier_state at the POST-trim version
        would see previously-fetched rows as queued (the folded
        terminal transitions are gone from both its tables). With the
        trim deferred to the engine's main thread — strictly ordered
        before that round's state append and after its dequeue — every
        concurrent reader sees either (old frontier, old state) or
        (folded frontier, old state), and both are exact (the fold is
        redundant with the anti-join, never contradictory)."""
        f = self.cat.read("frontier").filter(F.col("state") == "queued")
        t = self.cat.read("frontier_state")
        latest = t.groupBy(
            F.col("url_hash").alias("__s_hash"), F.col("url").alias("__s_url")
        ).agg(F.max_by("state", "round").alias("__new_state"))
        terminal = latest.filter(F.col("__new_state") != "retry")
        folded = (
            f.join(
                terminal,
                (f["url_hash"] == F.col("__s_hash"))
                & (f["url"] == F.col("__s_url")),
                "left",
            )
            .withColumn("state", F.coalesce("__new_state", "state"))
            .select(*FRONTIER_COLS)
        )
        retrying = latest.filter(F.col("__new_state") == "retry").select(
            "__s_hash", "__s_url"
        )
        kept = t.join(
            retrying,
            (t["url_hash"] == F.col("__s_hash")) & (t["url"] == F.col("__s_url")),
            "left_semi",
        )
        kept = kept.persist()
        kept.count()  # materialize before overwriting its source table
        partition_by = ["state"] + ([ "priority", band_col] if band_col else [])
        v = self.cat.replace_partition(
            "frontier", folded, "state", "queued", partition_by=partition_by,
        )

        def _trim_state() -> None:
            self.cat.overwrite("frontier_state", kept.select(*[
                fld.name for fld in self._state_schema.fields
            ]))
            kept.unpersist()

        if not defer_state_trim:
            _trim_state()
        # Band markers name hive subdirs of a posix data dir; on a
        # non-dir catalog (Iceberg) the same pruning comes from
        # partition stats on (priority, band) — band_info() stays None
        # and dequeue uses the exact full-scan path.
        if getattr(self.cat, "SUPPORTS_DIR_LAYOUT", True):
            import os

            if band_col:
                self._write_band_marker(f"data/d-{v:08d}", band_col)
            else:
                p = self.band_marker_path()
                if os.path.exists(p):
                    os.remove(p)
        if self.index_ready:
            # identity set unchanged by compaction; just re-pin the
            # marker to the new frontier version.
            self._write_marker()
            self._bound_index_files()
        return _trim_state if defer_state_trim else None
