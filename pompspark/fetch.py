"""Fetch stage (O5/O6/O7): batch -> responses with error isolation.

pomp analog: ``BaseDownloader.get(requests)`` (pomp/core/base.py) and
its contrib implementations — ``UrllibDownloader`` (serial),
``ConcurrentDownloader`` (process pool) in pomp/contrib. Spark
executors ARE the pool (SURVEY C4): ``pool_size`` maps to the round
budget + shuffle partitions, and the per-request try/except that turns
failures into ``BaseCrawlException`` (pomp/contrib/urllibtools.py)
becomes status/error COLUMNS — a failed fetch never throws an executor
(SURVEY §2.4.3).

Two fetchers behind one interface:
- ``SimulatedFetcher``: the sandbox web — a join against the ``pages``
  table (BASELINE.json input shape). Missing url -> status 404 row.
- ``HttpFetcher``: the real-cluster path — batched HTTP inside
  mapInPandas. Network is unavailable in this sandbox, so the
  transport is a stub raising NotImplementedError unless a
  deterministic ``fake_fetch`` is injected (tests use that to prove
  the plumbing: schema, batching, error isolation).
"""

from __future__ import annotations

from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# batch columns in, response columns appended
RESPONSE_COLS = ["status", "warc_ts", "html", "text", "links", "error",
                 "location", "retry_after"]


class SimulatedFetcher:
    """Fetch = left join batch -> pages on url, then the extract pass.

    Physical plan: the batch (≤ per_round_budget rows) is the SMALL
    side — broadcast it and stream the pages scan exactly once per
    round; only (url, warc_ts, html) columns are read (pruning).
    Extraction runs on the ≤batch-size join output, not on the scan.
    """

    paced = False  # no wall-clock in the simulated web

    def __init__(self, pages: DataFrame, validators: DataFrame | None = None):
        """``validators``: optional (url, if_modified_since:timestamp)
        rows — the conditional-GET state of a re-crawl epoch
        (recrawl.conditional_validators builds it from the prior
        epoch's fetch_log). A url whose page ``warc_ts`` <= its
        validator answers **304 Not Modified**: no body, no extract,
        zero transfer bytes — exactly If-Modified-Since semantics.
        Redirects (the server answers 301 regardless) and the flaky
        marker (a 5xx is an error, not an answer) take precedence."""
        self.pages = pages
        self.validators = validators

    def fetch(self, batch: DataFrame) -> DataFrame:
        # A single outer join can't broadcast the preserved (batch)
        # side — Spark would shuffle the whole pages table. Instead:
        # - hits: inner BHJ (build = broadcast batch) over ONE full
        #   pages scan, extract fused into the same stage;
        # - misses: found-urls = semi-join over a URL-COLUMN-ONLY pages
        #   scan (parquet pruning makes this ~the url column's bytes),
        #   then a broadcast anti-join of the small batch against it.
        # No caching here: the engine materializes the result exactly
        # once (the round write) and reads it back column-pruned.
        # The returned frame drops ``html`` (the raw body stays in
        # pages; nothing downstream needs it).
        #
        # Transient failures (engine retry path): an optional
        # ``flaky_fails`` int column on pages marks urls whose first N
        # fetch attempts 503; the batch's ``attempt`` column (prior
        # failures, from FrontierStore.queued) decides the outcome.
        flaky = "flaky_fails" in self.pages.columns
        redir = "redirect_to" in self.pages.columns
        # optional Retry-After header on 5xx answers (seconds)
        ra = "retry_after_s" in self.pages.columns
        page_cols = (
            ["warc_ts", "html"]
            + (["flaky_fails"] if flaky else [])
            + (["redirect_to"] if redir else [])
            + (["retry_after_s"] if ra else [])
        )
        pages = self.pages.select(
            F.col("url").alias("__p_url"), *page_cols
        )
        hits_raw = pages.join(
            F.broadcast(batch), F.col("__p_url") == batch["url"], "inner"
        ).drop("__p_url")
        if self.validators is not None:
            # validators = the prior epoch's fetch_log at scale: never
            # joined whole — the SAME broadcast batch (ReusedExchange)
            # semi-filters its column-pruned scan down to ≤batch rows,
            # which then broadcast onto the hits.
            vals = self.validators.select(
                F.col("url").alias("__v_url"),
                F.col("if_modified_since").alias("__ims"),
            )
            vals_b = vals.join(
                F.broadcast(batch), F.col("__v_url") == batch["url"],
                "left_semi",
            )
            hits_raw = hits_raw.join(
                F.broadcast(vals_b),
                hits_raw["url"] == F.col("__v_url"), "left",
            ).drop("__v_url")

        att = F.col("attempt") if "attempt" in batch.columns else F.lit(0)
        if flaky:
            status = F.when(
                F.coalesce(F.col("flaky_fails"), F.lit(0)) > att, F.lit(503)
            ).otherwise(F.lit(200))
        else:
            status = F.lit(200)
        if self.validators is not None:
            # conditional GET: 304 only where the fetch would otherwise
            # succeed (flaky 5xx = no answer; join below adds __ims).
            status = F.when(
                (status == 200) & F.col("__ims").isNotNull()
                & (F.col("warc_ts") <= F.col("__ims")),
                F.lit(304),
            ).otherwise(status)
        if redir:
            # a Location header wins over the flaky marker (the server
            # answered — with a 301): mirrors OracleCrawl.redirects.
            status = F.when(
                F.col("redirect_to").isNotNull(), F.lit(301)
            ).otherwise(status)
        ok = status == 200
        # r6 (guide §4.2): everything EXCEPT the extraction stays JVM
        # (status/error/byte-count logic), then ONE pyarrow-native
        # mapInArrow attaches text + canonical links and drops html.
        # The html of non-200 rows is nulled BEFORE the boundary, so
        # failed rows ship a null bitmap instead of 30 KB bodies, and
        # the passthrough columns (~150 B/row) ride zero-copy next to
        # the one heavy column; a 301's Location (non-null only on
        # redirect rows) is resolved in the same pass, so the round's
        # only Python hop is this one. Still a narrow map: fuses into
        # the scan/join stage, no exchange.
        from pompspark.extract import extract_attach_arrow

        pre = (
            hits_raw.withColumn("status", status)
            .withColumn("n_bytes", F.when(ok, F.octet_length("html")).otherwise(0).cast("long"))
            .withColumn("__html_ok", F.when(ok, F.col("html")))
            .withColumn(
                "location",
                F.col("redirect_to") if redir
                else F.lit(None).cast("string"),
            )
            .withColumn(
                "retry_after",
                F.when(status >= 500, F.col("retry_after_s")) if ra
                else F.lit(None).cast("double"),
            )
            .withColumn(
                "error",
                F.when(ok | (status == 301) | (status == 304),
                       F.lit(None).cast("string"))
                .otherwise(F.lit("transient_503")),
            )
            .drop("html", *(
                (["flaky_fails"] if flaky else [])
                + (["redirect_to"] if redir else [])
                + (["retry_after_s"] if ra else [])
                + (["__ims"] if self.validators is not None else [])
            ))
        )
        hits = extract_attach_arrow(pre, "__html_ok")
        # IDENTICAL broadcast subtree to the hits join above -> Spark
        # reuses the built broadcast (ReusedExchange): one driver-side
        # collect+build per round instead of two (broadcast builds are
        # serial driver time — the N->4N efficiency term).
        found = self.pages.select(F.col("url").alias("__f_url")).join(
            F.broadcast(batch), F.col("__f_url") == batch["url"], "left_semi",
        )
        misses = (
            batch.join(
                F.broadcast(found),
                batch["url"] == F.col("__f_url"),
                "left_anti",
            )
            .withColumn("warc_ts", F.lit(None).cast("timestamp"))
            .withColumn("status", F.lit(404))
            .withColumn("n_bytes", F.lit(0).cast("long"))
            .withColumn("text", F.lit(None).cast("string"))
            .withColumn("links", F.array().cast("array<string>"))
            .withColumn("location", F.lit(None).cast("string"))
            .withColumn("retry_after", F.lit(None).cast("double"))
            .withColumn("error", F.lit("not_found"))
        )
        return hits.unionByName(misses.select(*hits.columns))


class HttpFetcher:
    """Real-cluster fetch: Arrow-batched HTTP via mapInPandas.

    ``transport(urls: pd.Series) -> pd.DataFrame[status:int,
    warc_ts:datetime64, html:object(bytes), error:object]`` — inject a
    deterministic fake in tests; the default stub documents where a
    requests/aiohttp pool goes on a real cluster (that lib is not in
    this container). Extraction and link canonicalization happen in the
    same pass (``extract.extract_response``, as in SimulatedFetcher) —
    one Python hop per row batch, not two.
    """

    paced = True  # the engine attaches slot_s (politeness.schedule_slots)

    def __init__(self, transport: Callable[[pd.Series], pd.DataFrame] | None = None,
                 timeout: float = 30.0,
                 sleeper: Callable[[float], None] | None = None):
        self.transport = transport
        self.timeout = timeout
        # politeness pacing: when the batch carries a ``slot_s`` column
        # (politeness.schedule_slots), each Arrow batch is fetched in
        # slot order and the executor sleeps until a row's slot is due
        # (relative to the round's start = first slot seen). Injectable
        # for tests; None -> time.sleep.
        self.sleeper = sleeper

    def fetch(self, batch: DataFrame) -> DataFrame:
        from pyspark.sql import types as T

        from pompspark.extract import extract_response

        transport = self.transport
        if transport is None:
            def transport(urls: pd.Series) -> pd.DataFrame:  # pragma: no cover
                raise NotImplementedError(
                    "no network in this sandbox: inject a transport "
                    "(e.g. a requests.Session pool) on a real cluster"
                )

        out_schema = T.StructType(
            list(batch.schema.fields)
            + [
                T.StructField("status", T.IntegerType()),
                T.StructField("warc_ts", T.TimestampType()),
                T.StructField("html", T.BinaryType()),
                T.StructField("n_bytes", T.LongType()),
                T.StructField("text", T.StringType()),
                T.StructField("links", T.ArrayType(T.StringType())),
                T.StructField("error", T.StringType()),
                T.StructField("location", T.StringType()),
                T.StructField("retry_after", T.DoubleType()),
            ]
        )

        sleeper = self.sleeper
        if sleeper is None:  # pragma: no cover - wall clock
            import time as _time

            sleeper = _time.sleep

        def fetch_frame(b: pd.DataFrame) -> pd.DataFrame:
            try:
                resp = transport(b["url"])
            except Exception as exc:  # error isolation: whole sub-batch
                resp = pd.DataFrame({
                    "status": [599] * len(b),
                    "warc_ts": [pd.NaT] * len(b),
                    "html": [None] * len(b),
                    "error": [f"transport: {exc}"] * len(b),
                }, index=b.index)
            b = b.copy()
            for c in ("status", "warc_ts", "html"):
                b[c] = resp[c]
            b["error"] = resp.get("error", pd.Series([None] * len(b), index=b.index))
            # 3xx Location header (engine enqueues the target; an
            # older transport without the column yields all-null)
            b["location"] = resp.get(
                "location", pd.Series([None] * len(b), index=b.index)
            )
            # Retry-After seconds on 5xx (engine converts to rounds)
            b["retry_after"] = resp.get(
                "retry_after", pd.Series([None] * len(b), index=b.index)
            )
            b["n_bytes"] = b["html"].map(lambda h: len(h) if h is not None else 0)
            # body for 200s only (an empty 200 extracts as ""), Location
            # for 3xx only; links = canonical children
            ext = [
                extract_response(
                    (h if h is not None else b"") if st == 200 else None,
                    u,
                    loc if 300 <= st <= 399 and pd.notna(loc) else None,
                )
                for h, u, loc, st in zip(b["html"], b["url"], b["location"],
                                         b["status"])
            ]
            b["text"] = [t for t, _ in ext]
            b["links"] = [l for _, l in ext]
            return b

        def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            elapsed = 0.0  # this task's position on the slot clock
            for b in batches:
                if len(b) == 0:
                    continue
                if "slot_s" in b.columns:
                    # issue per-SLOT sub-batches, sleeping each one to
                    # its due time: a single batch-wide sleep would fire
                    # every same-host row of an Arrow batch (up to
                    # maxRecordsPerBatch of them) at one instant,
                    # violating crawl_delay spacing inside the batch
                    # (r2 advice). Rows sharing a slot are concurrent by
                    # construction (schedule_slots staggers same-host
                    # rows into distinct slots).
                    b = b.sort_values("slot_s", kind="stable")
                    for due, sub in b.groupby("slot_s", sort=True):
                        due = float(due)
                        if due > elapsed:
                            sleeper(due - elapsed)
                            elapsed = due
                        yield fetch_frame(sub)
                else:
                    yield fetch_frame(b)

        return batch.mapInPandas(gen, schema=out_schema)
