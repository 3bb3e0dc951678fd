"""Correctness checks, run untimed after the timed rounds.

Each check recomputes what the crawl must satisfy from the benchmark's own
knowledge of the inputs (the robots text it fed, the subsets its seed
picked), not from the program's derived state where that can be avoided.
A check returns ``{"name", "ok", ...detail}``; any failure makes the run
incorrect and counts in ``failed``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from workloads import Workload, fault_flags


def host_rules(robots: DataFrame) -> DataFrame:
    """(host, disallow, crawl_delay) parsed here from the robots text the
    benchmark fed the engine (one Disallow prefix per host at most)."""
    dis = F.regexp_extract("robots_txt", r"Disallow: *(\S+)", 1)
    delay = F.regexp_extract("robots_txt", r"Crawl-delay: *([0-9.]+)", 1)
    return robots.select(
        "host",
        F.when(dis != "", dis).alias("disallow"),
        F.when(delay != "", delay.cast("double")).alias("crawl_delay"),
    )


def host_cap(per_host_budget: int, round_seconds: float):
    """Per-round fetch cap of a host: the budget, shrunk by Crawl-delay
    to floor(round_seconds / delay), at least 1."""
    d = F.col("crawl_delay")
    return F.when(
        d.isNotNull() & (d > 0),
        F.least(F.lit(per_host_budget),
                F.greatest(F.lit(1), F.floor(F.lit(round_seconds) / d).cast("int"))),
    ).otherwise(F.lit(per_host_budget))


def _url_host(col: str = "url"):
    return F.regexp_extract(col, r"^https?://([^/]+)", 1)


def _url_path(col: str = "url"):
    return F.regexp_extract(col, r"^https?://[^/]+(/[^?#]*)", 1)


def text_identity(eng, pages: DataFrame) -> dict:
    """F1: every 200's text is byte-identical to the pinned extractor's
    output stored with the page (compared by SHA-256 and length)."""
    got = eng.fetch_log().filter(F.col("status") == 200).select(
        "url", F.sha2("text", 256).alias("h"), F.length("text").alias("n"))
    # hash only the fetched pages' reference text
    want = pages.join(F.broadcast(got.select(F.col("url").alias("__f"))),
                      F.col("url") == F.col("__f"), "left_semi").select(
        F.col("url").alias("__u"), F.sha2("text", 256).alias("__h"),
        F.length("text").alias("__n"))
    row = got.join(want, got["url"] == want["__u"], "left").agg(
        F.count("*").alias("n200"),
        F.sum(F.when(~F.col("h").eqNullSafe(F.col("__h"))
                     | ~F.col("n").eqNullSafe(F.col("__n"))
                     | F.col("__u").isNull(), 1).otherwise(0)).alias("bad"),
    ).head()
    bad = int(row.bad or 0)
    return {"name": "text_identity", "ok": bad == 0 and row.n200 > 0,
            "checked": int(row.n200), "mismatched": bad}


def trace_unique(eng) -> dict:
    """Each URL is fetched at most once per round and completed at most
    once: it repeats in the trace only as the retry of a 5xx."""
    trace = eng.cat.read("trace").select("url", "round")
    log = eng.fetch_log().select(F.col("url").alias("__u"),
                                 F.col("round").alias("__r"), "status")
    per_url = trace.join(
        log, (F.col("url") == F.col("__u")) & (F.col("round") == F.col("__r")), "left",
    ).groupBy("url").agg(
        F.count("*").alias("n"),
        F.countDistinct("round").alias("rounds"),
        F.sum(F.when(F.coalesce(F.col("status"), F.lit(0)) < 500, 1)
              .otherwise(0)).alias("done"),
    )
    row = per_url.agg(
        F.sum("n").alias("rows"), F.count("*").alias("urls"),
        F.sum(F.when((F.col("rounds") != F.col("n")) | (F.col("done") > 1), 1)
              .otherwise(0)).alias("bad"),
    ).head()
    return {"name": "trace_unique", "ok": row.bad == 0 and row.rows > 0,
            "rows": int(row.rows), "urls": int(row.urls), "repeated": int(row.bad)}


def robots_respected(eng, rules: DataFrame) -> dict:
    """No fetched URL (any status) matches its host's Disallow prefix."""
    log = eng.fetch_log().select("url").withColumn("host", _url_host())
    bad = log.join(F.broadcast(rules), "host").filter(
        F.col("disallow").isNotNull()
        & _url_path().startswith(F.col("disallow"))
    ).count()
    return {"name": "robots_respected", "ok": bad == 0, "violations": bad}


def host_caps(eng, rules: DataFrame, w: Workload) -> dict:
    """No host is fetched more often in one round than its cap."""
    per = eng.cat.read("trace").groupBy("round", "host").agg(F.count("*").alias("n"))
    over = per.join(F.broadcast(rules), "host", "left").filter(
        F.col("n") > host_cap(w.per_host_budget, eng.round_seconds)).count()
    return {"name": "host_caps", "ok": over == 0, "violations": over}


def not_modified(eng, w: Workload, seed: int) -> dict:
    """Recrawl: an answered page is 304 exactly when it did not change
    since the prior epoch's validator."""
    churned = fault_flags(w, seed)["churned"]
    row = eng.fetch_log().filter(F.col("status").isin(200, 304)).agg(
        F.sum(F.when(F.col("status") == 304, 1).otherwise(0)).alias("n304"),
        F.sum(F.when(~churned, 1).otherwise(0)).alias("unchanged"),
        F.sum(F.when((F.col("status") == 304) == churned, 1).otherwise(0)).alias("bad"),
    ).head()
    n304, unchanged, bad = int(row.n304 or 0), int(row.unchanged or 0), int(row.bad or 0)
    return {"name": "not_modified", "ok": n304 == unchanged and bad == 0 and n304 > 0,
            "n304": n304, "unchanged": unchanged, "wrong_status": bad}


def retries_kept(eng) -> dict:
    """Recrawl: every 503 is fetched again in a later round or is still
    pending as a retry; none is lost."""
    log = eng.fetch_log().select("url", "round", "status")
    failed = log.filter(F.col("status") == 503).select("url", F.col("round").alias("r503"))
    later = log.select(F.col("url").alias("__u"), F.col("round").alias("__r"))
    refetched = failed.join(
        later, (F.col("url") == F.col("__u")) & (F.col("__r") > F.col("r503")), "left_semi")
    latest = eng.cat.read("frontier_state").groupBy("url").agg(
        F.max_by("state", "round").alias("last"))
    pending = failed.join(latest.filter(F.col("last") == "retry"), "url", "left_semi")
    n503, n_re, n_pend = failed.count(), refetched.count(), pending.count()
    ok = n503 > 0 and n_re > 0 and failed.join(refetched, ["url", "r503"], "left_anti") \
        .join(pending, ["url", "r503"], "left_anti").count() == 0
    return {"name": "retries_kept", "ok": ok, "n503": n503, "refetched": n_re,
            "pending": n_pend}


def backlog_untouched(eng, w: Workload, rounds: list[dict]) -> dict:
    """Deep backlog: no timed round fetched a backlog URL while live work
    remained. Every timed round took its full budget without one, so
    live work remained throughout. (The warm-up round may reach the
    backlog once it has fetched every seed.)"""
    timed = [r["round"] for r in rounds]
    fetched = eng.fetch_log().filter(
        _url_host().startswith("bl") & F.col("round").isin(timed)).count()
    full = all(r.get("n") == w.budget for r in rounds)
    return {"name": "backlog_untouched", "ok": fetched == 0 and full,
            "backlog_fetched": fetched, "rounds_full": full}


def leftover_eligible(eng, rules: DataFrame, w: Workload, r: int) -> int:
    """URLs round ``r`` could still have taken: rows queued before it,
    still eligible, on hosts that fetched fewer than their cap in it."""
    q = eng.store.queued(
        current_round=r, retry_delay_rounds=eng.retry_delay_rounds,
        retry_enabled=eng.max_retries > 0,
    ).filter(F.col("discovered_round") < r).groupBy("host").agg(
        F.count("*").alias("queued"))
    took = eng.cat.read("trace").filter(F.col("round") == r).groupBy("host").agg(
        F.count("*").alias("took"))
    room = q.join(took, "host", "left").join(F.broadcast(rules), "host", "left").select(
        F.least(F.col("queued"),
                host_cap(w.per_host_budget, eng.round_seconds)
                - F.coalesce(F.col("took"), F.lit(0))).alias("room"))
    row = room.filter(F.col("room") > 0).agg(F.sum("room").alias("n")).head()
    return int(row.n or 0)


def run_checks(eng, w: Workload, inp, seed: int, rules: DataFrame,
               rounds: list[dict]) -> list[dict]:
    import time

    todo = [
        lambda: text_identity(eng, inp.pages),
        lambda: trace_unique(eng),
        lambda: robots_respected(eng, rules),
        lambda: host_caps(eng, rules, w),
    ]
    if w.churn_pct:
        todo.append(lambda: not_modified(eng, w, seed))
    if w.flaky_pct:
        todo.append(lambda: retries_kept(eng))
    if w.backlog_files:
        todo.append(lambda: backlog_untouched(eng, w, rounds))
    out = []
    for check in todo:
        t0 = time.monotonic()
        res = check()
        res["s"] = time.monotonic() - t0
        out.append(res)
    return out
