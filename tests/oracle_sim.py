"""Pure-Python oracle simulator for the crawl contract (SURVEY §2.4).

This is TEST-ONLY code and the single source of truth for ordering
semantics (SURVEY §7.4): the Spark engine must reproduce its visited
trace exactly — the analog of pomp's test_simple_crawler /
test_contrib_concurrent assertions (visited set AND order for the same
seed list + politeness budget).

Contract (shared with pompspark.engine):
- round 0 seeds the frontier; rounds 1.. each dequeue-fetch-merge.
- eligibility: state == 'queued'. robots-disallowed urls enter the
  frontier as state='excluded' at merge time and are never fetched.
- per-host politeness cap per round:
    cap(host) = per_host_budget                      (no crawl_delay)
              = min(per_host_budget,
                    max(1, floor(round_seconds / crawl_delay)))
- sort key (ascending, first wins):
    bfs: (-priority, depth, seq)   — FIFO within a priority class
    dfs: (-priority, -seq)         — strict LIFO (pomp default queue)
  pomp cite: Pomp(breadth_first=...) flag, pomp/core/engine.py;
  LIFO default per BaseQueue/SimpleQueue semantics.
- dequeue: per host take first cap(host) by key, then globally take
  first per_round_budget by the same key. Fetch order = that order.
- fetch: page found -> status 200 + links; missing -> status 404,
  no links; the crawl continues either way (pomp error isolation:
  BaseCrawlException routed via process_exception, crawl never stops).
- discovery: for each fetched 200-page in fetch order, outlinks in
  anchor order; canonicalize(link, base=url); None dropped; first
  occurrence wins; urls already in the frontier (any state) skipped.
  New rows: depth=parent+1, priority=CHILD_PRIORITY, seq=next counter.
- stop: no queued rows, or max_rounds.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

from pompspark.canon import canonicalize, host_of

CHILD_PRIORITY = 0.5
SEED_PRIORITY = 1.0


@dataclass
class Entry:
    url: str
    host: str
    depth: int
    priority: float
    seq: int
    state: str  # queued | fetched | error | excluded | retry | redirect
    discovered_round: int = 0
    attempts: int = 0       # failed fetch attempts so far
    retry_round: int = 0    # round of the last transient failure


@dataclass
class TraceRow:
    round: int
    rank: int  # fetch order within round (0-based)
    url: str
    depth: int
    host: str


@dataclass
class OracleCrawl:
    sitemap: dict[str, list[str]]  # canonical url -> ordered child hrefs
    ordering: str = "bfs"
    per_round_budget: int = 3
    per_host_budget: int = 2
    round_seconds: float = 1.0
    robots: dict[str, dict] | None = None  # host -> {crawl_delay, disallow[]}
    # transient-failure / retry contract (mirrors CrawlEngine):
    # a url with flaky[url] = n fails its first n fetch attempts with a
    # 503; after each failure, if attempts <= max_retries the entry
    # parks as 'retry' and re-enters the queue (same priority/depth/
    # seq) once current_round - retry_round >= retry_delay_rounds;
    # otherwise it is terminal 'error'. 404s are always terminal.
    flaky: dict[str, int] | None = None
    # redirect contract (mirrors CrawlEngine): redirects[url] = the
    # Location header value (absolute or relative). Fetching such a
    # url records status 301 / state 'redirect' (terminal, never
    # retried) and admits canonicalize(location, base=url) exactly
    # like a discovered link: depth+1, CHILD_PRIORITY, next seq — so
    # depth rules bound redirect chains and frontier dedup terminates
    # cycles. A Location wins over the flaky marker (the server
    # answered, with a 301).
    redirects: dict[str, str] | None = None
    # conditional-GET contract: urls in ``not_modified`` answer 304 —
    # a completed visit (state 'fetched') with no body and no
    # discoveries; mirrors SimulatedFetcher(validators=...) where the
    # page's warc_ts <= the epoch's if_modified_since validator.
    not_modified: set[str] | None = None
    # per-url Retry-After cool-down in ROUNDS (5xx Retry-After header,
    # already divided by round_seconds); missing urls, and values that
    # are not positive (negative, zero, NaN headers), use
    # retry_delay_rounds. Mirrors frontier.queued()'s per-row coalesce.
    retry_after_rounds: dict[str, int] | None = None
    max_retries: int = 0
    retry_delay_rounds: int = 1
    max_rounds: int = 10_000
    entries: dict[str, Entry] = field(default_factory=dict)
    trace: list[TraceRow] = field(default_factory=list)
    fetch_log: list[dict] = field(default_factory=list)
    _seq: int = 0

    # ------------------------------------------------------------ helpers
    def _disallowed(self, url: str, host: str) -> bool:
        r = (self.robots or {}).get(host)
        if not r:
            return False
        from urllib.parse import urlsplit

        path = urlsplit(url).path or "/"
        # RFC 9309 §2.2.2 longest-match: most specific rule wins,
        # tie -> allow; §2.2.3 '*' wildcard + trailing '$' anchor
        # (mirrors robots.with_robots)
        def rule_match(rule: str) -> bool:
            if "*" in rule or rule.endswith("$"):
                import re as _re

                pat = _re.escape(rule).replace(r"\*", ".*")
                if pat.endswith(r"\$"):
                    pat = pat[:-2] + "$"
                return _re.match(pat, path) is not None
            return path.startswith(rule)

        dis = max((len(p) for p in r.get("disallow", [])
                   if rule_match(p)), default=0)
        alw = max((len(p) for p in r.get("allow", [])
                   if rule_match(p)), default=0)
        return dis > alw

    def _retry_delay(self, url: str) -> int:
        d = (self.retry_after_rounds or {}).get(url)
        # NaN fails d > 0 too
        return d if d is not None and d > 0 else self.retry_delay_rounds

    def _cap(self, host: str) -> int:
        r = (self.robots or {}).get(host)
        if not r or not r.get("crawl_delay"):
            return self.per_host_budget
        return min(self.per_host_budget,
                   max(1, math.floor(self.round_seconds / r["crawl_delay"])))

    def _key(self, e: Entry):
        if self.ordering == "bfs":
            return (-e.priority, e.depth, e.seq)
        return (-e.priority, -e.seq)

    def _admit(self, url: str, depth: int, priority: float, rnd: int) -> None:
        host = host_of(url)
        if host is None or url in self.entries:
            return
        state = "excluded" if self._disallowed(url, host) else "queued"
        self.entries[url] = Entry(url, host, depth, priority, self._seq, state, rnd)
        self._seq += 1

    # ------------------------------------------------------------ run
    def seed(self, seeds: list[str | tuple[str, float]]) -> None:
        for s in seeds:
            url, pri = (s, SEED_PRIORITY) if isinstance(s, str) else s
            c = canonicalize(url)
            if c is not None:
                self._admit(c, 0, pri, 0)

    def run(self) -> list[TraceRow]:
        rnd = 0
        while rnd < self.max_rounds:
            rnd += 1
            queued = [
                e for e in self.entries.values()
                if e.state == "queued"
                or (e.state == "retry"
                    and rnd - e.retry_round >= self._retry_delay(e.url))
            ]
            if not queued:
                if any(e.state == "retry" for e in self.entries.values()):
                    # only cooling-down retries left: idle round
                    continue
                break
            # per-host cap
            by_host: dict[str, list[Entry]] = {}
            for e in queued:
                by_host.setdefault(e.host, []).append(e)
            selected: list[Entry] = []
            for host, es in by_host.items():
                es.sort(key=self._key)
                selected.extend(es[: self._cap(host)])
            # global budget
            selected.sort(key=self._key)
            selected = selected[: self.per_round_budget]
            if not selected:
                break
            # fetch in order; collect discoveries in order
            for rank, e in enumerate(selected):
                self.trace.append(TraceRow(rnd, rank, e.url, e.depth, e.host))
                loc = (self.redirects or {}).get(e.url)
                if loc is not None:
                    e.state = "redirect"
                    self.fetch_log.append({"url": e.url, "round": rnd,
                                           "status": 301, "n_links": 0})
                    c = canonicalize(loc, base=e.url)
                    if c is not None:
                        self._admit(c, e.depth + 1, CHILD_PRIORITY, rnd)
                    continue
                kids = self.sitemap.get(e.url)
                if kids is None:
                    e.state = "error"
                    self.fetch_log.append({"url": e.url, "round": rnd,
                                           "status": 404, "n_links": 0})
                    continue
                if e.url in (self.not_modified or ()):
                    # flaky precedence matches SimulatedFetcher: the
                    # 304 applies only where the fetch would succeed
                    if e.attempts >= (self.flaky or {}).get(e.url, 0):
                        e.state = "fetched"
                        self.fetch_log.append({"url": e.url, "round": rnd,
                                               "status": 304,
                                               "n_links": 0})
                        continue
                if e.attempts < (self.flaky or {}).get(e.url, 0):
                    e.attempts += 1
                    if e.attempts <= self.max_retries:
                        e.state = "retry"
                        e.retry_round = rnd
                    else:
                        e.state = "error"
                    self.fetch_log.append({"url": e.url, "round": rnd,
                                           "status": 503, "n_links": 0})
                    continue
                e.state = "fetched"
                self.fetch_log.append({"url": e.url, "round": rnd,
                                       "status": 200, "n_links": len(kids)})
                for href in kids:
                    c = canonicalize(href, base=e.url)
                    if c is not None:
                        self._admit(c, e.depth + 1, CHILD_PRIORITY, rnd)
        return self.trace

    # convenience: golden trace table rows
    def trace_tuples(self) -> list[tuple[int, int, str, int, str]]:
        return [(t.round, t.rank, t.url, t.depth, t.host) for t in self.trace]
