"""Per-layer attribution for a traced run, entirely from outside the program.

Two sources, joined by the Spark job group:

1. **Spans.** ``SpanRecorder.install`` wraps the program's public calls
   where Spark jobs run, one layer each. Each span records
   name, layer, start, end, parent, round, phase and thread, and sets the
   Spark job group to ``pb<span id>`` for its duration, so every job the
   call starts is labelled with the innermost span. Spans stay in memory.
2. **Spark's event log** (enabled only for traced runs). Task-end events
   carry run/CPU/GC time, shuffle and spill bytes and the SQL metrics of
   the Python runners; stage-submitted events carry the job group.

``layer_metrics`` folds both into the per-layer table. Additive values
are per timed round, so runs with different round counts compare.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import os
import statistics
import threading
import time

LAYERS = [
    "frontier.dequeue", "fetch", "frontier.merge", "seen",
    "frontier.compact", "tables", "engine",
]

# Spark metrics kept for every layer: name -> unit
TASK_METRICS = {
    "task_s": "s", "cpu_s": "s", "gc_s": "s", "shuffle_read_bytes": "B",
    "shuffle_write_bytes": "B", "spill_bytes": "B", "task_skew": "ratio",
    "python_s": "s", "python_boot_s": "s",
}
# Spark 4.1 SQL metric names of the Python runner nodes. Both times are
# worker wall time per task and Python node (a task with two chained UDF
# nodes runs two workers, each also waiting on its input). The "time to
# initialize" metric is left out: for a reused worker it measures from
# the worker's boot, i.e. its age, not this task's start-up.
_PY_RUN = "time to run Python workers"        # pythonTotalTime, ms
_PY_BOOT = "time to start Python workers"     # pythonBootTime, ms
_PY_SENT = "data sent to Python workers"      # pythonDataSent, bytes

# per layer: metric -> unit, beyond the span and task metrics
LAYER_COUNTS = {
    "frontier.dequeue": {"rows_out": "count", "frontier_rows": "count",
                         "state_rows": "count", "bands_read": "count"},
    "fetch": {"rows_out": "count", "input_bytes": "B", "body_bytes": "B",
              "output_bytes": "B", "python_bytes_sent": "B",
              "status_200": "count", "status_304": "count",
              "status_3xx": "count", "status_5xx": "count"},
    "frontier.merge": {"links_in": "count", "rows_new": "count",
                       "new_frac": "fraction"},
    "seen": {"table_bytes": "B"},
    "frontier.compact": {"stall_s": "s", "output_bytes": "B"},
    "tables": {"commits": "count"},
    "engine": {"self_s": "s", "spark_jobs_per_round": "count",
               "seed_s": "s", "robots_excluded_rows": "count"},
}


def metric_units() -> dict[str, str]:
    """Every per-layer metric name -> unit, in report order."""
    out = {}
    for layer in LAYERS:
        out[f"{layer}.busy_s"] = "s"
        out[f"{layer}.calls"] = "count"
        for m, u in TASK_METRICS.items():
            out[f"{layer}.{m}"] = u
        for m, u in LAYER_COUNTS[layer].items():
            out[f"{layer}.{m}"] = u
    out["trace.overhead_frac"] = "fraction"
    return out


class SpanRecorder:
    """In-memory spans around the program's public calls. ``phase`` and
    ``round`` are set by the benchmark loop; spans opened on another
    thread (background compaction) take the values current at their
    start."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self.phase = "setup"
        self.round = 0
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._ids = itertools.count(1)
        self._undo: list[tuple] = []

    def _stack(self) -> list:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        stack = self._stack()
        parent = stack[-1] if stack else None
        sp = {
            "id": next(self._ids), "name": name, "layer": layer,
            "parent": parent["id"] if parent else None,
            "round": self.round, "phase": self.phase,
            "thread": threading.current_thread().name,
            "start": time.monotonic(), "end": None, "counts": {},
        }
        with self._lock:
            self.spans.append(sp)
        stack.append(sp)
        self._label(sp)
        try:
            yield sp
        finally:
            sp["end"] = time.monotonic()
            stack.pop()
            self._label(stack[-1] if stack else None)

    def _label(self, sp: dict | None) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", f"pb{sp['id']}" if sp else None)
        self.sc.setLocalProperty("spark.job.description", sp["name"] if sp else None)

    def wrap(self, owner, attr: str, name: str, layer: str,
             counts=None, when=None) -> None:
        """Replace ``owner.attr`` by a spanned call. A call nested in a
        span of the same layer, or refused by ``when(args)``, passes
        through unspanned (its jobs stay with the enclosing span)."""
        orig = getattr(owner, attr)
        rec = self

        @functools.wraps(orig)
        def spanned(*args, **kwargs):
            stack = rec._stack()
            if (stack and stack[-1]["layer"] == layer) or (
                when is not None and not when(stack, args)
            ):
                return orig(*args, **kwargs)
            with rec.span(name, layer) as sp:
                out = orig(*args, **kwargs)
                if counts is not None:
                    sp["counts"].update(counts(args, out))
                return out

        setattr(owner, attr, spanned)
        self._undo.append((owner, attr, orig))

    def install(self) -> None:
        """Wrap each layer's public calls (the layer table in README.md)."""
        import pompspark.engine as engine
        import pompspark.frontier as frontier
        import pompspark.seen as seen
        import pompspark.tables as tables

        def in_round(stack, _args):
            return any(s["name"] == "engine.round" for s in stack)

        E, FS, C = engine.CrawlEngine, frontier.FrontierStore, tables.Catalog
        self.wrap(E, "run_round", "engine.round", "engine",
                  counts=lambda a, n: {"rows_out": n})
        self.wrap(E, "seed", "engine.seed", "engine")
        self.wrap(E, "seed_frontier", "engine.seed", "engine")
        # flat dequeue materializes through materialize_batch; banded
        # dequeue calls it per band prefix (nested: one span)
        self.wrap(frontier, "materialize_batch", "frontier.dequeue",
                  "frontier.dequeue", counts=lambda a, n: {"rows_out": n})
        self.wrap(frontier, "dequeue_banded", "frontier.dequeue",
                  "frontier.dequeue",
                  counts=lambda a, o: {"rows_out": o[1], "bands_read": o[2]})
        # fetch + extract run inside the fetch_log round write
        self.wrap(C, "append_with", "fetch", "fetch",
                  counts=lambda a, o: {"path": o[1]},
                  when=lambda st, a: a[1] == "fetch_log")
        # the link merge commits through append_delta (seeding also
        # does: that stays with engine.seed)
        self.wrap(FS, "append_delta", "frontier.merge", "frontier.merge",
                  counts=lambda a, o: {"rows_new": o[0]}, when=in_round)
        self.wrap(FS, "index_append", "seen", "seen")
        self.wrap(seen.SeenFilter, "add", "seen", "seen")
        self.wrap(seen.SeenFilter, "maybe_compact", "seen", "seen")
        self.wrap(seen.SeenFilter, "compact", "seen", "seen")
        self.wrap(FS, "compact", "frontier.compact", "frontier.compact")
        self.wrap(C, "append_rows", "tables", "tables")
        self.wrap(C, "append_dir", "tables", "tables")

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()


# ----------------------------------------------------------- event log
def read_event_log(log_dir: str) -> dict:
    """Per job group: task metric sums, per-stage task run times and the
    job count. Reads the uncompressed, non-rolling JSON event log."""
    groups: dict[str, dict] = {}
    stage_group: dict[int, str] = {}

    def g(name):
        return groups.setdefault(name, {
            "jobs": 0, "task_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
            "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
            "spill_bytes": 0, "input_bytes": 0, "output_bytes": 0,
            "python_s": 0.0, "python_boot_s": 0.0,
            "python_bytes_sent": 0, "stage_runs": {},
        })

    for fn in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, fn)) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    grp = (e.get("Properties") or {}).get("spark.jobGroup.id")
                    if grp:
                        g(grp)["jobs"] += 1
                elif kind == "SparkListenerStageSubmitted":
                    grp = (e.get("Properties") or {}).get("spark.jobGroup.id")
                    if grp:
                        stage_group[e["Stage Info"]["Stage ID"]] = grp
                elif kind == "SparkListenerTaskEnd":
                    grp = stage_group.get(e["Stage ID"])
                    m = e.get("Task Metrics")
                    if grp is None or not m:
                        continue
                    acc = g(grp)
                    run = m["Executor Run Time"] / 1e3
                    acc["task_s"] += run
                    acc["cpu_s"] += m["Executor CPU Time"] / 1e9
                    acc["gc_s"] += m["JVM GC Time"] / 1e3
                    sr = m["Shuffle Read Metrics"]
                    acc["shuffle_read_bytes"] += (
                        sr["Remote Bytes Read"] + sr["Local Bytes Read"])
                    acc["shuffle_write_bytes"] += (
                        m["Shuffle Write Metrics"]["Shuffle Bytes Written"])
                    acc["spill_bytes"] += m["Disk Bytes Spilled"]
                    acc["input_bytes"] += m["Input Metrics"]["Bytes Read"]
                    acc["output_bytes"] += m["Output Metrics"]["Bytes Written"]
                    acc["stage_runs"].setdefault(e["Stage ID"], []).append(run)
                    for a in e["Task Info"].get("Accumulables", []):
                        name = a.get("Name")
                        if name == _PY_RUN:
                            acc["python_s"] += int(a["Update"]) / 1e3
                        elif name == _PY_BOOT:
                            acc["python_boot_s"] += int(a["Update"]) / 1e3
                        elif name == _PY_SENT:
                            acc["python_bytes_sent"] += int(a["Update"])
    return groups


# ------------------------------------------------------------ folding
def _union(intervals) -> float:
    total, end = 0.0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def _overlap(a: tuple, intervals) -> float:
    return _union(
        (max(a[0], s), min(a[1], e)) for s, e in intervals
        if min(a[1], e) > max(a[0], s)
    )


def layer_metrics(spans: list[dict], groups: dict, fetch_stats: dict,
                  extra: dict) -> dict[str, float]:
    """The per-layer table over the timed rounds. ``fetch_stats``: sums
    over the timed rounds' fetch files (status classes, body bytes,
    links); ``extra``: values measured outside the spans (table bytes,
    commits, excluded rows, overhead)."""
    spans = [s for s in spans if s["end"] is not None]
    by_id = {s["id"]: s for s in spans}
    timed = [s for s in spans if s["phase"] == "timed"]
    rounds = [s for s in timed if s["name"] == "engine.round"]
    n_rounds = max(1, len(rounds))
    out: dict[str, float] = {}

    def root_round(s):
        while s is not None and s["name"] != "engine.round":
            s = by_id.get(s["parent"])
        return s

    for layer in LAYERS:
        mine = [s for s in timed if s["layer"] == layer]
        out[f"{layer}.busy_s"] = _union((s["start"], s["end"]) for s in mine) / n_rounds
        out[f"{layer}.calls"] = len(mine) / n_rounds
        acc = {k: 0.0 for k in ("task_s", "cpu_s", "gc_s", "shuffle_read_bytes",
                                "shuffle_write_bytes", "spill_bytes", "input_bytes",
                                "output_bytes", "python_s", "python_boot_s",
                                "python_bytes_sent")}
        skews, weights = [], []
        for s in mine:
            grp = groups.get(f"pb{s['id']}")
            if not grp:
                continue
            for k in acc:
                acc[k] += grp[k]
            for runs in grp["stage_runs"].values():
                med = statistics.median(runs)
                if len(runs) > 1 and med > 0:
                    skews.append(max(runs) / med)
                    weights.append(sum(runs))
        for k in TASK_METRICS:
            if k != "task_skew":
                out[f"{layer}.{k}"] = acc[k] / n_rounds
        # task-time-weighted mean over stages of max / median task time
        out[f"{layer}.task_skew"] = (
            sum(s * w for s, w in zip(skews, weights)) / sum(weights)
            if weights else 1.0
        )
        if layer == "fetch":
            out["fetch.input_bytes"] = acc["input_bytes"] / n_rounds
            out["fetch.output_bytes"] = acc["output_bytes"] / n_rounds
            out["fetch.python_bytes_sent"] = acc["python_bytes_sent"] / n_rounds
        if layer == "frontier.compact":
            out["frontier.compact.output_bytes"] = acc["output_bytes"] / n_rounds

    def per_round(layer, key):
        vals = [s["counts"][key] for s in timed
                if s["layer"] == layer and key in s["counts"]]
        return sum(vals) / n_rounds

    out["frontier.dequeue.rows_out"] = per_round("frontier.dequeue", "rows_out")
    rb = [s["counts"]["bands_read"] for s in timed if "bands_read" in s["counts"]]
    out["frontier.dequeue.bands_read"] = statistics.median(rb) if rb else 0
    for key in ("frontier_rows", "state_rows"):
        vals = extra[key]  # footer counts taken before each timed round
        out[f"frontier.dequeue.{key}"] = statistics.median(vals) if vals else 0
    out["fetch.rows_out"] = fetch_stats["rows"] / n_rounds
    out["fetch.body_bytes"] = fetch_stats["body_bytes"] / n_rounds
    for k in ("status_200", "status_304", "status_3xx", "status_5xx"):
        out[f"fetch.{k}"] = fetch_stats[k] / n_rounds
    links = fetch_stats["links"]
    new = sum(s["counts"].get("rows_new", 0) for s in timed
              if s["layer"] == "frontier.merge")
    out["frontier.merge.links_in"] = links / n_rounds
    out["frontier.merge.rows_new"] = new / n_rounds
    out["frontier.merge.new_frac"] = new / links if links else 0.0
    out["seen.table_bytes"] = extra["seen_table_bytes"]
    compacts = [(s["start"], s["end"]) for s in timed if s["layer"] == "frontier.compact"]
    out["frontier.compact.stall_s"] = sum(
        _overlap((r["start"], r["end"]), compacts) for r in rounds) / n_rounds
    out["tables.commits"] = extra["commits"] / n_rounds

    # engine self time: round wall minus what its child spans cover
    self_s = 0.0
    for r in rounds:
        kids = [(s["start"], s["end"]) for s in spans if s["parent"] == r["id"]]
        self_s += (r["end"] - r["start"]) - _overlap((r["start"], r["end"]), kids)
    out["engine.self_s"] = self_s / n_rounds
    jobs = 0
    for s in spans:
        rr = root_round(s)
        if rr is not None and rr["phase"] == "timed":
            jobs += groups.get(f"pb{s['id']}", {}).get("jobs", 0)
    out["engine.spark_jobs_per_round"] = jobs / n_rounds
    seeds = [s for s in spans if s["name"] == "engine.seed"]
    out["engine.seed_s"] = (seeds[-1]["end"] - seeds[-1]["start"]) if seeds else 0.0
    out["engine.robots_excluded_rows"] = extra["robots_excluded_rows"]
    out["trace.overhead_frac"] = extra["overhead_frac"]
    return out
