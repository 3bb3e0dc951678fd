#!/usr/bin/env python3
"""Crawl benchmark for pompspark: one workload, one seed, one run.

    python3 perfbench/run.py --workload crawl_fresh --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The run builds a ``local[nproc]`` Spark
session fitted to the host, generates (or reuses) the workload's inputs,
sets the engine up, runs warm-up rounds, then timed rounds (closed loop,
one round in flight) until ``--seconds`` have passed and at least
MIN_ROUNDS rounds are done, then checks the crawl's output untimed.

The last line of stdout is the result: ``{"correct", "attempted",
"failed", "metrics"}`` with the end-to-end metrics (``--trace 0``) or the
per-layer metrics (``--trace 1``). The line before it is the full record:
host, every round, set-up phases, input generation, every check. The exit
code is 0 only when every check passed. On an exception or SIGTERM the
run still prints both lines, with an ``error`` in the record, and exits 1.
See README.md for the metrics and workloads.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

import checks
import layertrace
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
MIN_ROUNDS = 3  # timed rounds per run, however fast they are
END_TO_END = {
    "urls_per_s": "1/s", "round_s_p50": "s", "round_s_max": "s",
    "setup_s": "s", "peak_rss_mb": "MB", "state_bytes_per_url": "B",
}


class Terminated(Exception):
    pass


def _sigterm(_signo, _frame):
    raise Terminated("SIGTERM")


# ------------------------------------------------------------- host
def host_info() -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = int(next(ln for ln in f if ln.startswith("MemTotal")).split()[1])
    info = {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": mem_kb // 1024,
        "python": sys.version.split()[0],
    }
    try:
        import pyspark

        info["pyspark"] = pyspark.__version__
    except ImportError:
        pass
    try:
        info["git_rev"] = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
            text=True, timeout=10, check=True).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        info["git_rev"] = None  # a checkout without .git
    import hashlib

    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "pompspark")
    for fn in sorted(os.listdir(pkg)):
        if fn.endswith(".py"):
            with open(os.path.join(pkg, fn), "rb") as f:
                h.update(fn.encode() + f.read())
    info["src_sha256"] = h.hexdigest()[:16]
    return info


def driver_mem_gb(mem_total_mb: int) -> int:
    """A fifth of the host's RAM for the one local JVM, at least 2 and at
    most 8 GB: the rest is for the Python workers, the page cache and
    neighbours."""
    return max(2, min(8, mem_total_mb // 5120))


class RssSampler(threading.Thread):
    """Peak resident memory of this process and every descendant (the JVM
    and the Python workers it forks): the sum over processes of each
    one's own high-water mark (VmHWM, kept exactly by the kernel), read
    from /proc every 0.1 s while the process lives. A sampled sum of
    current RSS catches a worker's short multi-GB peak only when a sample
    lands on it, which made the figure bimodal from run to run.

    Two peaks are kept: the whole run's (``peak_bytes``, split by
    ``parts`` into this process, the JVM and the Python workers), and a
    window's, between ``begin_window`` and ``end_window``. A window
    starts by resetting every live process's VmHWM to its current RSS
    (writing 5 to /proc/<pid>/clear_refs), so it holds only the peaks
    reached inside it."""

    def __init__(self, interval: float = 0.1):
        super().__init__(daemon=True)
        self.interval = interval
        self.hwm: dict[int, tuple[str, int]] = {}  # pid -> (part, bytes)
        self.window: dict[int, int] = {}  # pid -> bytes, this window
        self._lock = threading.Lock()
        self._stop_evt = threading.Event()

    @staticmethod
    def _vm_hwm(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1]) * 1024
        except OSError:
            pass  # exited meanwhile
        return 0

    @staticmethod
    def _exe(pid: int) -> str | None:
        try:
            return os.readlink(f"/proc/{pid}/exe")
        except OSError:
            return None  # exited meanwhile

    @classmethod
    def _tree(cls) -> list[tuple[int, str]]:
        """(pid, part) of this process and every live descendant, less a
        JVM child that still runs the JVM's own binary: a command the JVM
        is spawning, between vfork and exec, whose status shows the JVM's
        whole resident set (~4 GB) because it shares the JVM's memory."""
        kids: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue  # exited meanwhile
            kids.setdefault(ppid, []).append(int(d))
        me = os.getpid()
        out, todo = [], [(me, "driver")]
        while todo:
            pid, part = todo.pop()
            out.append((pid, part))
            child = "jvm" if pid == me else "python_workers"
            for k in kids.get(pid, []):
                if part == "jvm" and cls._exe(k) == cls._exe(pid):
                    continue
                todo.append((k, child))
        return out

    def sample(self) -> None:
        with self._lock:
            for pid, part in self._tree():
                hwm = self._vm_hwm(pid)
                if hwm > self.hwm.get(pid, (part, 0))[1]:
                    self.hwm[pid] = (part, hwm)
                if hwm > self.window.get(pid, 0):
                    self.window[pid] = hwm

    def begin_window(self) -> None:
        self.sample()  # the run's peak up to here, before the reset
        with self._lock:
            for pid, _part in self._tree():
                try:
                    with open(f"/proc/{pid}/clear_refs", "w") as f:
                        f.write("5")
                except OSError:
                    pass  # exited meanwhile
            self.window = {}
        self.sample()

    def end_window(self) -> int:
        self.sample()
        with self._lock:
            return sum(self.window.values())

    @property
    def peak_bytes(self) -> int:
        return sum(b for _, b in self.hwm.values())

    @property
    def parts(self) -> dict:
        out = {"driver_mb": 0.0, "jvm_mb": 0.0, "python_workers_mb": 0.0,
               "python_workers": 0}
        for part, b in self.hwm.values():
            out[f"{part}_mb"] += b / 2**20
            out["python_workers"] += part == "python_workers"
        return out

    def run(self) -> None:
        while not self._stop_evt.wait(self.interval):
            self.sample()

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()
        self.sample()


def dir_bytes(path: str) -> int:
    total = 0
    for d, _subdirs, files in os.walk(path):
        for fn in files:
            total += os.path.getsize(os.path.join(d, fn))
    return total


def table_versions(state_dir: str) -> int:
    """Sum of every catalog table's current version: the commit count."""
    total = 0
    for t in os.listdir(state_dir):
        p = os.path.join(state_dir, t, "_latest")
        if os.path.exists(p):
            with open(p) as f:
                total += int(f.read().strip())
    return total


# ------------------------------------------------------------- spark
def build_session(run_dir: str, nproc: int, mem_gb: int, app: str, event_dir=None):
    """``local[nproc]`` with nproc shuffle partitions and a driver well
    below host RAM; every temp and warehouse path inside the run dir."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{mem_gb}g"
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    conf = {
        # html-heavy rows: small splits so the page scan fans out
        "spark.sql.files.maxPartitionBytes": "4m",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        # a fixed, pre-touched heap: the JVM's resident size is then the
        # heap plus its native memory, not wherever G1's adaptive sizing
        # happened to leave it (1.8-2.6 GB on one workload and seed)
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Xms{mem_gb}g -XX:+AlwaysPreTouch",
    }
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    from pompspark.session import build_spark

    return build_spark(f"local[{nproc}]", app_name=app,
                       shuffle_partitions=nproc, extra_conf=conf)


def shutdown_jvm() -> None:
    """End the gateway JVM and wait for it. It exits when its stdin pipe
    closes, and the Python workers it forked exit with it."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None or getattr(gw, "proc", None) is None:
        return
    gw.proc.stdin.close()
    try:
        gw.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gw.proc.kill()
        gw.proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


# ------------------------------------------------------------- the run
class Run:
    """One benchmark run: one or two crawl passes, the checks, the
    metrics. A traced run with no untraced urls/s recorded in this
    checkout makes an untraced pass first, as the overhead's base."""

    def __init__(self, args):
        self.args = args
        self.w = workloads.WORKLOADS[args.workload]
        self.record: dict = {"workload": args.workload, "seed": args.seed,
                             "trace": args.trace, "seconds": args.seconds}
        self.rounds: list[dict] = []
        self.checks: list[dict] = []
        self.metrics: dict = {}
        self.spark = None
        self.sampler = None
        self.tracer = None
        self.run_dir = os.path.join(WORK, "runs", f"{os.getpid()}")

    def crawl(self, traced: bool) -> dict:
        """Session, inputs, set-up, warm-up, timed rounds."""
        a, w = self.args, self.w
        host = host_info()
        mem_gb = driver_mem_gb(host["mem_total_mb"])
        # per-pass state; tmp stays for the process (the JVM's tmpdir)
        self.pass_dir = os.path.join(self.run_dir, "traced" if traced else "untraced")
        os.makedirs(self.pass_dir)
        self.sampler = RssSampler()
        self.sampler.start()
        event_dir = os.path.join(self.pass_dir, "events") if traced else None
        t0 = time.monotonic()
        self.spark = build_session(self.run_dir, host["nproc"], mem_gb,
                                   f"perfbench-{a.workload}", event_dir)
        session_s = time.monotonic() - t0
        host["java"] = self.spark.sparkContext._jvm.System.getProperty("java.version")
        host["driver_mem_gb"] = mem_gb
        self.record["host"] = host

        t0 = time.monotonic()
        inp = workloads.prepare(self.spark, w, a.seed, os.path.join(WORK, "cache"),
                                ROOT, host["nproc"])
        self.record["gen_s"] = time.monotonic() - t0
        self.record["inputs_made"] = inp.made

        self.tracer = layertrace.SpanRecorder(self.spark.sparkContext) if traced else None
        if self.tracer is not None:
            self.tracer.install()
        env_salt = os.environ.get("POMPSPARK_SALT_MIN_ROWS")
        if w.salt_min_rows:
            os.environ["POMPSPARK_SALT_MIN_ROWS"] = str(w.salt_min_rows)
        try:
            return self._crawl(inp, session_s)
        finally:
            if self.tracer is not None:
                self.tracer.uninstall()
            if env_salt is None:
                os.environ.pop("POMPSPARK_SALT_MIN_ROWS", None)
            else:
                os.environ["POMPSPARK_SALT_MIN_ROWS"] = env_salt

    def _crawl(self, inp, session_s: float) -> dict:
        a, w, tracer = self.args, self.w, self.tracer
        self.state_dir = os.path.join(self.pass_dir, "state")
        t0 = time.monotonic()
        eng, build = workloads.build_engine(self.spark, w, inp, self.state_dir)
        build_s = time.monotonic() - t0
        t0 = time.monotonic()
        if inp.backlog_files:
            # lay the injected backlog out in sort-key bands once, as the
            # last compaction of a long crawl would have left it
            from pompspark.frontier import BAND_COL

            eng.store.compact(band_col=BAND_COL[w.engine_kw["ordering"]])
        eng.run_round(w.warmup_budget)
        os.sync()
        warmup_s = time.monotonic() - t0
        setup_s = session_s + build_s + warmup_s
        self.record["setup"] = {"session_s": session_s, "build_s": build_s,
                                **build, "warmup_s": warmup_s, "setup_s": setup_s}
        self.eng, self.inp = eng, inp
        rules = checks.host_rules(inp.robots)

        # ---------------- timed rounds ----------------
        if tracer is not None:
            tracer.phase = "timed"
        self.extra = {"frontier_rows": [], "state_rows": []}
        v0 = table_versions(self.state_dir)
        t_start = time.monotonic()
        while True:
            if tracer is not None:
                # footer counts only (zero Spark jobs), outside the round
                self.extra["frontier_rows"].append(eng.cat.row_count("frontier"))
                self.extra["state_rows"].append(eng.cat.row_count("frontier_state"))
                tracer.round = eng.round + 1
            self.sampler.begin_window()
            r0 = time.monotonic()
            try:
                n = eng.run_round()
                os.sync()
            except Exception as e:
                self.rounds.append({"round": eng.round + 1, "failed": True,
                                    "error": f"{type(e).__name__}: {e}"})
                raise
            rec = {"round": eng.round, "n": n, "wall_s": time.monotonic() - r0,
                   "peak_rss_mb": self.sampler.end_window() / 2**20,
                   "stages": dict(eng.last_round_timings)}
            if n < w.budget:
                # short round: a failure if the round left eligible work
                rec["left_eligible"] = checks.leftover_eligible(eng, rules, w, eng.round)
                rec["failed"] = rec["left_eligible"] > 0
            self.rounds.append(rec)
            if len(self.rounds) >= MIN_ROUNDS and time.monotonic() - t_start >= a.seconds:
                break
        if tracer is not None:
            tracer.phase = "after"
        commits = table_versions(self.state_dir) - v0
        eng.run(max_rounds=eng.round)  # joins a background compaction
        self.sampler.stop()
        walls = [r["wall_s"] for r in self.rounds]
        return {
            "urls_per_s": sum(r["n"] for r in self.rounds) / sum(walls),
            "round_s_p50": statistics.median(walls),
            "round_s_max": max(walls),
            "setup_s": setup_s,
            "peak_rss_mb": max(r["peak_rss_mb"] for r in self.rounds),
            "state_bytes_per_url": dir_bytes(self.state_dir) / eng.urls_fetched_total,
            "commits": commits,
        }

    def stop_spark(self) -> None:
        if self.sampler is not None and self.sampler.is_alive():
            self.sampler.stop()
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def execute(self) -> None:
        a = self.args
        results = os.path.join(WORK, "results.jsonl")
        if a.trace:
            ref = reference_urls_per_s(results, a.workload)
            if ref is None:
                ref = self.crawl(traced=False)["urls_per_s"]
                self.stop_spark()
                self.rounds = []
            self.record["overhead_reference_urls_per_s"] = ref
        e2e = self.crawl(traced=bool(a.trace))
        self.record["rounds"] = self.rounds
        self.record["end_to_end"] = {k: e2e[k] for k in END_TO_END}
        self.record["peak_rss_mb_run"] = self.sampler.peak_bytes / 2**20
        self.record["peak_rss_parts"] = self.sampler.parts

        t0 = time.monotonic()
        self.checks = checks.run_checks(self.eng, self.w, self.inp, a.seed,
                                        checks.host_rules(self.inp.robots),
                                        self.rounds)
        self.record["checks_s"] = time.monotonic() - t0
        if not a.trace:
            self.metrics = {k: e2e[k] for k in END_TO_END}
            with open(results, "a") as f:
                f.write(json.dumps({"workload": a.workload, "seed": a.seed,
                                    "urls_per_s": e2e["urls_per_s"]}) + "\n")
            return
        from pyspark.sql import functions as F

        excluded = self.eng.cat.read("frontier").filter(
            F.col("state") == "excluded").count()
        self.stop_spark()  # flushes the event log
        groups = layertrace.read_event_log(os.path.join(self.pass_dir, "events"))
        extra = dict(self.extra)
        extra.update({
            "seen_table_bytes": dir_bytes(os.path.join(self.state_dir, "seen"))
            + dir_bytes(os.path.join(self.state_dir, "frontier_index")),
            "commits": e2e["commits"],
            "robots_excluded_rows": excluded,
            "overhead_frac": 1.0 - e2e["urls_per_s"] / ref,
        })
        spans = self.tracer.spans
        self.metrics = layertrace.layer_metrics(spans, groups, fetch_stats(spans), extra)


def fetch_stats(spans: list[dict]) -> dict:
    """Status classes, 200-body bytes and links over the timed rounds'
    fetch files (driver-side pyarrow, after the run)."""
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    def count(mask) -> int:
        return pc.sum(pc.cast(mask, "int64")).as_py() or 0

    out = {"rows": 0, "body_bytes": 0, "links": 0, "status_200": 0,
           "status_304": 0, "status_3xx": 0, "status_5xx": 0}
    for s in spans:
        if s["phase"] != "timed" or "path" not in s["counts"]:
            continue
        t = ds.dataset(s["counts"]["path"], format="parquet").to_table(
            columns=["status", "n_bytes", "n_links", "location"])
        st = t["status"]
        ok = pc.equal(st, 200)
        not_modified = pc.equal(st, 304)
        is_3xx = pc.and_(pc.greater_equal(st, 300), pc.less(st, 400))
        out["rows"] += t.num_rows
        out["body_bytes"] += pc.sum(pc.if_else(ok, t["n_bytes"], 0)).as_py() or 0
        # a redirect's Location is resolved like one more link
        out["links"] += (pc.sum(pc.if_else(ok, t["n_links"], 0)).as_py() or 0) \
            + count(pc.and_(is_3xx, pc.is_valid(t["location"])))
        out["status_200"] += count(ok)
        out["status_304"] += count(not_modified)
        out["status_3xx"] += count(is_3xx) - count(not_modified)
        out["status_5xx"] += count(pc.greater_equal(st, 500))
    return out


def reference_urls_per_s(path: str, workload: str):
    """Median urls/s of the untraced runs of ``workload`` recorded in
    this checkout: the base of trace.overhead_frac."""
    if not os.path.exists(path):
        return None
    with open(path) as f:
        rows = [json.loads(ln) for ln in f]
    vals = [r["urls_per_s"] for r in rows if r["workload"] == workload]
    return statistics.median(vals) if vals else None


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "pompspark", "engine.py")):
        print(f"perfbench: no pompspark package under {ROOT}; run from the "
              "root of a pompspark checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    signal.signal(signal.SIGTERM, _sigterm)
    run = Run(args)
    error = None
    try:
        run.execute()
    except (Exception, Terminated) as e:  # a flake becomes a failed op
        import traceback

        traceback.print_exc()
        error = f"{type(e).__name__}: {e}"
    finally:
        run.stop_spark()
        shutdown_jvm()
        shutil.rmtree(run.run_dir, ignore_errors=True)

    attempted = len(run.rounds) + len(run.checks)
    failed = (sum(1 for r in run.rounds if r.get("failed"))
              + sum(1 for c in run.checks if not c["ok"]))
    if error is not None:
        run.record["error"] = error
        if not (run.rounds and "error" in run.rounds[-1]):
            attempted += 1  # failed outside a round: one more failed op
            failed += 1
    run.record["checks"] = run.checks
    run.record["ops_failed_frac"] = {"value": failed / attempted, "unit": "fraction"}
    correct = error is None and failed == 0
    units = {**END_TO_END, **layertrace.metric_units()}
    print(json.dumps(run.record, default=str))
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in run.metrics.items()},
    }), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
