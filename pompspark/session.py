"""SparkSession construction with the package shipped to executors.

Local mode: Python workers are separate processes spawned by the JVM
and inherit PYTHONPATH from the driver's environment — so we export
the package root there BEFORE the JVM starts. Cluster mode: submit
with ``spark-submit --py-files pompspark.zip`` (see bench/run_crawl.py
and ``make_pyfiles_zip``); ``build_spark`` also calls ``addPyFile`` on
the zip when one exists, so either path works.
"""

from __future__ import annotations

import os
import zipfile

_PKG_DIR = os.path.dirname(os.path.abspath(__file__))
_ROOT = os.path.dirname(_PKG_DIR)


def make_pyfiles_zip(out_path: str | None = None) -> str:
    """Zip the package for spark-submit --py-files."""
    out_path = out_path or os.path.join(_ROOT, "pompspark.zip")
    with zipfile.ZipFile(out_path, "w", zipfile.ZIP_DEFLATED) as z:
        for fn in sorted(os.listdir(_PKG_DIR)):
            if fn.endswith(".py"):
                z.write(os.path.join(_PKG_DIR, fn), f"pompspark/{fn}")
    return out_path


def build_spark(
    master: str | None = None,
    app_name: str = "pompspark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    task_retries: int = 4,
    speculation: bool = True,
):
    """Standard session: AQE on, Arrow on, UTC, package importable on
    executors. ``master=None`` defers to spark-submit / env.

    ``task_retries``: plain ``local[N]`` masters run with
    spark.task.maxFailures=1, so ONE crashed Python worker kills the
    whole job (the BENCH_r03 failure mode: a worker died in a 32-task
    stage and the run burned its timeout). ``local[N]`` is rewritten to
    ``local[N,task_retries]`` so a flaky worker costs one task retry,
    matching cluster-mode semantics (maxFailures=4 there)."""
    # Make the package importable in executor Python workers (local mode).
    pp = os.environ.get("PYTHONPATH", "")
    if _ROOT not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = _ROOT + (os.pathsep + pp if pp else "")

    from pyspark.sql import SparkSession

    b = SparkSession.builder.appName(app_name)
    if master:
        if (
            task_retries > 1
            and master.startswith("local[")
            and master.endswith("]")
            and "," not in master
        ):
            master = f"{master[:-1]},{task_retries}]"
        b = b.master(master)
    cores = os.cpu_count() or 8
    n_shuffle = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_CPUS", min(32, cores))
    )
    b = (
        b.config("spark.sql.shuffle.partitions", str(n_shuffle))
        # local mode: the driver JVM is the only executor — give it the
        # box (overridable); bound Arrow batches so N threads x batch of
        # fat html rows can't exhaust direct memory.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.driver.maxResultSize", "8g")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # never coalesce below the core count: AQE's size-targeted
        # coalescing squeezed CPU-heavy post-shuffle stages (canonical-
        # ization, merge joins) to ~14 tasks on 32 cores (measured) —
        # "small bytes" is not "small work" when python UDF CPU
        # dominates.
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionNum",
            str(n_shuffle),
        )
        .config("spark.sql.session.timeZone", "UTC")
        # r6: parquet default flipped snappy -> zstd (guide §6). The
        # engine's round files are written AND fsynced inside the
        # timed window, so output bytes are wall time. Measured on a
        # 32-core host, one 120k-row round dir: zstd
        # wrote FASTER (1.33 s vs 2.36 s — the repeated-body text
        # compresses 233 MB -> 36 MB, and writing 6.5x fewer bytes
        # beats the extra compress CPU) and the column-pruned
        # read-back dropped 0.69 s -> 0.25 s; the html pages table
        # likewise (730 -> 88 MB on a 200k-page sample, full-html
        # scans 1.53 s -> 1.35 s). Same lever a real cluster wants:
        # fewer bytes through NIC/disk at equal-or-less wall time.
        .config(
            "spark.sql.parquet.compression.codec",
            "zstd",
        )
        # r6: vectorized-reader batch rows 4096 -> 512 (guide §6,
        # measured on this host): the default pre-sizes every column
        # vector for 4096 rows, which for ~30 KB html/text cells means
        # ~120 MB of transient on-heap batch per task and the scan is
        # allocation/GC-bound — the full 10^6-page html scan dropped
        # 5.5-7.6 s -> 1.8-1.9 s at 512, and even narrow scans
        # (frontier, ~100 B rows) measured faster (0.25 -> 0.16 s
        # warm). 512 rows x 30 KB ≈ 15 MB per batch keeps fat-row
        # scans allocation-light while staying large enough for
        # vectorization on narrow rows.
        .config(
            "spark.sql.parquet.columnarReaderBatchSize",
            "512",
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Python-worker crash forensics: without these a dead worker
        # reports only "exited unexpectedly (crashed)" (BENCH_r03's
        # unactionable failure); with them the JVM captures the
        # worker's faulthandler traceback. Cost: none in steady state.
        .config("spark.python.worker.faulthandler.enabled", "true")
        .config("spark.sql.execution.pyspark.udf.faulthandler.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
    )
    if speculation:
        # Straggler insurance (with local[N,4] task retries above): the
        # r3 driver bench died after ONE task of a 32-task stage
        # stalled for minutes before its worker crashed. Speculation
        # re-launches the laggard copy-on-another-slot, so a wedged
        # python worker costs one duplicate task, not the job. The
        # 0.9 quantile + 4x multiplier keep it quiet in steady state.
        #
        # ONLY safe for idempotent compute. Politeness-paced fetchers
        # sleep (n-1)*crawl_delay inside the task by design, so a
        # paced task legitimately exceeds 4x the median and would be
        # speculatively DUPLICATED — re-running the side-effectful
        # fetch and hitting the slow host from two concurrent slots
        # with < crawl_delay spacing, violating the politeness
        # guarantee. Pass speculation=False whenever the fetcher is
        # paced / does real I/O — Engine.__init__ refuses a paced
        # fetcher on a speculative session. The pure-compute bench
        # path (simulated fetch, paced=False) keeps it on.
        b = (
            b.config("spark.speculation", "true")
            .config("spark.speculation.interval", "5s")
            .config("spark.speculation.multiplier", "4")
            .config("spark.speculation.quantile", "0.9")
        )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    zip_path = os.path.join(_ROOT, "pompspark.zip")
    if os.path.exists(zip_path):
        spark.sparkContext.addPyFile(zip_path)
    return spark
