#!/usr/bin/env python
"""Merge anti-join crossover: the bucketed ``frontier_index`` against the
frontier's own (url_hash, url) columns, by frontier size.

For each frontier size N this builds an N-row queued frontier (synthetic
rows on 1000 hosts), then runs ``--rounds`` merge rounds of a
``crawl_fresh``-shaped discovery batch (``--parents`` pages x
``--links`` links, about half of them urls already in the frontier,
all distinct) twice: once against the frontier's columns (the engine
below ``engine.INDEX_MIN_ROWS``) and once against the bucketed index
(above it). A round times what the engine pays for the identity set:

- ``merge_s``: ``new_frontier_rows`` + ``FrontierStore.append_delta``
  (the anti-join job and the frontier commit);
- ``upkeep_s``: ``FrontierStore.index_append`` of the new rows
  (indexed side only; includes the files-per-bucket rewrite when an
  append passes the bound).

The index is built before the timed rounds and the first round is a
warm-up; the record is the median of the rest. Prints one JSON line per
(N, side) and a table. ``engine.INDEX_MIN_ROWS`` is the smallest N where
the indexed side's merge + upkeep is lower.

    python3 bench/index_crossover.py --rows 50000,500000,2000000,4000000
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_HOSTS = 1000


def frontier_rows(spark, n: int):
    from pyspark.sql import functions as F

    from pompspark import schemas
    from pompspark.frontier import CHILD_PRIORITY, SALT_N

    host = F.concat(F.lit("h"), (F.col("id") % N_HOSTS).cast("string"),
                    F.lit(".example"))
    url = F.concat(F.lit("http://"), host, F.lit("/x"), F.col("id").cast("string"))
    return spark.range(n).select(
        url.alias("url"), host.alias("host"), "id"
    ).select(
        "url",
        F.xxhash64("url").alias("url_hash"),
        F.hash("url").alias("url_murmur3"),
        "host",
        F.lit(1).alias("depth"),
        F.lit(CHILD_PRIORITY).cast("double").alias("priority"),
        F.lit(0).alias("discovered_round"),
        F.col("id").cast("long").alias("seq"),
        F.pmod(F.hash("url"), F.lit(SALT_N)).cast("int").alias("salt"),
        F.lit("queued").alias("state"),
    ).select(*[f.name for f in schemas.FRONTIER.fields])


def discoveries(spark, n: int, round_: int, parents: int, links: int):
    """parents x links distinct discoveries; even ids name a url already
    in the frontier, odd ids a url new in this round."""
    from pyspark.sql import functions as F

    old = F.pmod(F.xxhash64(F.col("id"), F.lit(round_)), F.lit(n))
    key = F.when(F.col("id") % 2 == 0, F.concat(F.lit("x"), old.cast("string"))) \
        .otherwise(F.concat(F.lit(f"n{round_}_"), F.col("id").cast("string")))
    hid = F.when(F.col("id") % 2 == 0, old).otherwise(F.col("id")) % N_HOSTS
    host = F.concat(F.lit("h"), hid.cast("string"), F.lit(".example"))
    return spark.range(parents * links).select(
        F.concat(F.lit("http://"), host, F.lit("/"), key).alias("url"),
        host.alias("host"),
        F.lit(2).alias("depth"),
        (F.col("id") / links).cast("long").alias("fetch_rank"),
        (F.col("id") % links).cast("int").alias("pos"),
    )


def run_side(spark, root: str, n: int, indexed: bool, rounds: int,
             parents: int, links: int) -> dict:
    from pompspark import schemas
    from pompspark.frontier import FrontierStore, new_frontier_rows
    from pompspark.tables import Catalog

    shutil.rmtree(root, ignore_errors=True)
    store = FrontierStore(Catalog(spark, root), use_index=indexed)
    store.append(frontier_rows(spark, n))
    if indexed:
        store.index_rebuild()
    robots = spark.createDataFrame([], schemas.ROBOTS_CACHE)
    merge, upkeep, new = [], [], []
    for r in range(1, rounds + 1):
        t0 = time.monotonic()
        identity = (store.identity_rows() if indexed
                    else store.all_rows().select("url_hash", "url"))
        rows = new_frontier_rows(discoveries(spark, n, r, parents, links),
                                 identity, robots, r)
        n_new, added = store.append_delta(rows)
        t1 = time.monotonic()
        if indexed and added is not None:
            store.index_append(added)
        t2 = time.monotonic()
        merge.append(t1 - t0)
        upkeep.append(t2 - t1)
        new.append(n_new)
    med = lambda xs: round(statistics.median(xs[1:] or xs), 3)  # noqa: E731
    out = {
        "frontier_rows": n, "side": "index" if indexed else "frontier",
        "merge_s": med(merge), "upkeep_s": med(upkeep),
        "rows_new": new, "index_files": store.index_file_count() if indexed else 0,
    }
    out["total_s"] = round(out["merge_s"] + out["upkeep_s"], 3)
    shutil.rmtree(root, ignore_errors=True)
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--rows", default="50000,500000,2000000,4000000")
    ap.add_argument("--rounds", type=int, default=5)
    ap.add_argument("--parents", type=int, default=3000)
    ap.add_argument("--links", type=int, default=40)
    ap.add_argument("--workdir", default=".crossover")
    ap.add_argument("--mem-gb", type=int, default=3)
    a = ap.parse_args()

    nproc = os.cpu_count() or 4
    tmp = os.path.abspath(os.path.join(a.workdir, "tmp"))
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{a.mem_gb}g"
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    from pompspark.session import build_spark

    spark = build_spark(
        f"local[{nproc}]", app_name="index-crossover", shuffle_partitions=nproc,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.abspath(
                os.path.join(a.workdir, "warehouse")),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    results = []
    try:
        for n in (int(x) for x in a.rows.split(",")):
            for indexed in (False, True):
                res = run_side(spark, os.path.abspath(os.path.join(a.workdir, "state")),
                               n, indexed, a.rounds, a.parents, a.links)
                print(json.dumps(res), flush=True)
                results.append(res)
    finally:
        spark.stop()
    print(f"{'frontier rows':>14} {'side':>9} {'merge_s':>8} {'upkeep_s':>9} {'total_s':>8}")
    for r in results:
        print(f"{r['frontier_rows']:>14} {r['side']:>9} {r['merge_s']:>8} "
              f"{r['upkeep_s']:>9} {r['total_s']:>8}")


if __name__ == "__main__":
    main()
