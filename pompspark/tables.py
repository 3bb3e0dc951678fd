"""Snapshot catalog: Iceberg-shaped table API over parquet directories.

North rule: "crawl state ... lives in checkpointed Iceberg tables so
the crawl resumes exactly". The sandbox has no Iceberg runtime jar
(and no network to fetch one), so this module implements the same
contract — append-only data files, snapshot manifests, atomic commit,
time travel, rollback — on plain parquet:

    <root>/<table>/
        data/d-00000001/part-*.parquet     (immutable once committed)
        snapshots/s-00000001.json          {"version", "dirs", "schema", "op"}
        _latest                            text file; os.replace() = atomic commit

On a real cluster, launch with
``--packages org.apache.iceberg:iceberg-spark-runtime-...`` and swap
``Catalog`` for ``IcebergCatalog`` (same method surface, table-format
writes via ``df.writeTo(...)``) — the engine only talks to this API.

pomp analog: pomp keeps all state in process memory (the queue inside
``Pomp``/``SimpleQueue``, pomp/core/engine.py) and loses it on crash;
the north rule replaces that with durable snapshots.

Scale note: an append writes ONLY the new data files plus one tiny
manifest — never rewrites history (O(new data), like Iceberg). Reads
prune via parquet footers; partition columns in the data keep
predicate pushdown effective (frontier data dirs are written
partitioned by ``state`` so dequeues scan only ``state=queued`` files).
"""

from __future__ import annotations

import glob
import json
import os
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def dir_row_count(
    path: str, exclude_subdir: str | list[str] | None = None
) -> int:
    """Row count of a committed parquet dir from file FOOTERS only —
    driver-side metadata IO, zero Spark jobs. This is how Iceberg
    serves COUNT(*): manifests carry per-file row counts. Used by the
    engine so a round needs no separate .count() actions.

    ``exclude_subdir`` (e.g. ``"state=queued"``, or a list of such):
    skip files under those hive-partition components — the footer-count
    analog of a manifest dir_filter (see Catalog.replace_partition)."""
    import pyarrow.parquet as pq

    if isinstance(exclude_subdir, str):
        exclude_subdir = [exclude_subdir]
    skips = [os.sep + s + os.sep for s in (exclude_subdir or [])]
    n = 0
    for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True):
        if any(s in f for s in skips):
            continue
        n += pq.read_metadata(f).num_rows
    return n


def _filtered_dir_count(path: str, exc: dict[str, list[str]]) -> int:
    """Exact count of rows NOT matching any exclusion, reading only the
    excluded columns per file (pyarrow, driver-side). Fallback for a
    filtered dir written without hive partitioning — slower than footer
    math but never overcounts superseded rows."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    n = 0
    for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True):
        t = pq.read_table(f, columns=list(exc))
        keep = None
        for c, vals in exc.items():
            m = pc.invert(pc.is_in(t[c], value_set=pa.array(vals)))
            keep = m if keep is None else pc.and_(keep, m)
        n += pc.sum(pc.cast(keep, "int64")).as_py() or 0
    return n


def _arrow_type(dt: T.DataType):
    import pyarrow as pa

    if isinstance(dt, T.IntegerType):
        return pa.int32()
    if isinstance(dt, T.LongType):
        return pa.int64()
    if isinstance(dt, T.DoubleType):
        return pa.float64()
    if isinstance(dt, T.StringType):
        return pa.string()
    if isinstance(dt, T.BooleanType):
        return pa.bool_()
    if isinstance(dt, T.BinaryType):
        return pa.binary()
    if isinstance(dt, T.TimestampType):
        return pa.timestamp("us")
    if isinstance(dt, T.MapType):
        return pa.map_(_arrow_type(dt.keyType), _arrow_type(dt.valueType))
    if isinstance(dt, T.ArrayType):
        return pa.list_(_arrow_type(dt.elementType))
    raise TypeError(f"no arrow mapping for {dt}")


def arrow_schema_of(schema: T.StructType):
    import pyarrow as pa

    return pa.schema([(f.name, _arrow_type(f.dataType)) for f in schema.fields])


def _fsync_dir_files(path: str, workers: int = 8) -> None:
    """fsync every file under ``path`` (and the dir entries), bounding
    kernel writeback to the just-committed data instead of letting GBs
    of dirty pages accumulate: measured on this box, unflushed rounds
    eventually hit one multi-10s global writeback stall (a 78 s round
    among 40 s rounds; the r2 driver bench lost 25% of its headline to
    a single 45.6 s straggler round). Paying the flush at commit time
    is the same total IO without the cliff — and it is what a real
    durable table commit (Iceberg on HDFS/S3) implies anyway."""
    from concurrent.futures import ThreadPoolExecutor

    files: list[str] = []
    dirs: list[str] = [path]
    for root_, dnames, fnames in os.walk(path):
        dirs.extend(os.path.join(root_, d) for d in dnames)
        files.extend(os.path.join(root_, f) for f in fnames)

    with ThreadPoolExecutor(max_workers=workers) as ex:
        list(ex.map(_fsync_path, files))
    for d in dirs:
        _fsync_path(d)


def _fsync_path(p: str) -> None:
    """fsync one file or directory (a directory fsync makes its entries
    — creates, renames — durable); a path that is gone is skipped."""
    try:
        fd = os.open(p, os.O_RDONLY)
    except OSError:
        return
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


class Catalog:
    # Capability contract (pinned by tests/test_iceberg.py): True means
    # data dirs are plain local/posix parquet paths, so callers may use
    # the layout fast paths — footer row counts (dir_row_count),
    # zero-copy delta reads (spark.read.parquet(new_dir)), band-marker
    # files, and driver-side pyarrow blob reads. Catalogs without the
    # layout (IcebergCatalog) set False and provide the snapshot-based
    # equivalents `appended_row_count` / `read_appended` instead; every
    # fast-path call site falls back through those.
    SUPPORTS_DIR_LAYOUT = True

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    # ------------------------------------------------------------ paths
    def _tdir(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _latest_path(self, table: str) -> str:
        return os.path.join(self._tdir(table), "_latest")

    def _snap_path(self, table: str, version: int) -> str:
        return os.path.join(self._tdir(table), "snapshots", f"s-{version:08d}.json")

    # ------------------------------------------------------------ snapshots
    def exists(self, table: str) -> bool:
        return os.path.exists(self._latest_path(table))

    def current_version(self, table: str) -> int:
        with open(self._latest_path(table)) as f:
            return int(f.read().strip())

    def _read_snapshot(self, table: str, version: int) -> dict[str, Any]:
        with open(self._snap_path(table, version)) as f:
            return json.load(f)

    def _commit(self, table: str, snap: dict[str, Any]) -> int:
        """Write the manifest durably, then atomically flip _latest. A
        crash before the flip leaves the previous snapshot current (data
        dirs without a manifest pointer are simply unreferenced). The
        manifest and its directory entry are fsynced BEFORE the flip, so
        a power loss can never leave _latest naming a truncated or
        missing manifest."""
        snaps = os.path.join(self._tdir(table), "snapshots")
        os.makedirs(snaps, exist_ok=True)
        v = snap["version"]
        with open(self._snap_path(table, v), "w") as f:
            json.dump(snap, f)
            f.flush()
            os.fsync(f.fileno())
        _fsync_path(snaps)
        self._flip_latest(table, v)
        return v

    def _flip_latest(self, table: str, v: int) -> None:
        """Point _latest at snapshot ``v``: fsynced temp file, atomic
        rename, then a fsync of the table dir so the rename itself
        survives a power loss."""
        tmp = self._latest_path(table) + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(v))
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self._latest_path(table))
        _fsync_path(self._tdir(table))

    # ------------------------------------------------------------ ops
    def create(self, table: str, schema: T.StructType) -> None:
        if self.exists(table):
            return
        self._commit(table, {
            "version": 1, "dirs": [], "op": "create", "schema": schema.json(),
        })

    def evolve_schema(self, table: str, schema: T.StructType) -> bool:
        """Widen a table's stored schema with appended NULLABLE columns
        (the Iceberg add-column analog): commits a new snapshot with
        the same dirs + the new schema. Old data files simply lack the
        new columns — schema-on-read fills them with null. Returns
        True if a commit happened, False if the schema already covers
        every requested field. Narrowing/retyping is refused (that
        would silently hide data)."""
        import json as _json

        prev = self._read_snapshot(table, self.current_version(table))
        stored = T.StructType.fromJson(_json.loads(prev["schema"]))
        have = {f.name: f.dataType for f in stored.fields}
        missing = [f for f in schema.fields if f.name not in have]
        for f in schema.fields:
            if f.name in have and have[f.name] != f.dataType:
                raise ValueError(
                    f"evolve_schema({table}): field {f.name} exists with "
                    f"type {have[f.name]}, requested {f.dataType}"
                )
        if not missing:
            return False
        new = T.StructType(
            list(stored.fields)
            + [T.StructField(f.name, f.dataType, True) for f in missing]
        )
        self._commit(table, {
            "version": prev["version"] + 1, "dirs": prev["dirs"],
            "op": "evolve_schema", "schema": new.json(),
            "partition_by": prev.get("partition_by"),
            **self._carry_filters(prev),
        })
        return True

    def _write_data_dir(self, table: str, df: DataFrame, version: int,
                        partition_by: list[str] | None = None) -> str:
        rel = f"data/d-{version:08d}"
        path = os.path.join(self._tdir(table), rel)
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(path)
        _fsync_dir_files(path)
        return rel

    @staticmethod
    def _carry_filters(prev: dict[str, Any]) -> dict[str, Any]:
        """dir_filters (replace_partition exclusions) ride along on
        every append-style commit — dropping them would resurrect the
        superseded partition rows of the annotated dirs."""
        f = prev.get("dir_filters")
        return {"dir_filters": f} if f else {}

    def append(self, table: str, df: DataFrame,
               partition_by: list[str] | None = None) -> int:
        prev_v = self.current_version(table)
        prev = self._read_snapshot(table, prev_v)
        v = prev_v + 1
        rel = self._write_data_dir(table, df, v, partition_by)
        return self._commit(table, {
            "version": v, "dirs": prev["dirs"] + [rel], "op": "append",
            "schema": prev["schema"], "partition_by": partition_by,
            **self._carry_filters(prev),
        })

    def overwrite(self, table: str, df: DataFrame,
                  partition_by: list[str] | None = None) -> int:
        prev_v = self.current_version(table)
        prev = self._read_snapshot(table, prev_v)
        v = prev_v + 1
        rel = self._write_data_dir(table, df, v, partition_by)
        return self._commit(table, {
            "version": v, "dirs": [rel], "op": "overwrite",
            "schema": prev["schema"], "partition_by": partition_by,
        })

    def append_with(self, table: str, writer) -> tuple[int, str]:
        """Single-materialization append: allocate the next data dir,
        let ``writer(path)`` produce the parquet files (typically
        ``df.write.parquet(path)`` of a SUPERSET of the table schema —
        reads prune to the declared columns), then commit. Returns
        (version, absolute data dir) so the caller can re-read the
        exact files column-pruned instead of caching the DataFrame."""
        prev_v = self.current_version(table)
        prev = self._read_snapshot(table, prev_v)
        v = prev_v + 1
        rel = f"data/d-{v:08d}"
        path = os.path.join(self._tdir(table), rel)
        if os.path.exists(path):  # orphan from a rolled-back timeline
            import shutil

            shutil.rmtree(path)
        writer(path)
        _fsync_dir_files(path)
        self._commit(table, {
            "version": v, "dirs": prev["dirs"] + [rel], "op": "append",
            "schema": prev["schema"], "partition_by": None,
            **self._carry_filters(prev),
        })
        return v, path

    def append_rows(self, table: str, rows: list[dict]) -> int:
        """Driver-side append of a SMALL row batch (metrics, checkpoint
        rows — O(rounds) not O(data)) written directly with pyarrow: a
        1-row Spark write costs a whole job's scheduling (~0.5-1 s of
        driver-serial time per round, measured); this is the Iceberg
        metadata-commit analog and costs ~1 ms. Readable by Catalog.read
        (same parquet schema)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        prev_v = self.current_version(table)
        prev = self._read_snapshot(table, prev_v)
        v = prev_v + 1
        schema = T.StructType.fromJson(json.loads(prev["schema"]))
        aschema = arrow_schema_of(schema)
        cols = {
            f.name: [r.get(f.name) for r in rows] for f in schema.fields
        }
        tbl = pa.Table.from_pydict(cols, schema=aschema)
        rel = f"data/d-{v:08d}"
        path = os.path.join(self._tdir(table), rel)
        os.makedirs(path, exist_ok=True)
        pq.write_table(tbl, os.path.join(path, "part-00000.parquet"))
        _fsync_dir_files(path, workers=1)
        return self._commit(table, {
            "version": v, "dirs": prev["dirs"] + [rel], "op": "append",
            "schema": prev["schema"], "partition_by": None,
            **self._carry_filters(prev),
        })

    def append_dir(self, table: str, src_dir: str) -> int:
        """Zero-copy append: register an ALREADY-WRITTEN data dir
        (typically another table's data files that are a column
        superset of this table's schema — reads prune). This is the
        Iceberg add_files equivalent: one round's fetch output is
        written once and serves fetch_log, trace and frontier_state
        without re-writing a byte."""
        prev_v = self.current_version(table)
        prev = self._read_snapshot(table, prev_v)
        v = prev_v + 1
        rel = os.path.relpath(src_dir, self._tdir(table))
        return self._commit(table, {
            "version": v, "dirs": prev["dirs"] + [rel], "op": "append_dir",
            "schema": prev["schema"], "partition_by": None,
            **self._carry_filters(prev),
        })

    def replace_partition(self, table: str, df: DataFrame,
                          exclude_col: str, exclude_val: str,
                          partition_by: list[str] | None = None) -> int:
        """Partition-incremental rewrite (the Iceberg dynamic-partition-
        overwrite analog, r3 verdict #5): commit ``df`` as a new data
        dir and annotate every PREVIOUS dir with a manifest-level
        exclusion ``exclude_col != exclude_val`` — their rows in that
        partition are superseded by the new dir, WITHOUT rewriting a
        byte of the old dirs. At 10^10 frontier rows this is what keeps
        compaction from being a full 1.2 TB rewrite: terminal-state
        files (the overwhelming majority) are never touched again.
        Reads stay pruned: the exclusion is a partition-column
        predicate, so Spark skips the excluded hive subdirs entirely."""
        prev_v = self.current_version(table)
        prev = self._read_snapshot(table, prev_v)
        v = prev_v + 1
        rel = self._write_data_dir(table, df, v, partition_by)
        # MERGE into any pre-existing per-dir exclusions (don't clobber:
        # a later call with a different column/value must not resurrect
        # rows superseded by an earlier call). Values are lists so one
        # column can accumulate several excluded partitions.
        filters = {d: {c: list(v_) if isinstance(v_, list) else [v_]
                       for c, v_ in (exc or {}).items()}
                   for d, exc in (prev.get("dir_filters") or {}).items()}
        for d in prev["dirs"]:
            exc = filters.setdefault(d, {})
            vals = exc.setdefault(exclude_col, [])
            if exclude_val not in vals:
                vals.append(exclude_val)
        return self._commit(table, {
            "version": v, "dirs": prev["dirs"] + [rel],
            "op": "replace_partition", "schema": prev["schema"],
            "partition_by": partition_by, "dir_filters": filters,
        })

    def read(self, table: str, version: int | None = None) -> DataFrame:
        from pyspark.sql import functions as F

        v = version if version is not None else self.current_version(table)
        snap = self._read_snapshot(table, v)
        schema = T.StructType.fromJson(json.loads(snap["schema"]))
        filters = snap.get("dir_filters") or {}
        dirs = snap["dirs"]
        if not dirs:
            return self.spark.createDataFrame([], schema)
        cols = schema.fieldNames()
        # Sibling snapshot dirs may each carry hive-style partition
        # subdirs (state=...); partition discovery needs one basePath
        # per dir, so read per-dir and union (file count stays bounded
        # by compaction).
        out = None
        for d in dirs:
            full = os.path.join(self._tdir(table), d)
            part = (
                self.spark.read.schema(schema)
                .option("basePath", full)
                .parquet(full)
                .select(*cols)
            )
            exc = filters.get(d)
            if exc:
                for c, vals in exc.items():
                    if not isinstance(vals, list):  # legacy scalar form
                        vals = [vals]
                    # partition-column predicate -> dir pruning; the
                    # excluded partitions' files are never opened
                    part = part.filter(~F.col(c).isin(vals))
            out = part if out is None else out.unionByName(part)
        return out

    def snapshot_dirs(self, table: str, version: int | None = None) -> list[str]:
        """Absolute data dirs of a snapshot, in commit order — for
        callers that read PHYSICAL columns riding alongside a table's
        declared schema in aliased files (read() projects them away)."""
        v = version if version is not None else self.current_version(table)
        snap = self._read_snapshot(table, v)
        return [os.path.join(self._tdir(table), d) for d in snap["dirs"]]

    def row_count(self, table: str, version: int | None = None) -> int:
        """Exact row count from parquet footers across the snapshot's
        data dirs — driver metadata IO, zero Spark jobs (Iceberg
        manifest-count analog). Honors dir_filters (partition
        exclusions) via path-based file skipping; a filtered dir whose
        hive layout does NOT cover the excluded column (written without
        partition_by) falls back to a real per-file column read so the
        count never silently includes superseded rows."""
        v = version if version is not None else self.current_version(table)
        snap = self._read_snapshot(table, v)
        filters = snap.get("dir_filters") or {}
        total = 0
        for d in snap["dirs"]:
            full = os.path.join(self._tdir(table), d)
            exc = {
                c: (vals if isinstance(vals, list) else [vals])
                for c, vals in (filters.get(d) or {}).items()
            }
            if not exc:
                total += dir_row_count(full)
                continue
            covered = all(
                glob.glob(os.path.join(full, "**", f"{c}=*"), recursive=True)
                or not glob.glob(
                    os.path.join(full, "**", "*.parquet"), recursive=True
                )
                for c in exc
            )
            if covered:
                subs = [f"{c}={v_}" for c, vals in exc.items() for v_ in vals]
                total += dir_row_count(full, exclude_subdir=subs)
            else:
                total += _filtered_dir_count(full, exc)
        return total

    def rollback(self, table: str, version: int) -> None:
        """Flip _latest back to an older snapshot (exact-resume path).
        Later data dirs stay on disk but are unreferenced."""
        if not os.path.exists(self._snap_path(table, version)):
            raise ValueError(f"{table}: no snapshot v{version}")
        self._flip_latest(table, version)

    def snapshot_ids(self, tables: list[str]) -> dict[str, int]:
        return {t: self.current_version(t) for t in tables if self.exists(t)}

    def compact(self, table: str, partition_by: list[str] | None = None) -> int:
        """Rewrite the current snapshot into one data dir. The frontier
        accretes one dir per round; compacting every K rounds keeps the
        file count O(1) instead of O(rounds) — the Iceberg
        rewrite_data_files equivalent."""
        df = self.read(table)
        return self.overwrite(table, df, partition_by)
