"""Warehouse catalog: versioned Parquet tables + the offsets/sources state.

Plain Parquet has no transactional DELETE/MERGE, so each logical table is
a directory of immutable snapshot versions with a tiny JSON manifest
pointing at the current one:

    <warehouse>/<table>/v00000003/part-*.parquet
    <warehouse>/<table>/_manifest.json   -> {"current": 3}

Every mutation (retraction, re-aggregation, reset) writes a NEW snapshot
and flips the pointer — readers never see a half-rewritten table, and a
crashed writer leaves the previous snapshot intact. This is the same
copy-on-write idea Delta/Iceberg formalize; at 100 TB you would swap this
class for a real lakehouse table (MERGE / replaceWhere) without touching
any operator code, which is why all access funnels through here.

Appends (the common path: new entries from newly indexed files) go into
the *current* snapshot directory with mode=append — no rewrite.
"""

from __future__ import annotations

import json
import os
from typing import Callable, Iterable, NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dat_archive_map_reduce_spark.errors import EngineError

REBUILD_HINT = (
    "warehouses written by earlier engine versions are refused, not "
    "migrated: rebuild this one by re-indexing its sources from the "
    "changelog into a fresh warehouse"
)


def empty_df(spark: SparkSession, schema: T.StructType) -> DataFrame:
    """Zero-partition empty DataFrame. ``createDataFrame([], schema)``
    parallelizes over defaultParallelism (32 locally), so every union
    with an absent table dragged 32 no-op tasks into the consuming
    job — at 4 origins x 2 views that was ~128 empty tasks per
    first-index watch batch, the dominant hidden fixed cost in the
    r11 maintain profile. emptyRDD carries ZERO partitions."""
    return spark.createDataFrame(spark.sparkContext.emptyRDD(), schema)


def local_df(
    spark: SparkSession, rows: "list[tuple]", schema: T.StructType
) -> DataFrame:
    """Driver rows (tuples or ``Row``s in ``schema`` order, struct
    values too) as a ``LocalTableScan``.

    The rows go to the JVM as one ``pyarrow.Table``, so no Python
    worker ever touches them. ``createDataFrame(list, schema)``
    pickles the list into a ``PythonRDD`` instead, one Python task per
    slice (4 at 4 cpus), and every Python task costs about 0.22 s of
    worker CPU however little it does: at task start
    ``pyspark.worker_util.setup_spark_files`` calls
    ``importlib.invalidate_caches()``, which under CPython 3.11 makes
    each of the worker's 16 zipimporters re-read ``pyspark.zip``'s
    directory, about 26,700 entries per task. Engine paths
    build driver rows through here, never through
    ``createDataFrame(list)``."""
    if not rows:
        return empty_df(spark, schema)
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema)
    columns = [
        pa.array([r[i] for r in rows], type=f.type)
        for i, f in enumerate(arrow_schema)
    ]
    return spark.createDataFrame(
        pa.Table.from_arrays(columns, schema=arrow_schema), schema
    )


def drop_checkpoint(df: DataFrame) -> None:
    """Release the blocks of a ``localCheckpoint`` DataFrame, which
    ``unpersist()`` does not reach (no cache entry holds them): they
    belong to the checkpointed RDD under its ``LogicalRDD`` plan. The
    frame cannot be read afterwards."""
    df._jdf.queryExecution().analyzed().rdd().unpersist(False)


class VersionedTable:
    def __init__(self, spark: SparkSession, root: str, schema: T.StructType):
        self.spark = spark
        self.root = root.rstrip("/")
        self.schema = schema
        os.makedirs(self.root, exist_ok=True)

    # -- manifest ---------------------------------------------------
    @property
    def _manifest_path(self) -> str:
        return f"{self.root}/_manifest.json"

    def _current(self) -> int | None:
        try:
            with open(self._manifest_path) as f:
                return json.load(f)["current"]
        except (FileNotFoundError, KeyError, json.JSONDecodeError):
            return None

    def _set_current(self, v: int, meta: "dict | None" = None) -> None:
        tmp = self._manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"current": v, **(meta or {})}, f)
        os.replace(tmp, self._manifest_path)

    def manifest_meta(self) -> dict:
        """Extra keys committed ATOMICALLY with the current pointer
        (the os.replace flip) — e.g. the count-delta re-aggregation's
        batch token, whose exactly-once contract needs 'this snapshot
        reflects batch B' to be unseparable from the snapshot flip."""
        try:
            with open(self._manifest_path) as f:
                m = json.load(f)
            return {k: v for k, v in m.items() if k != "current"}
        except (FileNotFoundError, json.JSONDecodeError):
            return {}

    def set_meta(self, meta: dict) -> None:
        """Replace the current snapshot's manifest meta, data unchanged
        (a no-op on a table with no snapshot)."""
        v = self._current()
        if v is not None:
            self._set_current(v, meta)

    def _snapshot_dir(self, v: int) -> str:
        return f"{self.root}/v{v:08d}"

    # -- reads ------------------------------------------------------
    def exists(self) -> bool:
        return self._current() is not None

    def has_data_files(self) -> bool:
        """Does the current snapshot hold any data files? Driver-side
        walk of one snapshot directory, no Spark job — the 'is anything
        materialized' check (an empty snapshot, e.g. a reset, holds no
        part files)."""
        v = self._current()
        if v is None:
            return False
        for _dirpath, _dirs, files in os.walk(self._snapshot_dir(v)):
            if any(
                f.endswith(".parquet") and not f.startswith(("_", "."))
                for f in files
            ):
                return True
        return False

    def versions(self) -> list[int]:
        """All snapshot versions still on disk, ascending."""
        out = []
        for name in os.listdir(self.root):
            if name.startswith("v") and name[1:].isdigit():
                out.append(int(name[1:]))
        return sorted(out)

    def read(self, version: int | None = None) -> DataFrame:
        """Current snapshot, or time-travel to an older one.

        Snapshots are immutable once superseded (every mutation writes
        a new directory), so an old `version` is a stable historical
        read — the lakehouse time-travel contract. Only the CURRENT
        snapshot receives in-place appends; a superseded version never
        changes again.
        """
        v = version if version is not None else self._current()
        if v is None:
            return empty_df(self.spark, self.schema)
        if version is not None and not os.path.isdir(self._snapshot_dir(version)):
            raise FileNotFoundError(
                f"snapshot v{version} of {self.root} not on disk "
                f"(available: {self.versions()}) — vacuumed or never written"
            )
        return self.spark.read.schema(self.schema).parquet(self._snapshot_dir(v))

    # -- retention --------------------------------------------------
    def vacuum(self, keep_last: int = 2) -> list[int]:
        """Drop all but the newest `keep_last` snapshots (never the
        current one). Returns the versions removed. The retention
        trade-off is the usual one: time-travel depth vs storage."""
        import shutil

        cur = self._current()
        victims = [v for v in self.versions()[:-keep_last] if v != cur]
        for v in victims:
            shutil.rmtree(self._snapshot_dir(v), ignore_errors=True)
        return victims

    # -- writes -----------------------------------------------------
    def overwrite(
        self,
        df: DataFrame,
        sort_cols: list[str] | None = None,
        meta: "dict | None" = None,
    ) -> None:
        v = (self._current() or 0) + 1
        writer = df
        if sort_cols:
            # sorted-within-partitions => parquet min/max row-group
            # stats make key-range scans prune (the engine's stand-in
            # for LevelDB's sorted iterator, SURVEY.md §4)
            writer = df.sortWithinPartitions(*sort_cols)
        writer.write.mode("overwrite").parquet(self._snapshot_dir(v))
        self._set_current(v, meta)

    def append(self, df: DataFrame, sort_cols: list[str] | None = None) -> None:
        v = self._current()
        if v is None:
            self.overwrite(df, sort_cols)
            return
        writer = df
        if sort_cols:
            writer = df.sortWithinPartitions(*sort_cols)
        writer.write.mode("append").parquet(self._snapshot_dir(v))

    def merge_upsert(
        self,
        updates: DataFrame,
        key_cols: list[str],
        sort_cols: list[str] | None = None,
    ) -> None:
        """MERGE-style upsert as a copy-on-write snapshot: rows of the
        current snapshot whose key appears in ``updates`` are replaced,
        the rest carry over, new keys insert — WHEN MATCHED THEN UPDATE
        / WHEN NOT MATCHED THEN INSERT, the lakehouse CDC-apply shape.

        Plan: one left-anti join of the (typically huge) target against
        the (typically small) update set — Catalyst broadcasts the
        update side under the threshold, so the target is ONE scan +
        filter, no target shuffle — then a union with the updates.
        Snapshot isolation for free: readers of the previous version
        are untouched (time travel still serves it)."""
        if not self.exists():
            self.overwrite(updates, sort_cols)
            return
        target = self.read()
        survivors = target.join(
            updates.select(*key_cols).distinct(), key_cols, "left_anti"
        )
        self.overwrite(
            survivors.unionByName(updates.select(*target.columns)), sort_cols
        )

    def diff(
        self,
        from_version: int,
        to_version: int | None = None,
        key_cols: list[str] | None = None,
    ) -> DataFrame:
        """Change data feed between two snapshots: every row with a
        ``_change`` column in {'insert', 'delete', 'update_pre',
        'update_post'} — what a downstream incremental consumer
        replays instead of re-reading the table (Delta CDF shape).

        Without ``key_cols`` the diff is row-valued: rows only in the
        newer snapshot are inserts, rows only in the older one are
        deletes (a changed row shows as delete + insert); this form
        handles duplicate rows correctly (exceptAll is multiset). With
        ``key_cols`` changed keys classify as update_pre/update_post
        instead — PRECONDITION: ``key_cols`` must uniquely identify
        rows in both snapshots (the merge_upsert/delete_where write
        path maintains this); duplicate keys would fan out the
        full-outer join and multiply feed rows. Plan: both snapshots
        are immutable parquet, so the diff is two exceptAll (hash
        aggregate) passes — or, keyed, one full-outer join on the
        keys — with no state kept anywhere."""
        new = self.read(to_version)
        old = self.read(from_version)
        if key_cols is None:
            ins = new.exceptAll(old).withColumn("_change", F.lit("insert"))
            dels = old.exceptAll(new).withColumn("_change", F.lit("delete"))
            return ins.unionByName(dels)
        cols = new.columns
        n = new.select(*cols).withColumn("_n", F.lit(1))
        o = old.select(*cols).withColumn("_o", F.lit(1))
        j = n.alias("n").join(o.alias("o"), key_cols, "full_outer")
        non_key = [c for c in cols if c not in key_cols]
        same = F.lit(True)
        for c in non_key:
            same = same & F.col(f"n.{c}").eqNullSafe(F.col(f"o.{c}"))
        inserts = j.filter(F.col("o._o").isNull()).select(
            *[F.col(f"n.{c}") if c in non_key else F.col(c) for c in cols],
            F.lit("insert").alias("_change"),
        )
        deletes = j.filter(F.col("n._n").isNull()).select(
            *[F.col(f"o.{c}") if c in non_key else F.col(c) for c in cols],
            F.lit("delete").alias("_change"),
        )
        changed = j.filter(
            F.col("n._n").isNotNull() & F.col("o._o").isNotNull() & ~same
        )
        pre = changed.select(
            *[F.col(f"o.{c}") if c in non_key else F.col(c) for c in cols],
            F.lit("update_pre").alias("_change"),
        )
        post = changed.select(
            *[F.col(f"n.{c}") if c in non_key else F.col(c) for c in cols],
            F.lit("update_post").alias("_change"),
        )
        return inserts.unionByName(deletes).unionByName(pre).unionByName(post)

    def delete_where(self, condition) -> int:
        """Lakehouse DELETE: write a new snapshot without the matching
        rows; returns the number deleted. Prior versions remain
        readable (time travel)."""
        target = self.read()
        n_before = target.count()
        kept = target.filter(~condition)
        self.overwrite(kept)
        return n_before - kept.count()

    def compact(
        self,
        sort_cols: list[str] | None = None,
        target_file_bytes: int = 128 << 20,
        zorder: bool = False,
    ) -> int:
        """OPTIMIZE-style compaction: rewrite the current snapshot as a
        NEW snapshot with ~target-sized files (copy-on-write, so time
        travel to the pre-compaction version still works). Every
        ``append`` leaves one file per task; at 100 TB the resulting
        small-file swarm kills scan throughput (a footer fetch and no
        column-chunk locality per file). With ``sort_cols`` the rewrite
        is ``repartitionByRange`` + ``sortWithinPartitions`` — a
        range-clustered sorted layout whose parquet min/max stats prune
        key-range scans both across files and within row groups; with
        ``zorder=True`` (and >= 2 sort cols) the layout follows the
        Morton curve instead (operators/zorder.py), so min/max stats
        prune on ANY clustered column, not just the leading one.
        Returns the new version number.
        """
        import math

        cur = self._current()
        if cur is None:
            raise ValueError("cannot compact a table with no snapshots")
        n_files = max(1, math.ceil(self._row_data_bytes(cur) / target_file_bytes))
        df = self.read()
        if zorder and sort_cols and len(sort_cols) >= 2:
            from dat_archive_map_reduce_spark.operators.zorder import zorder_layout

            out = zorder_layout(df, sort_cols, n_files)
        elif sort_cols:
            out = df.repartitionByRange(n_files, *sort_cols).sortWithinPartitions(
                *sort_cols
            )
        else:
            out = df.repartition(n_files)
        v = cur + 1
        out.write.mode("overwrite").parquet(self._snapshot_dir(v))
        self._set_current(v)
        return v

    def _row_data_bytes(self, v: int) -> int:
        """Row-data size of snapshot ``v`` from its parquet footers,
        read driver-side: fixed-width columns count values x width,
        byte-array columns their uncompressed chunk size. Unlike
        on-disk bytes, this does not grow with the number of files the
        snapshot is split into (per-file headers, footers and
        dictionaries dominate small files), so compacting the same
        rows lands on the same file count however fragmented the
        input was."""
        import pyarrow.parquet as pq

        width = {"BOOLEAN": 1, "INT32": 4, "FLOAT": 4, "INT64": 8, "DOUBLE": 8, "INT96": 12}
        total = 0
        for dirpath, _, files in os.walk(self._snapshot_dir(v)):
            for f in files:
                if not f.endswith(".parquet") or f.startswith(("_", ".")):
                    continue
                md = pq.ParquetFile(os.path.join(dirpath, f)).metadata
                for i in range(md.num_row_groups):
                    rg = md.row_group(i)
                    for j in range(rg.num_columns):
                        c = rg.column(j)
                        w = width.get(c.physical_type)
                        total += c.num_values * w if w else c.total_uncompressed_size
        return total

    def reset(self) -> None:
        """Logical wipe: point at a fresh empty snapshot (reference
        view reset, /root/reference/lib/util-level.js:26-35)."""
        self.overwrite(empty_df(self.spark, self.schema))

    # -- driver-local metadata IO ------------------------------------
    # The offsets/sources tables are O(views x sources) rows of
    # PROGRESS METADATA, read and rewritten once per maintenance
    # batch. Launching a Spark job (scheduler round-trip, task
    # dispatch) to move a few hundred bytes is the watch path's
    # largest FIXED per-batch cost; a driver-local pyarrow read/write
    # of the same snapshot layout is ~1 ms and bit-compatible with
    # the Spark reader (plain parquet, schema pinned on read). On a
    # real cluster this is exactly what a lakehouse does with its
    # transaction-log metadata: driver/catalog-side IO, never a job.
    # Snapshot protocol is unchanged — new directory + pointer flip —
    # so crash-safety, time travel, and vacuum are identical.

    def _pa_schema(self):
        import pyarrow as pa

        _MAP = {
            "string": pa.string(),
            "bigint": pa.int64(),
            "int": pa.int32(),
            "boolean": pa.bool_(),
            "double": pa.float64(),
        }
        return pa.schema(
            [(f.name, _MAP[f.dataType.simpleString()]) for f in self.schema.fields]
        )

    def read_rows(self) -> "list[tuple]":
        """Driver-local read of the current snapshot as a list of row
        tuples (schema field order) — NO Spark job. Only for bounded
        metadata tables; a data table must go through read()."""
        import glob as _glob

        import pyarrow.parquet as pq

        v = self._current()
        if v is None:
            return []
        names = [f.name for f in self.schema.fields]
        out: list[tuple] = []
        for path in sorted(_glob.glob(f"{self._snapshot_dir(v)}/*.parquet")):
            t = pq.read_table(path, columns=names)
            cols = [t.column(n).to_pylist() for n in names]
            out.extend(zip(*cols) if cols and t.num_rows else [])
        return out

    def overwrite_rows(self, rows: "list[tuple]") -> None:
        """Driver-local copy-on-write snapshot write of row tuples
        (schema field order) — NO Spark job. Counterpart of
        read_rows; same manifest flip as overwrite()."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        schema = self._pa_schema()
        cols = list(zip(*rows)) if rows else [[] for _ in schema.names]
        table = pa.table(
            {n: list(c) for n, c in zip(schema.names, cols)}, schema=schema
        )
        v = (self._current() or 0) + 1
        d = self._snapshot_dir(v)
        # overwrite-clears-dest, like Spark's mode('overwrite') and
        # write_merged: a crash-orphaned dir at this version (e.g. a
        # legacy Spark overwrite() that died before the pointer flip)
        # must not leak its stale part files into read_rows()'s glob
        if os.path.isdir(d):
            import shutil

            shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d, exist_ok=True)
        pq.write_table(table, f"{d}/part-00000.parquet")
        self._set_current(v)


class BucketedEntriesTable(VersionedTable):
    """VersionedTable whose snapshots are internally hash-bucketed on
    one column:

        <root>/vXXXXXXXX/_b=K/part-*.parquet     (K in 0..n_buckets-1)
        <root>/_buckets.json                     {"n": N, "col": "..."}

    Purpose: delta-proportional MERGE on plain parquet. A flat
    copy-on-write overwrite is O(table) per mutation whatever the
    delta; bucketing by the retraction key (here file provenance,
    ``file_url``) means a batch touching k distinct files rewrites
    only the <= k buckets that can contain their rows, while every
    untouched bucket's files are HARDLINKED from the previous snapshot
    into the new one — a driver-side metadata op, no data movement.
    This is the filesystem analog of how a lakehouse MERGE commits:
    rewrite only the data files containing matched rows, and have the
    new snapshot's manifest re-reference every unchanged file
    (Delta/Iceberg do it with manifest pointers; plain parquet has no
    manifest, so the hardlink plays that role — same inode, two
    directory entries, vacuum of either snapshot leaves the other
    intact). Merge IO: O(delta + touched_buckets * table/N) instead
    of O(table). The reference gets the same property from LevelDB's
    O(keys-touched) batch writes (lib/view.js:89-103); at 100 TB you
    would swap this class for a real lakehouse MERGE, which is why
    every bucketed write — entries merges, reduced and sidecar
    commits, rebucket, compaction — goes through ``write_bucketed``
    and every commit through ``_snapshot_commit``.

    The bucket function is crc32(col) % N — exact-deterministic
    across sessions, engines, and languages (zlib crc32), so bucket
    membership can be derived driver-side from the url strings alone,
    without reading any data.

    Every snapshot this class writes is bucketed, ``reset()``
    included. A FLAT snapshot (part files directly in the snapshot
    dir, from a plain VersionedTable overwrite) is a foreign layout:
    the bucket-scoped reads and merges refuse it with EngineError.

    Bucket-count evolution: membership math depends on N, so N is
    pinned PER SNAPSHOT — every bucketed snapshot carries a
    ``_bucketmeta.json`` with its own layout count, written into the
    snapshot directory BEFORE the pointer flip (the flip stays the
    atomic commit; a crashed migration leaves the old snapshot, and
    its old N, current). ``n_buckets`` resolves the CURRENT
    snapshot's count (legacy snapshots without per-snapshot meta fall
    back to the table-level ``_buckets.json`` pin). ``rebucket(n)``
    migrates to a new count in one full rewrite — the escape hatch
    for a hot origin whose per-bucket size (shard/N) has grown until
    merge IO creeps back toward O(shard) — and ``compact()``
    auto-doubles N past ``auto_rebucket_bytes`` mean bucket size,
    since the OPTIMIZE rewrite visits every bucket anyway (the
    migration is free there).
    """

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        schema: T.StructType,
        bucket_col: str,
        n_buckets: int = 16,
    ):
        super().__init__(spark, root, schema)
        self.bucket_col = bucket_col
        meta_path = f"{self.root}/_buckets.json"
        try:
            with open(meta_path) as f:
                meta = json.load(f)
            self._default_n = int(meta["n"])
            self.bucket_col = meta["col"]
        except (FileNotFoundError, KeyError, json.JSONDecodeError):
            # first open pins the table-level DEFAULT layout; a later
            # reopen with a different n keeps the pin (wrong bucket
            # membership otherwise). rebucket() is the one sanctioned
            # way to change N — it re-pins both the new snapshot's
            # meta and this default.
            self._default_n = int(n_buckets)
            self._write_default_n()

    def _write_default_n(self) -> None:
        meta_path = f"{self.root}/_buckets.json"
        tmp = meta_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"n": self._default_n, "col": self.bucket_col}, f)
        os.replace(tmp, meta_path)

    @property
    def n_buckets(self) -> int:
        """Bucket count of the CURRENT snapshot's layout (per-snapshot
        ``_bucketmeta.json``; legacy snapshots and empty tables fall
        back to the table-level pin)."""
        v = self._current()
        if v is not None:
            n = self._snapshot_n(v)
            if n is not None:
                return n
        return self._default_n

    def _snapshot_n(self, v: int) -> "int | None":
        try:
            with open(f"{self._snapshot_dir(v)}/_bucketmeta.json") as f:
                return int(json.load(f)["n"])
        except (FileNotFoundError, KeyError, ValueError, json.JSONDecodeError):
            return None

    def _write_snapshot_meta(self, dest: str, n: int) -> None:
        # inside the snapshot dir, BEFORE the pointer flip: the flip
        # commits data + layout meta together
        with open(f"{dest}/_bucketmeta.json", "w") as f:
            json.dump({"n": int(n)}, f)

    # -- bucket math --------------------------------------------------
    def bucket_expr(self, col: str | None = None):
        """In-plan bucket id of ``col`` (default: the table's bucket
        column) — must stay in lockstep with bucket_of()."""
        return _bucket(col or self.bucket_col, F.lit(self.n_buckets))

    def bucket_of(self, value: str) -> int:
        """Driver-side bucket id of one value — zlib crc32 == Spark
        F.crc32 on utf-8 bytes (pinned by test)."""
        import zlib

        return zlib.crc32(value.encode("utf-8")) % self.n_buckets

    def _bucket_dir(self, v: int, b: int) -> str:
        return f"{self._snapshot_dir(v)}/_b={b}"

    def reset(self) -> None:
        """Logical wipe without a Spark job: point at a fresh EMPTY
        bucketed snapshot (an empty dir plus its layout meta), so the
        next merge hardlinks nothing and rewrites only the buckets it
        touches. Like every unstamped commit it erases any batch token
        the manifest held."""
        n = self.n_buckets
        commit, _cancel = _snapshot_commit(
            [(self, self._current(), n, range(n), None, None)], None
        )
        commit()

    def current_is_bucketed(self) -> bool:
        v = self._current()
        if v is None:
            return True  # nothing on disk: the next write buckets it
        d = self._snapshot_dir(v)
        if not os.path.isdir(d):
            # pointer set but directory gone (external deletion /
            # corruption): raising here matches read()'s explicit
            # time-travel error — silently treating it as bucketed
            # would make the next merge commit a snapshot holding
            # ONLY the batch's rows (silent data loss)
            raise FileNotFoundError(
                f"current snapshot v{v} of {self.root} is missing from "
                f"disk (available: {self.versions()}) — externally "
                f"deleted or corrupted; refusing to merge against it"
            )
        return all(n.startswith(("_b=", "_", ".")) for n in os.listdir(d))

    def _require_bucketed(self) -> None:
        if not self.current_is_bucketed():
            raise EngineError(
                f"{self.root} holds a flat (unbucketed) snapshot; "
                + REBUILD_HINT
            )

    # -- reads ---------------------------------------------------------
    def read(self, version: int | None = None) -> DataFrame:
        """Whole-table read (bucket layout is invisible: the _b=K
        directory level is NOT a partition column — recursive lookup
        with a pinned schema skips inference entirely)."""
        v = version if version is not None else self._current()
        if v is None:
            return empty_df(self.spark, self.schema)
        if version is not None and not os.path.isdir(self._snapshot_dir(version)):
            raise FileNotFoundError(
                f"snapshot v{version} of {self.root} not on disk "
                f"(available: {self.versions()}) — vacuumed or never written"
            )
        return (
            self.spark.read.schema(self.schema)
            .option("recursiveFileLookup", "true")
            .parquet(self._snapshot_dir(v))
        )

    def read_buckets(self, bucket_ids: "list[int]") -> DataFrame:
        """Rows of the given buckets of the CURRENT snapshot. The
        path list resolves NOW, so the returned plan stays pinned to
        this snapshot across a subsequent pointer flip (the merge
        path's retracted-keys contract)."""
        v = self._current()
        if v is None:
            return empty_df(self.spark, self.schema)
        self._require_bucketed()
        dirs = [
            self._bucket_dir(v, b)
            for b in bucket_ids
            if os.path.isdir(self._bucket_dir(v, b))
        ]
        if not dirs:
            return empty_df(self.spark, self.schema)
        return (
            self.spark.read.schema(self.schema)
            .option("recursiveFileLookup", "true")
            .parquet(*dirs)
        )

    def read_key_rows(self, keys: "list[str]", columns: "list[str]") -> "list[tuple]":
        """Driver-local read (pyarrow, NO Spark job) of the current
        snapshot's rows whose bucket column is in ``keys``: only the
        keys' bucket dirs are opened, and the ``in`` filter prunes row
        groups by their min/max stats. For key sets bounded by a
        micro-batch, like BucketedMetaTable.read_rows."""
        import pyarrow.parquet as pq

        v = self._current()
        if v is None or not keys:
            return []
        self._require_bucketed()
        out: "list[tuple]" = []
        for b in sorted({self.bucket_of(k) for k in keys}):
            for dirpath, _dirs, names in os.walk(self._bucket_dir(v, b)):
                for n in sorted(names):
                    if not n.endswith(".parquet"):
                        continue
                    # one file at a time: files of one table can carry
                    # different padding columns (stack_targets)
                    t = pq.read_table(
                        os.path.join(dirpath, n),
                        columns=columns,
                        filters=[(self.bucket_col, "in", list(keys))],
                    )
                    out += zip(*[t.column(c).to_pylist() for c in columns])
        return out

    def bucket_stats(self) -> "dict[int, int]":
        """Per-bucket on-disk bytes of the current snapshot (driver
        os.walk — metadata-sized). The operational signal for when to
        rebucket: mean bucket size is shard/N and grows with the
        origin."""
        v = self._current()
        out: "dict[int, int]" = {}
        if v is None:
            return out
        self._require_bucketed()
        for b in range(self.n_buckets):
            d = self._bucket_dir(v, b)
            if not os.path.isdir(d):
                continue
            size = 0
            for dirpath, _dirs, files in os.walk(d):
                size += sum(
                    os.path.getsize(os.path.join(dirpath, f)) for f in files
                )
            out[b] = size
        return out

    def rebucket(self, new_n: int, sort_cols: "list[str] | None" = None) -> int:
        """Migrate the table to a ``new_n``-bucket layout in ONE full
        rewrite (the N->2N split the delta-proportional design needs
        once a hot origin outgrows its bucket count — per-bucket size
        is shard/N, so merge IO creeps back toward O(shard) without
        this). Copy-on-write like every mutation: the new snapshot is
        fully written (data + its own ``_bucketmeta.json``) before the
        pointer flips, so a mid-migration crash leaves the old layout
        current and correct; the superseded snapshot still serves
        time travel under its own count. Merges after the flip are
        incremental against the NEW layout. Returns the new version."""
        if int(new_n) < 1:
            raise ValueError(f"new_n must be >= 1, got {new_n}")
        if self._current() is None:
            # nothing materialized: just re-pin the default for the
            # first write
            self._default_n = int(new_n)
            self._write_default_n()
            return 0
        return self._rewrite_all(int(new_n), sort_cols)

    def _rewrite_all(self, n: int, sort_cols: "list[str] | None") -> int:
        """Rewrite the whole current snapshot at ``n`` buckets — every
        bucket touched, so nothing hardlinks — and re-pin the table
        default AFTER the flip (reads resolve the snapshot meta first,
        so a crash between flip and re-pin stays consistent). The
        rows are unchanged, so the manifest meta carries over."""
        commit, _cancel, _hit = write_bucketed(
            [Target(self, range(n), self.manifest_meta(), n=n)],
            self.read().withColumn("_t", F.lit(0)),
            sort_cols,
            large=True,
        )
        commit()
        self._default_n = n
        self._write_default_n()
        return self._current()

    def compact(
        self,
        sort_cols: "list[str] | None" = None,
        target_file_bytes: int = 128 << 20,
        zorder: bool = False,
        auto_rebucket_bytes: "int | None" = None,
    ) -> int:
        """Bucket-preserving OPTIMIZE: rewrite every bucket of the
        current snapshot sorted-within-bucket (``zorder`` is ignored —
        the bucket dimension IS the clustering here). The inherited
        flat compact would silently discard the bucket layout and
        force the next merge into a full re-bucketing rewrite.

        ``auto_rebucket_bytes``: since OPTIMIZE rewrites every bucket
        anyway, bucket-count evolution is FREE here — when the mean
        bucket size exceeds the threshold, the rewrite lands at a
        doubled (power-of-two multiple) count that brings the mean
        back under it, keeping merge IO delta-proportional as the
        origin grows."""
        if self._current() is None:
            raise ValueError("cannot compact a table with no snapshots")
        n = self.n_buckets
        if auto_rebucket_bytes:
            total = sum(self.bucket_stats().values())
            while total / n > auto_rebucket_bytes:
                n *= 2
        return self._rewrite_all(n, sort_cols)

    # -- the merge write ------------------------------------------------
    def write_merged(
        self,
        touched_ids: "list[int]",
        touched_df: DataFrame,
        sort_cols: "list[str] | None" = None,
        meta: "dict | None" = None,
        defer_commit: bool = False,
    ):
        """Commit a new snapshot: ``touched_df`` (which must contain
        ONLY rows whose bucket id is in ``touched_ids`` — i.e. the
        touched buckets' full post-merge contents) is written
        bucket-partitioned; every other bucket's files are hardlinked
        from the previous snapshot. The one-target call of
        ``write_bucketed``.

        ``meta``: extra manifest keys committed atomically with the
        pointer flip (same contract as overwrite(meta=...)) — the
        exact-delta re-aggregation's batch token rides here. Omitted
        meta REPLACES the manifest with just the pointer, erasing any
        previous token (the general-refold overwrite semantics the
        delta path's interleave story depends on).

        ``defer_commit=True`` splits the write from the commit: the
        write of the touched buckets runs NOW (into the new
        snapshot directory, invisible to readers — only the pointer
        flip publishes it), and the returned zero-arg closure performs
        the driver-side commit (hardlink untouched buckets, layout
        meta, pointer flip). An abandoned closure leaves only an
        orphaned vNNNNNNNN directory that the next write at the same
        version clears."""
        commit, _cancel, _hit = write_bucketed(
            [Target(self, touched_ids, meta)],
            touched_df.withColumn("_t", F.lit(0)),
            sort_cols,
        )
        if defer_commit:
            return commit
        commit()
        return None


def _bucket(col: str, n):
    """In-plan bucket id: crc32 of ``col`` modulo the count ``n``."""
    return F.pmod(F.crc32(F.col(col).cast("string")), n).cast("int")


class Target(NamedTuple):
    """One table of a ``write_bucketed`` call: the bucket ids its rows
    touch, the manifest meta committed with its pointer flip, and the
    new snapshot's bucket count (default: the current snapshot's)."""

    table: BucketedEntriesTable
    ids: "Iterable[int]"
    meta: "dict | None" = None
    n: "int | None" = None


def stack_targets(frames: "list[DataFrame]", start: int = 0) -> DataFrame:
    """One ``write_bucketed`` frame from per-target frames: row set i
    tagged ``_t = start + i`` and padded with the others' missing
    columns as typed NULLs (parquet nulls are metadata-cheap, and every
    read pins its own table schema, so the padding is never
    projected)."""
    out = frames[0].withColumn("_t", F.lit(start))
    for i, df in enumerate(frames[1:], start + 1):
        out = out.unionByName(
            df.withColumn("_t", F.lit(i)), allowMissingColumns=True
        )
    return out


# Bounds of write_bucketed's driver arm: a write of at most this many
# rows is collected once and written with pyarrow; a bigger one runs
# the Spark write. Sized with tools/profile_maintain.py (CHANGES.md has
# the table): the arms tie at about this many rows.
_DRIVER_WRITE_LIMIT = 131072
# ... and the bytes one collect may hold: each row gets an even share
# (2 KiB of string data at the row bound), and a wider row sends the
# write to Spark, so values of any width cannot fill the driver.
_DRIVER_WRITE_BYTES = 256 << 20


def write_bucketed(
    targets: "list[Target]",
    frame: DataFrame,
    sort_cols: "list[str] | None" = None,
    probes: "Iterable[DataFrame]" = (),
    staging_dir: "str | None" = None,
    large: bool = False,
) -> "tuple[Callable[..., None], Callable[[], None], list[bool]]":
    """THE bucketed-snapshot writer: every write of a bucketed table
    (merges, re-aggregation commits, rebucket, compaction) runs here.
    ``frame`` holds each target's touched buckets' full post-write
    contents, every row tagged with its target's index in ``_t``; a
    row's bucket ``_b`` is crc32 of ITS target's bucket column modulo
    ITS target's count, computed in-plan, so one write can cover
    tables bucketed on different columns (a maintenance batch writes
    its entries shards, on file_url, beside its reduced and sidecar
    tables, on key_json).

    Two arms, one layout. The frame is collected once as Arrow
    (_collect_small). At most _DRIVER_WRITE_LIMIT rows within
    _DRIVER_WRITE_BYTES (a micro-batch) and the driver writes one
    parquet file per (``_t``, ``_b``) group with pyarrow, sorted by
    ``sort_cols`` with nulls first: no write job, no shuffle, no
    per-task output commit — the reference's one bounded LevelDB
    batch write (lib/view.js:89-103). More rows, or a row wider than
    its share of the bytes, and the collect is dropped and ONE Spark
    job writes the frame with
    a REPARTITION_BY_COL shuffle on (``_t``, ``_b``) and no explicit
    partition count, so AQE sizes the write tasks to the rows (a
    count pinned to the buckets ran one near-empty task per bucket, a
    32768-task shuffle for a 32768-bucket rebucket); each group hashes
    wholly into one task, so a bucket dir gets a handful of files
    sorted within by ``sort_cols``. Past the bound the collect's
    upstream stages run twice, so ``large`` (from a caller that knows
    its frame is big: rebucket, compaction, a whole-view refold, a
    batch of more files than the row bound) skips the collect and goes
    straight to the Spark write. Either way row-group min/max stats
    prune key-range scans in the bucket, the LevelDB-iterator
    stand-in; a sort column a target lacks is NULL padding and sorts
    nothing.

    One target writes straight into its new snapshot dir, cleared
    first;
    several (or any probe) stage under one ``_merge-*`` dir in
    ``staging_dir`` (default: the first table's parent; the engine
    passes its warehouse and sweeps that prefix on open).

    ``probes``: frames of MARKER rows riding the write as targets
    ``len(targets) + j``, never committed; ``hits[j]`` answers "had
    probe j rows" with no job of its own (r14 verdict #3) — on the
    Spark arm because partitionBy materializes only non-empty
    partitions, so its dir exists only then; on the driver arm from
    the collected ``_t`` column.

    Returns (commit, cancel, hits). ``commit(which=None)`` flips the
    targets with the given indices (default: every one not yet
    flipped), in caller order, through ``_snapshot_commit`` — so a
    caller can publish some targets, do other work, then publish the
    rest, and leave out targets it decided to drop. ``cancel`` drops
    the staged write; after a partial commit it must be called once
    the caller is done (the default ``commit()`` calls it)."""
    import shutil
    import tempfile

    plan = []
    for t in targets:
        cur = t.table._current()
        if cur is not None:
            t.table._require_bucketed()
        plan.append((t.table, cur, int(t.n or t.table.n_buckets), t.ids, t.meta))
    layouts: "dict[tuple[str, int], list[int]]" = {}  # (col, n) -> targets
    for i, (t, p) in enumerate(zip(targets, plan)):
        layouts.setdefault((t.table.bucket_col, p[2]), []).append(i)
    if len(layouts) == 1:
        ((col, n),) = layouts
        b = _bucket(col, F.lit(n))
    else:
        b = F.lit(0)  # probe markers: any bucket
        for (col, n), idx in layouts.items():
            b = F.when(F.col("_t").isin(idx), _bucket(col, F.lit(n))).otherwise(b)
    probes = list(probes)
    for j, p in enumerate(probes):
        frame = frame.unionByName(
            p.withColumn("_t", F.lit(len(targets) + j)),
            allowMissingColumns=True,
        )
    w = frame.withColumn("_b", b)
    staged = len(targets) > 1 or bool(probes)
    if staged:
        out = tempfile.mkdtemp(
            prefix="_merge-",
            dir=staging_dir or os.path.dirname(targets[0].table.root),
        )
        srcs = [f"{out}/_t={i}" for i in range(len(targets))]
    else:
        table, cur = plan[0][0], plan[0][1]
        out = table._snapshot_dir((cur or 0) + 1)
        # a crash-orphaned dir at this version must not leak into it
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        srcs = [out]
    try:
        got = None if large else _collect_small(w)
        if got is not None:
            # the row-group grain the Spark writer takes from the same
            # setting: row-group stats are the in-bucket pruning grain
            block = frame.sparkSession.sparkContext._jsc.hadoopConfiguration().getLong(
                "parquet.block.size", 128 << 20
            )
            hits = _write_groups(
                got, out, staged, len(targets), len(probes), sort_cols, block
            )
        else:
            keys = ["_t", "_b"] if staged else ["_b"]
            w = (w if staged else w.drop("_t")).repartition(*keys)
            if sort_cols:
                w = w.sortWithinPartitions(*keys, *sort_cols)
            w.write.mode("overwrite").partitionBy(*keys).parquet(out)
            hits = [
                os.path.isdir(f"{out}/_t={len(targets) + j}")
                for j in range(len(probes))
            ]
    except BaseException:
        if staged:
            shutil.rmtree(out, ignore_errors=True)
        raise
    commit, cancel = _snapshot_commit(
        [(*p, src) for p, src in zip(plan, srcs)], out if staged else None
    )
    return commit, cancel, hits


def _collect_small(w: DataFrame):
    """write_bucketed's one collect: ``w`` as Arrow when it holds at
    most _DRIVER_WRITE_LIMIT rows, each row's string columns within an
    even share of _DRIVER_WRITE_BYTES, else None. A wider row comes
    back as NULLs and a flag, so the collect holds at most about
    _DRIVER_WRITE_BYTES whatever the rows carry."""
    import pyarrow.compute as pc
    from pyspark.sql.pandas.types import to_arrow_schema

    share = _DRIVER_WRITE_BYTES // max(_DRIVER_WRITE_LIMIT, 1)
    wide = sum(
        (
            F.coalesce(F.octet_length(f.name), F.lit(0))
            for f in w.schema
            if isinstance(f.dataType, (T.StringType, T.BinaryType))
        ),
        F.lit(0),
    ) > share
    got = (
        # one partition, so the limit reads its rows in place instead
        # of shuffling every partition's rows into one
        w.coalesce(1)
        .select(
            *[
                c if c in ("_t", "_b") else F.when(~wide, F.col(c)).alias(c)
                for c in w.columns
            ],
            wide.alias("_wide"),
        )
        .limit(_DRIVER_WRITE_LIMIT + 1)
        .toArrow()
    )
    if got.num_rows > _DRIVER_WRITE_LIMIT or pc.any(got["_wide"]).as_py():
        return None
    return got.drop_columns(["_wide"]).cast(to_arrow_schema(w.schema))


def _write_groups(
    got, out: str, staged: bool, n_targets: int, n_probes: int,
    sort_cols: "list[str] | None", block_bytes: int,
) -> "list[bool]":
    """write_bucketed's driver arm: the collected Arrow frame as one
    parquet file per (``_t``, ``_b``) group under ``out``, in the
    directories partitionBy fills (``_t=i/_b=K`` staged, ``_b=K``
    direct), without the partition columns; each file sorted like
    sortWithinPartitions (ascending, nulls first), in row groups of
    about ``block_bytes`` of Arrow data. Probe markers are not written.
    Returns the probe hits."""
    import pyarrow.parquet as pq

    order = [("_t", "ascending"), ("_b", "ascending")] + [
        (c, "ascending") for c in sort_cols or [] if c in got.column_names
    ]
    got = got.sort_by(order, null_placement="at_start")
    data = got.drop_columns(["_t", "_b"])
    group_rows = max(1, block_bytes * data.num_rows // max(data.nbytes, 1))
    ts, bs = got.column("_t").to_pylist(), got.column("_b").to_pylist()
    start = 0
    for i in range(1, len(ts) + 1):
        if i < len(ts) and (ts[i], bs[i]) == (ts[start], bs[start]):
            continue
        t, b = ts[start], bs[start]
        if t < n_targets:
            d = f"{out}/_t={t}/_b={b}" if staged else f"{out}/_b={b}"
            os.makedirs(d, exist_ok=True)
            pq.write_table(
                data.slice(start, i - start),
                f"{d}/part-00000.parquet",
                row_group_size=group_rows,
            )
        start = i
    return [n_targets + j in set(ts) for j in range(n_probes)]


def _snapshot_commit(plan: list, staging: "str | None"):
    """THE commit protocol of a bucketed snapshot, per target in plan
    order: fill the new snapshot dir with the written bucket dirs,
    hardlink every UNtouched bucket of the previous snapshot, write
    the layout meta, flip the pointer (the atomic commit). A touched
    bucket with no written dir is now EMPTY — correct, and why only
    untouched buckets hardlink. ``plan`` rows are (table, cur, n, ids,
    meta, src): ``cur`` the version the write read, ``n`` the new
    snapshot's bucket count, ``src`` the dir holding the written
    ``_b=K`` dirs — the new snapshot dir itself (a direct write), a
    staged dir, or None (nothing written: an empty snapshot). Returns
    (commit, cancel): ``commit(which=None)`` flips the plan rows with
    the given indices, or every row not yet flipped and then drops
    ``staging``; ``cancel`` drops ``staging``."""
    import shutil

    done: "set[int]" = set()

    def cancel() -> None:
        if staging is not None:
            shutil.rmtree(staging, ignore_errors=True)

    def commit(which: "Iterable[int] | None" = None) -> None:
        idx = [i for i in range(len(plan)) if i not in done] if which is None else which
        try:
            for i in idx:
                t, cur, n, ids, meta, src = plan[i]
                v = (cur or 0) + 1
                dest = t._snapshot_dir(v)
                if src != dest:
                    # crash-orphaned dir at this version: clear it,
                    # the overwrite-clears-dest convention
                    shutil.rmtree(dest, ignore_errors=True)
                    os.makedirs(dest)
                    if src is not None and os.path.isdir(src):
                        for bd in os.listdir(src):
                            if bd.startswith("_b="):
                                os.rename(f"{src}/{bd}", f"{dest}/{bd}")
                if cur is not None:
                    touched = set(ids)
                    for b in range(n):
                        old = t._bucket_dir(cur, b)
                        if b not in touched and os.path.isdir(old):
                            _link_tree(old, t._bucket_dir(v, b))
                t._write_snapshot_meta(dest, n)
                t._set_current(v, meta)
                done.add(i)
        except BaseException:
            cancel()
            raise
        if which is None:
            cancel()

    return commit, cancel


# The bucketed layout is generic over its bucket column — the engine
# uses it for entries shards (bucket_col='file_url', the retraction
# key) AND for the reduced table (bucket_col='key_json', the
# re-aggregation key). The alias names the general contract.
BucketedTable = BucketedEntriesTable


def _link_tree(src: str, dst: str) -> None:
    """Recreate ``src``'s file tree at ``dst`` via hardlinks (copy
    fallback for cross-device trees): snapshot file reuse without data
    movement. Both snapshots own a directory entry to the same inode,
    so vacuuming either leaves the other readable."""
    import shutil

    for dirpath, _dirs, files in os.walk(src):
        rel = os.path.relpath(dirpath, src)
        out_dir = os.path.join(dst, rel) if rel != "." else dst
        os.makedirs(out_dir, exist_ok=True)
        for name in files:
            s = os.path.join(dirpath, name)
            d = os.path.join(out_dir, name)
            try:
                os.link(s, d)
            except OSError:
                shutil.copy2(s, d)


class BucketedMetaTable(VersionedTable):
    """VersionedTable for driver-local METADATA rows, hash-bucketed on
    one string column so per-origin access is O(bucket), not O(table):

        <root>/vXXXXXXXX/bucket-00042.parquet   (one file per non-empty bucket)
        <root>/_metabuckets.json                {"n": N, "col": "origin"}

    The offsets table is one row per (view, origin) — bounded, but
    bounded by views x SOURCES. At the millions-of-sources scale the
    two-level changelog layout targets, r13's flat layout made every
    maintenance batch read AND rewrite every row on the driver (r13
    verdict #3). Bucketing by crc32(origin) % N gives the metadata
    path the same contract BucketedEntriesTable gives the data path:
    a batch touching k origins reads only their bucket files and the
    upsert rewrites only those buckets, HARDLINKING every untouched
    bucket file into the new snapshot — per-batch metadata IO is
    O(origins-in-batch), flat in total source count. All IO stays
    driver-local pyarrow (read_rows/overwrite_rows contract — never a
    Spark job); the snapshot + pointer-flip protocol is unchanged, so
    crash-safety, time travel, and vacuum are identical. A snapshot
    holding any other data file (a flat part-*.parquet layout) is
    foreign and refused with EngineError."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        schema: T.StructType,
        bucket_col: str,
        n_buckets: int = 64,
    ):
        super().__init__(spark, root, schema)
        self.bucket_col = bucket_col
        self._col_idx = [f.name for f in schema.fields].index(bucket_col)
        meta_path = f"{self.root}/_metabuckets.json"
        try:
            with open(meta_path) as f:
                meta = json.load(f)
            self.n_buckets = int(meta["n"])
        except (FileNotFoundError, KeyError, ValueError, json.JSONDecodeError):
            # first open pins the bucket count (membership math
            # depends on N, so it must never drift between sessions)
            self.n_buckets = int(n_buckets)
            tmp = meta_path + ".tmp"
            with open(tmp, "w") as f:
                json.dump({"n": self.n_buckets, "col": bucket_col}, f)
            os.replace(tmp, meta_path)

    def bucket_of(self, value) -> int:
        import zlib

        return zlib.crc32(str(value).encode("utf-8")) % self.n_buckets

    def _bucket_path(self, d: str, b: int) -> str:
        return f"{d}/bucket-{b:05d}.parquet"

    def _bucket_files(self, v: int, values=None) -> "list[str]":
        """Data files of snapshot ``v``, pruned to ``values``' buckets
        when given. Raises EngineError on a flat snapshot."""
        import glob as _glob

        d = self._snapshot_dir(v)
        files = sorted(_glob.glob(f"{d}/*.parquet"))
        if any(not os.path.basename(f).startswith("bucket-") for f in files):
            raise EngineError(
                f"{self.root} holds a flat (unbucketed) snapshot; " + REBUILD_HINT
            )
        if values is None:
            return files
        want = sorted({self.bucket_of(x) for x in values})
        return [
            self._bucket_path(d, b)
            for b in want
            if os.path.exists(self._bucket_path(d, b))
        ]

    def read_rows(self, values=None) -> "list[tuple]":
        """Driver-local row tuples; ``values`` prunes the read to those
        bucket-column values' buckets. SUPERSET semantics: rows of
        other values that share a bucket ride along — callers filter
        (they key their lookups exactly anyway). Full reads over many
        bucket files go through one pyarrow DATASET scan (parallel
        file IO) instead of a sequential per-file loop — the fixed
        cost of a full pointer-table read is what every entries_df
        pays (r14 verdict #1)."""
        import pyarrow.parquet as pq

        v = self._current()
        if v is None:
            return []
        names = [f.name for f in self.schema.fields]
        files = self._bucket_files(v, values)
        if len(files) > 8:
            import pyarrow.dataset as pads

            t = pads.dataset(files, format="parquet").to_table(columns=names)
            cols = [t.column(n).to_pylist() for n in names]
            return list(zip(*cols)) if cols and t.num_rows else []
        out: "list[tuple]" = []
        for path in files:
            t = pq.read_table(path, columns=names)
            cols = [t.column(n).to_pylist() for n in names]
            out.extend(zip(*cols) if cols and t.num_rows else [])
        return out

    def _write_bucket_file(self, d: str, b: int, rows: "list[tuple]") -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        schema = self._pa_schema()
        cols = list(zip(*rows)) if rows else [[] for _ in schema.names]
        table = pa.table(
            {n: list(c) for n, c in zip(schema.names, cols)}, schema=schema
        )
        pq.write_table(table, self._bucket_path(d, b))

    def _fresh_snapshot_dir(self) -> "tuple[int, str]":
        import shutil

        v = (self._current() or 0) + 1
        d = self._snapshot_dir(v)
        if os.path.isdir(d):  # crash-orphaned dir: overwrite-clears-dest
            shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d, exist_ok=True)
        return v, d

    def overwrite_rows(self, rows: "list[tuple]") -> None:
        """Full copy-on-write rewrite, landing in the BUCKETED layout
        (so every snapshot this class writes supports pruned reads and
        incremental upserts)."""
        by_bucket: "dict[int, list]" = {}
        for r in rows:
            by_bucket.setdefault(self.bucket_of(r[self._col_idx]), []).append(r)
        v, d = self._fresh_snapshot_dir()
        for b, rs in by_bucket.items():
            self._write_bucket_file(d, b, rs)
        self._set_current(v)

    def upsert_rows(
        self,
        updates: "list[tuple]",
        key_cols: "tuple[int, ...]",
        meta: "dict | None" = None,
    ) -> None:
        """Upsert row tuples keyed by the ``key_cols`` column indices,
        touching ONLY the updates' buckets: each touched bucket file
        is rewritten with its surviving rows + the updates, every
        untouched bucket file hardlinks into the new snapshot (same
        inode, two directory entries — vacuum of either snapshot
        leaves the other readable). ``meta`` replaces the manifest
        meta, committed with the pointer flip; None keeps it."""
        import pyarrow.parquet as pq

        if not updates:
            return
        meta = self.manifest_meta() if meta is None else meta
        cur = self._current()
        if cur is None:
            self.overwrite_rows(updates)
            self.set_meta(meta)
            return
        self._bucket_files(cur)  # refuses a flat snapshot
        by_bucket: "dict[int, list]" = {}
        for r in updates:
            by_bucket.setdefault(self.bucket_of(r[self._col_idx]), []).append(r)
        keys = {tuple(r[i] for i in key_cols) for r in updates}
        names = [f.name for f in self.schema.fields]
        old_dir = self._snapshot_dir(cur)
        v, d = self._fresh_snapshot_dir()
        for b in range(self.n_buckets):
            src = self._bucket_path(old_dir, b)
            if b not in by_bucket:
                if os.path.exists(src):
                    try:
                        os.link(src, self._bucket_path(d, b))
                    except OSError:
                        import shutil

                        shutil.copy2(src, self._bucket_path(d, b))
                continue
            kept: "list[tuple]" = []
            if os.path.exists(src):
                t = pq.read_table(src, columns=names)
                cols = [t.column(n).to_pylist() for n in names]
                for r in (zip(*cols) if cols and t.num_rows else []):
                    if tuple(r[i] for i in key_cols) not in keys:
                        kept.append(r)
            kept.extend(by_bucket[b])
            self._write_bucket_file(d, b, kept)
        self._set_current(v, meta)

    def delete_rows(self, values, meta: "dict | None" = None) -> None:
        """Drop every row whose bucket column value is in ``values``,
        touching ONLY those values' buckets (untouched bucket files
        hardlink, exactly like upsert_rows, and ``meta`` as there).
        No-op on an absent table."""
        import pyarrow.parquet as pq

        values = set(values)
        if not values:
            return
        cur = self._current()
        if cur is None:
            return
        meta = self.manifest_meta() if meta is None else meta
        self._bucket_files(cur)  # refuses a flat snapshot
        want = {self.bucket_of(x) for x in values}
        names = [f.name for f in self.schema.fields]
        old_dir = self._snapshot_dir(cur)
        v, d = self._fresh_snapshot_dir()
        for b in range(self.n_buckets):
            src = self._bucket_path(old_dir, b)
            if not os.path.exists(src):
                continue
            if b not in want:
                try:
                    os.link(src, self._bucket_path(d, b))
                except OSError:
                    import shutil

                    shutil.copy2(src, self._bucket_path(d, b))
                continue
            t = pq.read_table(src, columns=names)
            cols = [t.column(n).to_pylist() for n in names]
            kept = [
                r
                for r in (zip(*cols) if cols and t.num_rows else [])
                if r[self._col_idx] not in values
            ]
            self._write_bucket_file(d, b, kept)
        self._set_current(v, meta)


class AppendOnlyLog:
    """Append-only parquet log in ONE stable directory.

    The changelog is a log — nothing ever rewrites it — so it needs no
    snapshot versioning, and a streaming reader (watch mode) can trust
    the directory path for the lifetime of the warehouse. Streaming
    from a VersionedTable snapshot dir would silently strand a running
    readStream the moment any overwrite flipped the manifest to a new
    vNNNNNNNN directory.

    ``partition_by`` writes hive-style ``col=value/`` subdirectories:
    a reader filtering on a partition column prunes to that column's
    directories (PartitionFilters on the scan) instead of listing and
    footer-reading every file in the log. The engine partitions its
    changelog by origin, so per-source ``index()`` / watch catch-up
    scans touch one source's files — at 100 TB with thousands of
    sources, the difference between one directory and the whole log.
    Partition values are directory names, so Spark URL-escapes
    specials (``dat://a`` -> ``dat%3A%2F%2Fa``) and unescapes on read;
    both batch and file-stream readers discover the layout from the
    user-provided schema.

    A partitioned log refuses to open over flat ``part-*.parquet``
    files in its directory (EngineError): appending ``col=value/``
    subdirectories next to them would make every later read throw
    Spark's "Conflicting directory structures".

    TWO-LEVEL LAYOUT (``hash_levels=1``): at millions of sources a
    single flat ``origin=...`` level turns every driver-side
    partition listing (expiry floors, partition_dir) and filesystem
    directory op into an O(origins) listdir of one huge directory.
    ``hash_levels=1`` interposes a 256-way fan-out level —
    ``origin_hash=xx/origin=.../`` with xx the first two hex chars
    of md5(origin) — so any per-origin op lists 256 + origins/256
    entries instead. Reader code is unchanged: per-origin reads
    (``read_origin``) filter BOTH levels so PartitionFilters prune
    through the hash level too, and whole-log reads re-select the
    schema columns (Spark appends discovered partition columns not
    in the user schema). The layout is a property of the WAREHOUSE,
    pinned in ``_layout.json`` on first write and adopted on reopen
    whatever the constructor argument; opening an existing
    single-level log with ``hash_levels=1`` refuses loudly (an
    in-place migration would leave a reader racing the rename —
    rebuild via a fresh warehouse or keep the flat layout)."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        schema: T.StructType,
        partition_by: "tuple[str, ...]" = (),
        hash_levels: int = 0,
    ):
        self.spark = spark
        self.root = root.rstrip("/")
        self.schema = schema
        self.partition_by = tuple(partition_by)
        if int(hash_levels) not in (0, 1):
            raise ValueError(f"hash_levels must be 0 or 1, got {hash_levels}")
        self.hash_levels = int(hash_levels)
        os.makedirs(self.root, exist_ok=True)
        if self.partition_by and any(
            not name.startswith(("_", "."))
            and not os.path.isdir(os.path.join(self.root, name))
            for name in os.listdir(self.root)
        ):
            raise EngineError(
                f"changelog at {self.root} holds flat data files but "
                f"is opened partitioned by {self.partition_by}; "
                + REBUILD_HINT
            )
        if not self.partition_by:
            self.hash_levels = 0
            return
        stored = self._read_layout()
        entries = os.listdir(self.root)
        has_hashed = any(n.startswith(self._hash_col() + "=") for n in entries)
        has_flat = any(
            n.startswith(self.partition_by[0] + "=") for n in entries
        )
        if stored is not None:
            if self.hash_levels > stored:
                raise RuntimeError(
                    f"changelog at {self.root} is pinned to the "
                    f"hash_levels={stored} layout; opening it with "
                    f"hash_levels={self.hash_levels} would interleave "
                    "two directory structures (Spark rejects the mix) "
                    "— keep the pinned layout for this warehouse, or "
                    "rebuild it into a fresh warehouse to adopt the "
                    "two-level layout"
                )
            self.hash_levels = stored
        elif has_hashed:
            self.hash_levels = 1
        elif has_flat:
            if self.hash_levels:
                raise RuntimeError(
                    f"changelog at {self.root} was written with the "
                    f"single-level {self.partition_by[0]}= layout; "
                    "opening it with hash_levels=1 would interleave "
                    "two directory structures (Spark rejects the mix) "
                    "— keep hash_levels=0 for this warehouse, or "
                    "rebuild it into a fresh warehouse to adopt the "
                    "two-level layout"
                )
            self.hash_levels = 0
        if stored is None:
            self._write_layout()

    # -- two-level layout helpers --------------------------------------
    def _hash_col(self) -> str:
        return f"{self.partition_by[0]}_hash"

    def _hash_of(self, value: str) -> str:
        """Driver twin of the in-plan hash (md5 hex prefix — same
        bytes Spark's F.md5 hashes on a UTF-8 string column)."""
        import hashlib

        return hashlib.md5(value.encode("utf-8")).hexdigest()[:2]

    def _layout_path(self) -> str:
        return f"{self.root}/_layout.json"

    def _read_layout(self) -> "int | None":
        try:
            with open(self._layout_path()) as f:
                return int(json.load(f)["hash_levels"])
        except (FileNotFoundError, KeyError, ValueError, json.JSONDecodeError):
            return None

    def _write_layout(self) -> None:
        tmp = self._layout_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"hash_levels": self.hash_levels}, f)
        os.replace(tmp, self._layout_path())

    def read(self) -> DataFrame:
        df = self.spark.read.schema(self.schema).parquet(self.root)
        if self.partition_by:
            # Spark APPENDS discovered partition columns (the hash
            # level isn't in the user schema at all, and declared
            # partition columns get moved to the end) — re-select so
            # every layout presents exactly the declared column order
            df = df.select(*[f.name for f in self.schema.fields])
        return df

    def has_partitions(self) -> bool:
        """Has any append landed? A partitioned log with no partition
        directory holds no rows (driver-side scandir, stops at the
        first match)."""
        if not self.partition_by:
            return True
        first = (self._hash_col() if self.hash_levels else self.partition_by[0]) + "="
        with os.scandir(self.root) as it:
            return any(e.name.startswith(first) for e in it)

    def read_origin(self, value: str) -> DataFrame:
        """One source's rows, with PartitionFilters pruning through
        EVERY directory level (under hash_levels=1 the scan carries
        both the origin_hash= and origin= predicates — at millions of
        origins that is the difference between touching 1/256th of
        the directory tree and all of it).

        A log with no partition directory yet reads as empty without
        Spark: a read lists the root twice (partition inference, then
        files), so a first append landing between the two listings
        would hand the scan files whose partition values its empty
        partition schema cannot hold."""
        col = self.partition_by[0] if self.partition_by else "origin"
        if not self.has_partitions():
            return empty_df(self.spark, self.schema)
        if not self.hash_levels:
            return self.read().filter(F.col(col) == value)
        ext = T.StructType(
            list(self.schema.fields)
            + [T.StructField(self._hash_col(), T.StringType())]
        )
        return (
            self.spark.read.schema(ext)
            .parquet(self.root)
            .filter(
                (F.col(self._hash_col()) == self._hash_of(value))
                & (F.col(col) == value)
            )
            .select(*[f.name for f in self.schema.fields])
        )

    def append(self, df: DataFrame, max_records_per_file: int = 1 << 20) -> None:
        w = df
        if self.partition_by:
            # co-locate each partition value into ONE write task: an
            # unrepartitioned append fans out into (tasks x values)
            # tiny files — a 32-partition 8k-row batch wrote 128 —
            # and every downstream scan, stream micro-batch, and
            # catch-up index() pays a task per file forever (the
            # watch path's dominant fixed cost in the r10 profile).
            # maxRecordsPerFile re-splits a genuinely large append
            # inside the task, so file sizes stay bounded; per-append
            # per-origin volume is micro-batch-sized by construction,
            # which is why one write task per origin is the right
            # parallelism here.
            w = df.repartition(*[F.col(c) for c in self.partition_by])
            if self.hash_levels:
                # derived directory level only — partitionBy consumes
                # it into the path, data files never store it
                w = w.withColumn(
                    self._hash_col(),
                    F.substring(F.md5(F.col(self.partition_by[0])), 1, 2),
                )
        wr = w.write.mode("append").option(
            "maxRecordsPerFile", str(int(max_records_per_file))
        )
        if self.partition_by:
            cols = (
                (self._hash_col(),) if self.hash_levels else ()
            ) + self.partition_by
            wr = wr.partitionBy(*cols)
        wr.parquet(self.root)

    # -- retention ----------------------------------------------------
    def partition_dir(self, value: str) -> "str | None":
        """Directory of one partition value (first partition column),
        or None if absent. Spark URL-escapes partition values into
        directory names (``dat://a`` -> ``dat%3A%2F%2Fa``); matching
        by unquoting avoids reimplementing its escape table."""
        if not self.partition_by:
            return None
        from urllib.parse import unquote

        base = self.root
        if self.hash_levels:
            base = os.path.join(
                self.root, f"{self._hash_col()}={self._hash_of(value)}"
            )
            if not os.path.isdir(base):
                return None
        prefix = self.partition_by[0] + "="
        for name in os.listdir(base):
            if name.startswith(prefix) and unquote(name[len(prefix):]) == value:
                return os.path.join(base, name)
        return None

    def data_files(self, part_dir: str) -> "list[str]":
        """Parquet data files under one partition directory."""
        out = []
        for dirpath, _dirs, files in os.walk(part_dir):
            out.extend(
                os.path.join(dirpath, f)
                for f in files
                if f.endswith(".parquet") and not f.startswith(("_", "."))
            )
        return sorted(out)

    def swap_origin_files(self, value: str, kept: DataFrame) -> "dict[str, int]":
        """Replace one partition's data files with ``kept``'s rows —
        the log-compaction commit. Protocol (add-copies-then-delete,
        each step crash-tolerant):

          1. write ``kept`` (WITHOUT the partition column — hive
             layout keeps it in the directory name) to a ``_``-hidden
             staging dir Spark readers ignore,
          2. os.rename the staged files into the partition directory
             (same filesystem — the staging dir lives inside the log),
          3. delete the old data files.

        A crash after any prefix of these steps leaves only DUPLICATE
        rows in the log, never missing ones — and every consumer goes
        through latest_wins (row_number over version desc), which
        collapses exact duplicates, so a half-done swap is read-safe
        and the next expiry pass cleans it up."""
        import shutil
        import uuid

        part_dir = self.partition_dir(value)
        if part_dir is None:
            return {"files_removed": 0, "files_added": 0}
        old = self.data_files(part_dir)
        staging = os.path.join(self.root, "_expire_staging")
        shutil.rmtree(staging, ignore_errors=True)
        kept.drop(*self.partition_by).write.mode("overwrite").parquet(staging)
        tag = uuid.uuid4().hex[:8]
        added = 0
        for i, p in enumerate(self.data_files(staging)):
            os.rename(
                p, os.path.join(part_dir, f"compacted-{tag}-{i:05d}.parquet")
            )
            added += 1
        shutil.rmtree(staging, ignore_errors=True)
        for p in old:
            try:
                os.remove(p)
            except OSError:
                pass
        return {"files_removed": len(old), "files_added": added}


OFFSETS_SCHEMA = T.StructType(
    [
        T.StructField("view", T.StringType(), False),
        T.StructField("origin", T.StringType(), False),
        T.StructField("last_version", T.LongType(), False),
    ]
)

SOURCES_SCHEMA = T.StructType(
    [
        T.StructField("origin", T.StringType(), False),
        T.StructField("watch", T.BooleanType(), False),
    ]
)
