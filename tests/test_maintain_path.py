"""One maintenance path, no layout-upgrade shims.

index(), index_file/unindex_file and watch all run the engine's one
maintenance cycle (MapReduce._maintain_batch). Warehouse layouts that
only earlier engine versions wrote are refused with EngineError on
first use instead of migrated. Also pinned here: the driver-side
bucketed reset, compaction sizing that does not depend on how many
files the input was split into, eager_release's error path, driver
rows that reach the JVM without a Python worker, a warm cycle that
reuses its generated code, the Spark job budget of one update and the
phase name on each of its jobs, and crash recovery across entry points
and twin views of a shared entries store.
"""

import json
import os
import shutil

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dat_archive_map_reduce_spark.engine import MapReduce
from dat_archive_map_reduce_spark.errors import EngineError
from dat_archive_map_reduce_spark.streaming import watch as W


def map_kv(content, meta, emit):
    obj = json.loads(content)
    emit(obj["k"], obj["v"])


def map_kv_logged(content, meta, emit):
    """map_kv that appends one line per call to the file the content
    names — a call counter that works across Python workers."""
    obj = json.loads(content)
    with open(obj["log"], "a") as f:
        f.write(meta["url"] + "\n")
    emit(obj["k"], obj["v"])


def _row(origin, path, version, k, v, typ="put"):
    return {
        "origin": origin,
        "pathname": path,
        "version": version,
        "type": typ,
        "content": None if typ == "del" else json.dumps({"k": k, "v": v}),
    }


def _count_engine(spark, wh):
    db = MapReduce(spark, wh)
    db.define("c", path="/d/*.json", map=map_kv, reduce="count",
              key_schema=["string"])
    return db


def _indexed(spark, wh):
    db = _count_engine(spark, wh)
    db.index_source("dat://a", [
        _row("dat://a", f"/d/{i}.json", 1, f"k{i % 4}", i) for i in range(8)
    ])
    return db


# -- each old layout: build it, return the first use that must refuse --


def _flat_reduced_snapshot(spark, wh):
    from dat_archive_map_reduce_spark.operators.map_reduce import reduced_schema
    from dat_archive_map_reduce_spark.plans.catalog import VersionedTable

    db = _indexed(spark, wh)
    red = db._reduced_table("c")
    flat = VersionedTable(spark, red.root, reduced_schema(db._view("c").key_types()))
    flat.overwrite(red.read(), sort_cols=["key_json"])
    return lambda: db.get("c", "k1")


def _flat_entries_shard(spark, wh):
    from dat_archive_map_reduce_spark.operators.map_reduce import entries_schema
    from dat_archive_map_reduce_spark.plans.catalog import VersionedTable

    db = _indexed(spark, wh)
    ent = db._entries_table("c", "dat://a")
    flat = VersionedTable(spark, ent.root, entries_schema(db._view("c").key_types()))
    flat.overwrite(ent.read())
    return lambda: db.index_source(
        "dat://a", [_row("dat://a", "/d/0.json", 2, "k9", 0)]
    )


def _flat_offsets_snapshot(spark, wh):
    from dat_archive_map_reduce_spark.plans.catalog import (
        OFFSETS_SCHEMA,
        VersionedTable,
    )

    _indexed(spark, wh).close()
    flat = VersionedTable(spark, f"{wh}/offsets", OFFSETS_SCHEMA)
    flat.overwrite_rows([("c", "dat://a", 1)])
    db = _count_engine(spark, wh)
    return db.list_indexed


def _bare_int_token(spark, wh):
    db = _indexed(spark, wh)
    red = db._reduced_table("c")
    red._set_current(red._current(), {"batch_token": 0})
    db.append_changes([_row("dat://a", "/d/8.json", 2, "k1", 8)])
    return lambda: db._maintain_batch(
        db.changelog.read_origin("dat://a").filter(F.col("version") == 2),
        list(db.views.values()),
        batch_token="lineage:0",
    )


def _store_without_pointer_table(spark, wh):
    db = _indexed(spark, wh)
    shutil.rmtree(db._entries_ptr_table("c").root)
    db.close()
    return lambda: _count_engine(spark, wh)


def _per_view_store(spark, wh):
    db = _indexed(spark, wh)
    ent_root, _ = db._store_paths(db._view("c"))
    db.close()
    os.rename(ent_root, f"{wh}/views/c/entries")
    os.remove(f"{wh}/views/c/store.json")
    return lambda: _count_engine(spark, wh)


def _flat_changelog(spark, wh):
    db = MapReduce(spark, wh)
    db.changelog.partition_by = ()
    db.append_changes([_row("dat://a", "/d/0.json", 1, "k0", 0)])
    return lambda: MapReduce(spark, wh)


OLD_LAYOUTS = {
    "flat-reduced-snapshot": _flat_reduced_snapshot,
    "flat-entries-shard": _flat_entries_shard,
    "flat-offsets-snapshot": _flat_offsets_snapshot,
    "bare-int-token": _bare_int_token,
    "store-without-pointer-table": _store_without_pointer_table,
    "per-view-store": _per_view_store,
    "flat-changelog": _flat_changelog,
}


@pytest.mark.parametrize("layout", sorted(OLD_LAYOUTS))
def test_old_layout_refused(spark, tmp_path, layout):
    """Each layout an earlier engine version wrote raises EngineError
    on first use, naming the rebuild; nothing migrates it."""
    first_use = OLD_LAYOUTS[layout](spark, str(tmp_path / "wh"))
    with pytest.raises(EngineError, match="rebuild"):
        first_use()


def test_bucketed_reset_is_driver_side(spark, tmp_path):
    """reset() flips a BucketedEntriesTable to an EMPTY bucketed
    snapshot (no part files, layout meta present) without a Spark job,
    and the next merge writes only the buckets it touches. A plain
    VersionedTable reset under the same job group does run a job, so
    the probe can see one."""
    from dat_archive_map_reduce_spark.plans.catalog import (
        BucketedEntriesTable,
        VersionedTable,
    )

    sch = T.StructType([
        T.StructField("key_json", T.StringType(), False),
        T.StructField("value", T.StringType(), True),
    ])
    t = BucketedEntriesTable(spark, str(tmp_path / "b"), sch,
                             bucket_col="key_json", n_buckets=4)
    rows = spark.createDataFrame([(f"k{i}", str(i)) for i in range(16)], sch)
    t.write_merged(list(range(4)), rows)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc.setJobGroup("reset-probe", "reset must not run a job")
    try:
        t.reset()
        reset_jobs = list(tracker.getJobIdsForGroup("reset-probe"))
        VersionedTable(spark, str(tmp_path / "plain"), sch).reset()
        plain_jobs = list(tracker.getJobIdsForGroup("reset-probe"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert reset_jobs == []
    assert plain_jobs, "the job-group probe must see a Spark reset's job"
    assert t.current_is_bucketed()
    assert sorted(os.listdir(t._snapshot_dir(t._current()))) == ["_bucketmeta.json"]
    assert t.n_buckets == 4
    assert t.read().count() == 0
    b = t.bucket_of("k1")
    t.write_merged([b], rows.filter(F.col("key_json") == "k1"))
    v = t._current()
    buckets = [n for n in os.listdir(t._snapshot_dir(v)) if n.startswith("_b=")]
    assert buckets == [f"_b={b}"]  # nothing hardlinked from the reset
    assert [r["key_json"] for r in t.read().collect()] == ["k1"]


def test_rebucket_write_tasks_do_not_scale_with_bucket_count(spark, tmp_path):
    """rebucket() writes through the one bucketed writer, whose
    shuffle has no explicit partition count, so AQE sizes the write
    to the rows: no stage of the migration runs more tasks than
    defaultParallelism, even at 4096 buckets. A shuffle pinned to the
    bucket count ran one task per bucket."""
    from dat_archive_map_reduce_spark.plans.catalog import BucketedEntriesTable

    sch = T.StructType([
        T.StructField("key_json", T.StringType(), False),
        T.StructField("value", T.StringType(), True),
    ])
    t = BucketedEntriesTable(spark, str(tmp_path / "b"), sch,
                             bucket_col="key_json", n_buckets=4)
    keys = [f"k{i}" for i in range(64)]
    t.write_merged(list(range(4)), spark.createDataFrame(
        [(k, k) for k in keys], sch))
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc.setJobGroup("rebucket-probe", "rebucket write task count")
    try:
        t.rebucket(4096, sort_cols=["key_json"])
        jobs = list(tracker.getJobIdsForGroup("rebucket-probe"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    stages = [tracker.getStageInfo(s) for j in jobs
              for s in tracker.getJobInfo(j).stageIds]
    tasks = [s.numTasks for s in stages if s is not None]
    assert tasks, "the job-group probe must see the rebucket's write"
    assert max(tasks) <= sc.defaultParallelism, tasks
    assert t.n_buckets == 4096
    assert sorted(r["key_json"] for r in t.read().collect()) == sorted(keys)
    import pyarrow.parquet as pq

    snap = t._snapshot_dir(t._current())
    for name in os.listdir(snap):
        if name.startswith("_b="):
            got = pq.read_table(f"{snap}/{name}").column("key_json").to_pylist()
            assert {t.bucket_of(k) for k in got} == {int(name[3:])}


def test_index_maps_each_changed_file_once(spark, tmp_path):
    """index() runs the map UDF once per changed file: the mapped
    output is cached for the merge, the re-aggregation keys and every
    twin view of the shared store."""
    log_dir = tmp_path / "calls"
    log_dir.mkdir()

    def rows(n, version, first):
        return [
            {
                "origin": "dat://a",
                "pathname": f"/d/{first + i}.json",
                "version": version,
                "content": json.dumps({
                    "k": f"k{(first + i) % 5}", "v": first + i,
                    "log": str(log_dir / f"v{version}.log"),
                }),
            }
            for i in range(n)
        ]

    def calls(version):
        p = log_dir / f"v{version}.log"
        return len(p.read_text().splitlines()) if p.exists() else 0

    db = MapReduce(spark, str(tmp_path / "wh"))
    for name, reduce in (("m", None), ("c", "count"), ("lo", "min")):
        db.define(name, path="/d/*.json", map=map_kv_logged, reduce=reduce,
                  key_schema=["string"])
    db.index_source("dat://a", rows(24, 1, 0))
    assert calls(1) == 24
    # an update re-keying 6 existing files and adding 2 new ones
    db.index_source("dat://a", rows(8, 2, 18))
    assert calls(2) == 8
    assert calls(1) == 24  # no already-applied file is mapped again
    assert db.get("c", "k3") == {"key": "k3", "value": 5}
    db.close()


def test_index_and_watch_event_sequences(spark, tmp_path):
    """index() and a watch drain emit their event sequences from the
    one cycle: index adds per-view progress, watch does not."""

    def run(drive):
        log = []
        db = MapReduce(spark, str(tmp_path / drive))
        for ev in ("archive-indexing", "archive-index-progress",
                   "archive-indexed", "indexes-updated"):
            db.on(ev, lambda _ev=ev, **kw: log.append((_ev, kw.get("view"))))
        db.define("m", path="/d/*.json", map=map_kv, key_schema=["string"])
        db.define("c", path="/d/*.json", map=map_kv, reduce="count",
                  key_schema=["string"])
        db.append_changes([_row("dat://a", "/d/0.json", 1, "x", 1)])
        if drive == "index":
            db.index("dat://a")
        else:
            W.watch_until_caught_up(db)
        db.close()
        return log

    assert run("index") == [
        ("archive-indexing", "m"), ("archive-indexing", "c"),
        ("archive-index-progress", "m"), ("archive-indexed", "m"),
        ("archive-index-progress", "c"), ("archive-indexed", "c"),
        ("indexes-updated", None),
    ]
    assert run("watch") == [
        ("archive-indexing", "m"), ("archive-indexing", "c"),
        ("archive-indexed", "m"), ("archive-indexed", "c"),
        ("indexes-updated", None),
    ]


@pytest.mark.parametrize("input_files", [4, 8])
def test_compaction_file_count_ignores_input_fragmentation(spark, tmp_path, input_files):
    """compact() sizes its output from the rows' data bytes, so the
    same rows compact to the same file count whether they arrived as
    4 files or 8 (on-disk bytes gave 6 and 10 files here)."""
    import glob

    from dat_archive_map_reduce_spark.plans.catalog import VersionedTable

    schema = T.StructType([
        T.StructField("x", T.LongType(), False),
        T.StructField("y", T.LongType(), False),
    ])
    grid = spark.range(0, 64 * 64).select(
        (F.col("id") % 64).alias("x"), (F.col("id") / F.lit(64)).cast("long").alias("y")
    )
    t = VersionedTable(spark, str(tmp_path / "t"), schema)
    t.overwrite(grid.repartition(input_files))
    assert len(glob.glob(f"{t._snapshot_dir(t._current())}/*.parquet")) == input_files
    v = t.compact(sort_cols=["x", "y"], target_file_bytes=1 << 12)
    # 4096 rows x two 8-byte columns = 64 KiB of row data -> 16 files
    assert len(glob.glob(f"{t._snapshot_dir(v)}/*.parquet")) == 16
    assert t.read().count() == 64 * 64


def test_eager_release_propagates_count_error(spark):
    """A failing count() inside eager_release propagates ITS error even
    when the cleanup unpersist() calls fail too."""
    from pyspark.sql.functions import udf

    from dat_archive_map_reduce_spark.operators._util import eager_release

    class BrokenCache:
        unpersisted = 0

        def unpersist(self):
            BrokenCache.unpersisted += 1
            raise RuntimeError("cleanup failed")

    @udf("long")
    def boom(x):
        raise ValueError("count failed")

    bad = spark.range(4).select(boom("id").alias("v"))
    with pytest.raises(Exception) as ei:
        eager_release(bad, BrokenCache(), BrokenCache())
    assert "count failed" in str(ei.value)
    assert "cleanup failed" not in str(ei.value)
    assert BrokenCache.unpersisted == 2


def test_driver_rows_start_no_python_workers(spark):
    """Driver-built frames (the changelog rows append_changes,
    index_file and unindex_file write, the min/max driver delta's
    rows) are LocalTableScans: their lineage has no PythonRDD, so no
    Python worker task runs to hand them to the JVM. Struct keys,
    single and compound, survive the Arrow conversion."""
    from dat_archive_map_reduce_spark.plans.catalog import local_df
    from dat_archive_map_reduce_spark.sources.files import changelog_from_rows

    key = T.StructType([
        T.StructField("k0", T.StringType(), True),
        T.StructField("k1", T.LongType(), True),
    ])
    schema = T.StructType([
        T.StructField("key", key, False),
        T.StructField("key_json", T.StringType(), False),
        T.StructField("value", T.StringType(), True),
    ])
    rows = [
        (Row(k0="a", k1=1), '["a",1]', "1.0"),
        (("b", 2), '["b",2]', None),
    ]
    frames = {
        "changelog_from_rows": changelog_from_rows(spark, [
            _row("dat://a", "/d/0.json", 1, "k0", 0),
            _row("dat://a", "/d/1.json", 2, None, None, typ="del"),
        ]),
        "local_df": local_df(spark, rows, schema),
    }
    for name, df in frames.items():
        lineage = df._jdf.queryExecution().toRdd().toDebugString()
        assert "PythonRDD" not in lineage, (name, lineage)
    assert frames["local_df"].collect() == [
        Row(key=Row(k0="a", k1=1), key_json='["a",1]', value="1.0"),
        Row(key=Row(k0="b", k1=2), key_json='["b",2]', value=None),
    ]
    assert [(r["url"], r["type"], r["content"]) for r in
            frames["changelog_from_rows"].collect()][1] == (
        "dat://a/d/1.json", "del", None)
    assert local_df(spark, [], schema).rdd.getNumPartitions() == 0


def test_warm_cycle_reuses_generated_code(spark, tmp_path):
    """A warm maintenance cycle finds its generated classes in Spark's
    codegen cache: the third of three same-shaped 8-file index()
    updates, and the third of three watch drains, each run at most 30
    Janino compiles. With Spark's default 100-entry cache every such
    cycle recompiled about 150 classes."""
    compiles = (spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
                .METRIC_COMPILATION_TIME())

    def update(version):
        return [
            _row("dat://a", f"/d/{i}.json", version, f"k{i % 4}", version * 100 + i)
            for i in range(8)
        ]

    db = MapReduce(spark, str(tmp_path / "wh"))
    for name, reduce in (("m", None), ("c", "count"), ("lo", "min")):
        db.define(name, path="/d/*.json", map=map_kv, reduce=reduce,
                  key_schema=["string"])
    db.index_source("dat://a", [
        _row("dat://a", f"/d/{i}.json", 1, f"k{i % 4}", i) for i in range(24)
    ])

    def compiles_per_cycle(cycle, versions):
        counts = []
        for v in versions:
            before = compiles.getCount()
            cycle(v)
            counts.append(compiles.getCount() - before)
        return counts

    by_index = compiles_per_cycle(
        lambda v: db.index_source("dat://a", update(v)), (2, 3, 4))

    def drain(v):
        db.append_changes(update(v))
        W.watch_until_caught_up(db)

    by_watch = compiles_per_cycle(drain, (5, 6, 7))
    assert db.get("lo", "k1") == {"key": "k1", "value": 9.0}
    db.close()
    assert by_index[-1] <= 30, by_index
    assert by_watch[-1] <= 30, by_watch


# -- the drip shape: one maintenance update's Spark jobs ---------------

DRIP_VIEWS = (("by_key", None), ("counts", "count"), ("mins", "min"))


def _drip_engine(spark, wh):
    db = MapReduce(spark, wh)
    for name, reduce in DRIP_VIEWS:
        db.define(name, path="/d/*.json", map=map_kv, reduce=reduce,
                  key_schema=["string"])
    return db


def _drip_changelog():
    """A 64-file backfill over 8 keys, then an 8-file update: four files
    holding their key's minimum re-keyed to fresh keys (min
    retraction), four others re-valued."""
    backfill = [
        _row("dat://hot", f"/d/{i:03d}.json", 1, f"k{i % 8}", 1000 + (i * 37) % 500)
        for i in range(64)
    ]
    mins = {}
    for r in backfill:
        k, v = json.loads(r["content"])["k"], json.loads(r["content"])["v"]
        if k not in mins or v < mins[k][0]:
            mins[k] = (v, r["pathname"])
    holders = [p for _v, p in sorted(mins.values())][:4]
    others = [r["pathname"] for r in backfill if r["pathname"] not in holders][:4]
    update = [_row("dat://hot", p, 2, f"n{j}", 7 + j) for j, p in enumerate(holders)]
    update += [_row("dat://hot", p, 2, f"k{j}", 5000 + j) for j, p in enumerate(others)]
    return backfill, update


def _max_job_id(spark):
    jobs = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
    return max([jobs.apply(i).jobId() for i in range(jobs.size())], default=-1)


def _jobs_since(spark, j0):
    """(job id, description) of every job started after ``j0``, from
    the status store the status tracker reads."""
    jobs = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
    out = []
    for i in range(jobs.size()):
        j = jobs.apply(i)
        if j.jobId() > j0:
            d = j.description()
            out.append((j.jobId(), d.get() if d.isDefined() else None))
    return sorted(out)


def _view_state(db, view):
    return (
        db.list(view),
        sorted(tuple(r) for r in db.reduced_df(view).select("key_json", "value").collect())
        if db._view(view).reduce is not None else None,
    )


@pytest.fixture(scope="module")
def drip_update(spark, tmp_path_factory):
    """The drip shape kept by index() and by watch drains side by side:
    the jobs of one 8-file update on each, and the three engines."""
    root = tmp_path_factory.mktemp("drip")
    backfill, update = _drip_changelog()
    by_index, by_watch = _drip_engine(spark, f"{root}/index"), _drip_engine(spark, f"{root}/watch")
    for db in (by_index, by_watch):
        db.append_changes(backfill)
    by_index.index("dat://hot")
    W.watch_until_caught_up(by_watch)
    for db in (by_index, by_watch):
        db.append_changes(update)
    j0 = _max_job_id(spark)
    by_index.index("dat://hot")
    j1 = _max_job_id(spark)
    W.watch_until_caught_up(by_watch)
    jobs = {
        "index": [j for j in _jobs_since(spark, j0) if j[0] <= j1],
        "watch": _jobs_since(spark, j1),
    }
    scratch = _drip_engine(spark, f"{root}/scratch")
    scratch.append_changes(backfill + update)
    scratch.index("dat://hot")
    yield jobs, (by_index, by_watch, scratch), backfill + update
    for db in (by_index, by_watch, scratch):
        db.close()


def test_update_job_budget(drip_update):
    """One 8-file update that retracts key minimums runs at most 9
    Spark jobs inside index() and inside one watch drain (the three
    views share one probe with the batch's one url broadcast, one delta
    collect and one collect of the driver-written frame), and both
    warehouses equal a from-scratch index of the same changelog."""
    jobs, (by_index, by_watch, scratch), rows = drip_update
    assert 0 < len(jobs["index"]) <= 9, jobs["index"]
    assert 0 < len(jobs["watch"]) <= 9, jobs["watch"]
    latest = {r["pathname"]: json.loads(r["content"]) for r in rows}
    model: "dict[str, list[int]]" = {}  # key -> values by file url
    for _p, obj in sorted(latest.items()):
        model.setdefault(obj["k"], []).append(obj["v"])
    for db in (by_index, by_watch):
        for view, _reduce in DRIP_VIEWS:
            assert _view_state(db, view) == _view_state(scratch, view), view
        for k, vs in model.items():
            assert db.get("counts", k) == {"key": k, "value": len(vs)}
            assert db.get("mins", k) == {"key": k, "value": float(min(vs))}
            assert db.get("by_key", k)["value"] == vs
        assert db.get("counts", "k-none") is None


def test_update_jobs_carry_phase_names(drip_update):
    """Every Spark job of the update names its maintenance phase."""
    jobs, _dbs, _rows = drip_update
    for path in ("index", "watch"):
        unnamed = [j for j in jobs[path] if not (j[1] or "").startswith("maintain:")]
        assert unnamed == [], (path, unnamed)


# -- crash replay of the index() slice token ---------------------------


class _Crash(Exception):
    pass


CRASH_VIEWS = (("c", "count", None), ("s", "sum", "long"), ("m", "min", None))


def _crash_engine(spark, wh):
    db = MapReduce(spark, wh)
    for name, reduce, vt in CRASH_VIEWS:
        db.define(name, path="/d/*.json", map=map_kv, reduce=reduce,
                  key_schema=["string"], value_type=vt)
    return db


def _crash_at(monkeypatch, boundary):
    def crash(self, point):
        if point == boundary:
            raise _Crash(point)

    monkeypatch.setattr(MapReduce, "_crash_point", crash)


def _assert_views_equal(db, scratch, views, keys=("k0", "k1", "k2", "k5", "n0", "n3")):
    for name in views:
        assert _view_state(db, name) == _view_state(scratch, name), name
        for k in keys:
            assert db.get(name, k) == scratch.get(name, k), (name, k)


@pytest.mark.parametrize("boundary", ["reduced", "flips", "offsets"])
def test_index_slice_token_crash_replay(spark, tmp_path, monkeypatch, boundary):
    """index() crashes at a commit boundary after its reduced and
    sidecar tables took the slice; another origin is indexed; more rows
    arrive; a reopened engine reruns index() over a longer slice with a
    new token. Count, long sum and min views equal a from-scratch index
    of the same changelog: a crash before the entries flips leaves the
    views stale against the store's token, so they refold (a delta
    would apply the first update twice), and a crash after them leaves
    the slice's rows in the store, so their rerun delta is 0."""
    views = [name for name, _r, _vt in CRASH_VIEWS]
    backfill, update = _drip_changelog()
    late = [_row("dat://hot", f"/d/{i:03d}.json", 3, f"k{i % 3}", i) for i in range(60, 70)]
    wh = str(tmp_path / "wh")
    db = _crash_engine(spark, wh)
    db.index_source("dat://hot", backfill)
    _crash_at(monkeypatch, boundary)
    db.append_changes(update)
    with pytest.raises(_Crash):
        db.index("dat://hot")
    monkeypatch.undo()
    assert db._reduced_table("c").manifest_meta()["batch_token"] == "index:dat://hot:1-2"
    cold = [_row("dat://cold", f"/d/{i}.json", 1, f"k{i % 2}", 40 + i) for i in range(4)]
    db.index_source("dat://cold", cold)
    db.append_changes(late)
    db.close()
    db = _crash_engine(spark, wh)
    db.index("dat://hot")
    scratch = _crash_engine(spark, str(tmp_path / "scratch"))
    scratch.index_source("dat://hot", backfill + update + late)
    scratch.index_source("dat://cold", cold)
    _assert_views_equal(db, scratch, views)
    assert dict(((v, o), lv) for v, o, lv in db.offsets.read_rows()) == {
        (name, o): lv for name in views for o, lv in (("dat://hot", 3), ("dat://cold", 1))
    }
    db.close()
    scratch.close()


@pytest.mark.parametrize("first", ["watch", "index"])
def test_crash_before_flips_then_other_entry_point(spark, tmp_path, monkeypatch, first):
    """A batch commits its reduced and sidecar tables, then crashes
    before its entries flips; the next batch comes through another
    entry point, so nothing replays the crashed token first: index()
    after a watch batch (then the stream restarts and replays its
    batch), or index_file after an index() pass (then index() reruns).
    The views' tokens are not the store's, so they refold, and count,
    long sum and min views equal a from-scratch index."""
    views = [name for name, _r, _vt in CRASH_VIEWS]
    backfill, update = _drip_changelog()
    wh = str(tmp_path / "wh")
    db = _crash_engine(spark, wh)
    db.index_source("dat://hot", backfill)
    _crash_at(monkeypatch, "reduced")
    db.append_changes(update)
    with pytest.raises(Exception):
        W.watch_until_caught_up(db) if first == "watch" else db.index("dat://hot")
    monkeypatch.undo()
    db.close()
    db = _crash_engine(spark, wh)
    scratch = _crash_engine(spark, str(tmp_path / "scratch"))
    scratch.index_source("dat://hot", backfill + update)
    extra = json.dumps({"k": "k1", "v": 2})
    if first == "watch":
        db.index("dat://hot")
        _assert_views_equal(db, scratch, views)
        W.watch_until_caught_up(db)
    else:
        db.index_file("dat://hot", "/d/999.json", extra)
        scratch.index_file("dat://hot", "/d/999.json", extra)
        # the crashed update is not applied yet: backfill + the file
        by_key: "dict[str, list[int]]" = {}
        for r in backfill + [_row("dat://hot", "/d/999.json", 2, "k1", 2)]:
            obj = json.loads(r["content"])
            by_key.setdefault(obj["k"], []).append(obj["v"])
        for name, fold in (("c", len), ("s", sum), ("m", min)):
            assert {r["key"]: r["value"] for r in db.list(name)} == {
                k: fold(vs) for k, vs in by_key.items()
            }, name
        db.index("dat://hot")
    _assert_views_equal(db, scratch, views)
    db.close()
    scratch.close()


def test_single_file_ops_take_the_delta_route(spark, tmp_path):
    """index_file and unindex_file stamp their one-row batch with a
    fresh file token, so count, long sum and min views take their
    delta fold: no maintain:refold job runs (a refold scans the
    store's entries for its keys), and the views equal the folds of
    the files left."""
    backfill, _update = _drip_changelog()
    db = _crash_engine(spark, str(tmp_path / "wh"))
    db.index_source("dat://hot", backfill)
    gone = backfill[0]["pathname"]
    j0 = _max_job_id(spark)
    db.index_file("dat://hot", "/d/999.json", json.dumps({"k": "k1", "v": 2}))
    db.unindex_file("dat://hot", gone)
    jobs = _jobs_since(spark, j0)
    assert jobs and not [j for j in jobs if (j[1] or "").startswith("maintain:refold")], jobs
    by_key: "dict[str, list[int]]" = {}
    for r in backfill[1:] + [_row("dat://hot", "/d/999.json", 2, "k1", 2)]:
        obj = json.loads(r["content"])
        by_key.setdefault(obj["k"], []).append(obj["v"])
    for name, fold in (("c", len), ("s", lambda vs: float(sum(vs))), ("m", lambda vs: float(min(vs)))):
        assert {r["key"]: r["value"] for r in db.list(name)} == {
            k: fold(vs) for k, vs in by_key.items()
        }, name
    db.close()


@pytest.mark.parametrize("boundary", ["reduced", "flips"])
def test_index_file_crash_then_index_matches_scratch(spark, tmp_path, monkeypatch, boundary):
    """index_file crashes at a commit boundary, then index() applies a
    later update. A crash after the reduced commit leaves the views'
    file token unlike the store's, so the update refolds them and the
    file's rows, never flipped into the store, are not there; a crash
    after the flips leaves views and store on the file's token, so
    the update's delta applies on top of the file. Every view equals
    a from-scratch engine given the same calls."""
    views = [name for name, _r, _vt in CRASH_VIEWS]
    backfill, update = _drip_changelog()
    extra = json.dumps({"k": "k1", "v": 2})
    wh = str(tmp_path / "wh")
    db = _crash_engine(spark, wh)
    db.index_source("dat://hot", backfill)
    _crash_at(monkeypatch, boundary)
    with pytest.raises(_Crash):
        db.index_file("dat://hot", "/d/999.json", extra)
    monkeypatch.undo()
    db.close()
    db = _crash_engine(spark, wh)
    db.append_changes(update)
    db.index("dat://hot")
    scratch = _crash_engine(spark, str(tmp_path / "scratch"))
    scratch.index_source("dat://hot", backfill)
    if boundary == "flips":
        scratch.index_file("dat://hot", "/d/999.json", extra)
    scratch.index_source("dat://hot", update)
    _assert_views_equal(db, scratch, views)
    db.close()
    scratch.close()


MINMAX_VIEWS = (("mn", "min"), ("mx", "max"))


def _minmax_engine(spark, wh):
    db = MapReduce(spark, wh)
    for name, reduce in MINMAX_VIEWS:
        db.define(name, path="/d/*.json", map=map_kv, reduce=reduce,
                  key_schema=["string"])
    return db


def _minmax_changelog():
    """The drip backfill, then an update that re-keys the files holding
    four keys' minimums and four keys' maximums to fresh keys (min and
    max retraction) and deletes one file."""
    backfill, _update = _drip_changelog()
    by_key: "dict[str, list[tuple[int, str]]]" = {}
    for r in backfill:
        obj = json.loads(r["content"])
        by_key.setdefault(obj["k"], []).append((obj["v"], r["pathname"]))
    keys = sorted(by_key)
    holders = [min(by_key[k])[1] for k in keys[:4]] + [max(by_key[k])[1] for k in keys[4:]]
    update = [_row("dat://hot", p, 2, f"n{j}", 7 + j) for j, p in enumerate(holders)]
    gone = next(r["pathname"] for r in backfill if r["pathname"] not in holders)
    update.append(_row("dat://hot", gone, 2, None, None, typ="del"))
    return backfill, update


@pytest.fixture(scope="module")
def minmax_scratch(spark, tmp_path_factory):
    """A from-scratch index of the min/max crash changelog."""
    backfill, update = _minmax_changelog()
    db = _minmax_engine(spark, str(tmp_path_factory.mktemp("minmax-scratch")))
    db.index_source("dat://hot", backfill + update)
    yield db
    db.close()


@pytest.mark.parametrize("boundary", ["reduced", "flips", "offsets"])
@pytest.mark.parametrize("entry", ["watch", "index"])
def test_minmax_delta_past_limit_crash_resumes_to_scratch(
    spark, tmp_path, monkeypatch, minmax_scratch, entry, boundary
):
    """With the delta driver limit at 2, the backfill's and a retracting
    batch's min and max deltas are past it, so their histogram fold
    runs on executors (first over empty tables, then merging). The batch
    crashes at a commit boundary in a watch drain or an index() slice;
    a reopened engine resumes the same way, and both views equal a
    from-scratch index: get, list and reduced_df."""
    backfill, update = _minmax_changelog()
    monkeypatch.setattr(MapReduce, "_DELTA_DRIVER_LIMIT", 2)
    wh = str(tmp_path / "wh")
    db = _minmax_engine(spark, wh)
    db.append_changes(backfill)
    resume = (lambda d: d.index("dat://hot")) if entry == "index" else W.watch_until_caught_up
    resume(db)
    db.append_changes(update)
    collected = []
    real_rows = MapReduce._delta_rows
    with monkeypatch.context() as m:
        m.setattr(MapReduce, "_delta_rows",
                  lambda self, *a: collected.append(real_rows(self, *a)) or collected[-1])
        _crash_at(m, boundary)
        with pytest.raises(Exception):
            resume(db)
    assert collected == [None], "the update's delta must be past the limit"
    db.close()
    db = _minmax_engine(spark, wh)
    resume(db)
    keys = ("k0", "k3", "k4", "k7", "n0", "n3", "n4", "n7", "absent")
    _assert_views_equal(db, minmax_scratch, [n for n, _r in MINMAX_VIEWS], keys)
    db.close()


@pytest.mark.parametrize("late", ["reset-mapped", "define-first"])
def test_lagging_twin_then_update_matches_scratch(spark, tmp_path, late):
    """A view of the drip shape lags its twins on their shared entries
    store — the mapped view reset, or a min view defined anew ahead of
    them by a reopened engine — and an update arrives. One
    index() pass reaches every view: no cycle flips the store under a
    twin that has not taken the same rows (a lagging count or min twin
    would never see the update), and a reduced view that does not
    reflect the store refolds over all its keys."""
    backfill, update = _drip_changelog()
    wh = str(tmp_path / "wh")
    db = _drip_engine(spark, wh)
    db.index_source("dat://hot", backfill)
    if late == "define-first":
        db.close()
        db = MapReduce(spark, wh)
        order = [DRIP_VIEWS[2], DRIP_VIEWS[0], DRIP_VIEWS[1]]
        db.define("mins2", path="/d/*.json", map=map_kv, reduce="min",
                  key_schema=["string"])
        for name, reduce in order:
            db.define(name, path="/d/*.json", map=map_kv, reduce=reduce,
                      key_schema=["string"])
    else:
        db.reset("by_key")
    db.append_changes(update)
    db.index("dat://hot")
    scratch = _drip_engine(spark, str(tmp_path / "scratch"))
    scratch.index_source("dat://hot", backfill + update)
    for name, _reduce in DRIP_VIEWS:
        assert _view_state(db, name) == _view_state(scratch, name), name
    if late == "define-first":
        assert _view_state(db, "mins2") == _view_state(scratch, "mins")
    db.close()
    scratch.close()


def test_late_twin_refolds_over_the_shared_store(spark, tmp_path):
    """A reduced view that joins (or is reset over) a shared entries
    store its twin already filled cannot take deltas against those
    entries — its replay would retract exactly what it adds. Its first
    batch refolds it over all keys, after which deltas resume."""
    backfill, update = _drip_changelog()
    db = MapReduce(spark, str(tmp_path / "wh"))
    db.define("by_key", path="/d/*.json", map=map_kv, key_schema=["string"])
    db.index_source("dat://hot", backfill)
    db.define("counts", path="/d/*.json", map=map_kv, reduce="count",
              key_schema=["string"])
    db.index("dat://hot")
    db.index_source("dat://hot", update)
    scratch = _drip_engine(spark, str(tmp_path / "scratch"))
    scratch.index_source("dat://hot", backfill + update)
    assert _view_state(db, "counts") == _view_state(scratch, "counts")
    assert db._reduced_table("counts").manifest_meta()["batch_token"].startswith("index:")
    db.reset("counts")
    assert db.get("counts", "k1") is None
    db.index("dat://hot")
    assert _view_state(db, "counts") == _view_state(scratch, "counts")
    db.close()
    scratch.close()


def test_unchanged_batch_keeps_views_current(spark, tmp_path):
    """A batch that re-puts its files unchanged writes no reduced row,
    yet every view takes its token: none reads as stale against the
    store the batch flipped (a stale view refolds over all its keys)."""
    db = _crash_engine(spark, str(tmp_path / "wh"))
    rows = [_row("dat://a", f"/d/{i}.json", 1, f"k{i % 3}", i) for i in range(6)]
    db.index_source("dat://a", rows)
    db.index_source("dat://a", [dict(r, version=2) for r in rows])
    assert db._stale_views(list(db.views.values()), None) == set()
    assert db._reduced_table("c").manifest_meta()["batch_token"] == "index:dat://a:1-2"
    db.close()
