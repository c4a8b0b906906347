"""A micro-batch's bucket IO on the driver.

``plans/catalog.py::write_bucketed`` writes a frame of at most
``_DRIVER_WRITE_LIMIT`` rows with pyarrow (the driver arm) and a bigger
one with one Spark job (the Spark arm); reduced-view ``get`` and
``get_many`` read the key's bucket dirs with pyarrow. Pinned here: both
write arms produce the same rows per bucket for entries, reduced and
sidecar tables; a crash inside a driver-arm write leaves a warehouse
that resumes to a from-scratch index; a stale file in the next snapshot
dir does not leak into a direct write; and the reads start no Spark
job and equal a Spark filter of ``reduced_df``.
"""

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dat_archive_map_reduce_spark.engine import MapReduce
from dat_archive_map_reduce_spark.functions.keys import key_json, normalize_key
from dat_archive_map_reduce_spark.plans import catalog
from dat_archive_map_reduce_spark.streaming import watch as W


def map_pair(content, meta, emit):
    obj = json.loads(content)
    emit([obj["k"], obj["n"]], obj["v"])


def map_kv(content, meta, emit):
    obj = json.loads(content)
    emit(obj["k"], obj["v"])


def _row(origin, path, version, k, v, n=0, typ="put"):
    return {
        "origin": origin,
        "pathname": path,
        "version": version,
        "type": typ,
        "content": None if typ == "del" else json.dumps({"k": k, "v": v, "n": n}),
    }


def _view_state(db, view):
    return (
        db.list(view),
        sorted(tuple(r) for r in db.reduced_df(view).select("key_json", "value").collect())
        if db._view(view).reduce is not None else None,
    )


# -- the two write arms write the same rows ------------------------------

ARM_VIEWS = (("pairs", None, None), ("c", "count", None), ("s", "sum", "long"),
             ("m", "min", None))


def _arm_engine(spark, wh):
    db = MapReduce(spark, wh)
    for name, reduce, vt in ARM_VIEWS:
        db.define(name, path="/d/*.json", map=map_pair, reduce=reduce,
                  key_schema=["string", "long"], value_type=vt)
    return db


def _arm_history(db):
    """Backfill two origins, then a two-origin watch batch that re-keys,
    re-values and deletes files (retractions, min retraction), then a
    single-file index_file/unindex_file pair (deltas under file tokens)."""
    for o in ("dat://a", "dat://b"):
        db.index_source(o, [
            _row(o, f"/d/{i}.json", 1, f"k{i % 5}", 100 + (i * 7) % 40, i % 3)
            for i in range(30)
        ])
    upd = []
    for o in ("dat://a", "dat://b"):
        upd += [_row(o, f"/d/{i}.json", 2, f"n{i}", i, 1) for i in range(4)]
        upd += [_row(o, f"/d/{i}.json", 2, f"k{i % 5}", 500 + i, i % 3) for i in range(4, 8)]
        upd += [_row(o, f"/d/{i}.json", 2, None, None, typ="del") for i in range(8, 10)]
    db.append_changes(upd)
    W.watch_until_caught_up(db)
    db.index_file("dat://a", "/d/99.json", json.dumps({"k": "k1", "v": 3, "n": 2}))
    db.unindex_file("dat://b", "/d/11.json")


def _bucket_rows(wh):
    """{(table root, bucket dir): sorted rows} over every bucketed table
    of the warehouse, read file by file from its current snapshot, and
    whether every file is sorted by its key_json or file_url column."""
    out, sorted_ok = {}, True
    for root, _dirs, files in os.walk(wh):
        if "_buckets.json" not in files or "_manifest.json" not in files:
            continue
        with open(f"{root}/_manifest.json") as f:
            snap = f"{root}/v{json.load(f)['current']:08d}"
        rel = os.path.relpath(root, wh)
        for b in sorted(d for d in os.listdir(snap) if d.startswith("_b=")):
            rows = []
            for dirpath, _d, names in os.walk(f"{snap}/{b}"):
                for n in sorted(x for x in names if x.endswith(".parquet")):
                    t = pq.read_table(os.path.join(dirpath, n))
                    lead = "key_json" if "key_json" in t.column_names else "file_url"
                    col = t.column(lead).to_pylist()
                    sorted_ok &= col == sorted(col, key=lambda x: (x is not None, x))
                    rows += [
                        json.dumps(r, sort_keys=True, default=str) for r in t.to_pylist()
                    ]
            out[(rel, b)] = sorted(rows)
    return out, sorted_ok


def _record_driver_writes(monkeypatch) -> list:
    """Count the driver arm's writes: each appends one entry."""
    written = []
    real = catalog._write_groups
    monkeypatch.setattr(
        catalog, "_write_groups", lambda *a: written.append(1) or real(*a)
    )
    return written


def test_write_arms_write_identical_buckets(spark, tmp_path, monkeypatch):
    """The same history written with the bound patched to 0 (every
    write on the Spark arm) and with the default bound (every write on
    the driver arm) leaves identical rows in every bucket of every
    entries shard, reduced table and sidecar, on compound keys; the
    driver arm's files are sorted like sortWithinPartitions."""
    written = _record_driver_writes(monkeypatch)
    by_driver = _arm_engine(spark, str(tmp_path / "driver"))
    _arm_history(by_driver)
    n_driver = len(written)
    monkeypatch.setattr(catalog, "_DRIVER_WRITE_LIMIT", 0)
    by_spark = _arm_engine(spark, str(tmp_path / "spark"))
    _arm_history(by_spark)
    assert n_driver > 0 and len(written) == n_driver
    got_driver, driver_sorted = _bucket_rows(str(tmp_path / "driver"))
    got_spark, _ = _bucket_rows(str(tmp_path / "spark"))
    tables = {rel for rel, _b in got_driver}
    for kind in ("/entries/", "/reduced", "/reduced_cnt", "/reduced_hist"):
        assert any(kind in f"/{t}" for t in tables), kind
    assert got_driver == got_spark
    assert driver_sorted
    for name, _r, _vt in ARM_VIEWS:
        assert _view_state(by_driver, name) == _view_state(by_spark, name), name
    by_driver.close()
    by_spark.close()


def test_stale_file_in_next_snapshot_dir_does_not_leak(spark, tmp_path):
    """A direct (single-target) write clears a crash-orphaned dir at
    the version it writes: stale part files planted in touched and
    untouched buckets of v(cur+1) are not in the committed snapshot."""
    sch = T.StructType([
        T.StructField("key_json", T.StringType(), False),
        T.StructField("value", T.StringType(), True),
    ])
    t = catalog.BucketedEntriesTable(spark, str(tmp_path / "t"), sch,
                                     bucket_col="key_json", n_buckets=4)
    keys = [f"k{i}" for i in range(16)]
    t.write_merged(list(range(4)), catalog.local_df(spark, [(k, "1") for k in keys], sch))
    nxt = t._snapshot_dir(t._current() + 1)
    for b in range(4):
        os.makedirs(f"{nxt}/_b={b}")
        stale = pa.table({"key_json": [f"stale{b}"], "value": ["x"]})
        pq.write_table(stale, f"{nxt}/_b={b}/part-stale.parquet")
    b1 = t.bucket_of("k1")
    touched = [(k, "2") for k in keys if t.bucket_of(k) == b1]
    t.write_merged([b1], catalog.local_df(spark, touched, sch))
    got = sorted(tuple(r) for r in t.read().collect())
    assert got == sorted((k, "2" if t.bucket_of(k) == b1 else "1") for k in keys)


def test_wide_values_take_the_spark_arm(spark, tmp_path, monkeypatch):
    """The collect is bounded by bytes as well as rows: a frame far
    below the row bound holding one row wider than its share of
    _DRIVER_WRITE_BYTES goes to the Spark arm, wide value intact, and
    so does a mapped view's update whose map emits document text."""
    written = _record_driver_writes(monkeypatch)
    share = catalog._DRIVER_WRITE_BYTES // catalog._DRIVER_WRITE_LIMIT
    sch = T.StructType([
        T.StructField("key_json", T.StringType(), False),
        T.StructField("value", T.StringType(), True),
    ])
    t = catalog.BucketedEntriesTable(spark, str(tmp_path / "t"), sch,
                                     bucket_col="key_json", n_buckets=4)
    narrow = [(f"k{i}", "1") for i in range(16)]
    t.write_merged(list(range(4)), catalog.local_df(spark, narrow, sch))
    assert len(written) == 1
    wide = narrow + [("kw", "x" * share)]
    t.write_merged(list(range(4)), catalog.local_df(spark, wide, sch))
    assert len(written) == 1
    assert sorted(tuple(r) for r in t.read().collect()) == sorted(wide)

    db = MapReduce(spark, str(tmp_path / "wh"))
    db.define("text", path="/d/*.json", map=map_kv, key_schema=["string"])
    docs = {f"k{i}": f"{i} " + "word " * (share // 5) for i in range(3)}
    db.index_source("dat://a", [
        _row("dat://a", f"/d/{i}.json", 1, k, v) for i, (k, v) in enumerate(docs.items())
    ])
    assert len(written) == 1
    assert {r["key"]: r["value"] for r in db.list("text")} == docs
    db.close()


def _record_large(monkeypatch, module) -> list:
    """Wrap ``module.write_bucketed``: each call appends (target table
    roots, large)."""
    calls = []
    real = module.write_bucketed

    def rec(targets, *a, **kw):
        calls.append(([t.table.root for t in targets], kw.get("large", False)))
        return real(targets, *a, **kw)

    monkeypatch.setattr(module, "write_bucketed", rec)
    return calls


def test_whole_table_writes_skip_the_collect(spark, tmp_path, monkeypatch):
    """A rebucket, a compaction and a whole-view refold (a count twin
    defined on a filled store) go straight to the Spark write: their
    write_bucketed calls pass ``large`` and never collect, while the
    same update's maintenance write still takes the driver arm."""
    from dat_archive_map_reduce_spark import engine as engine_mod

    sch = T.StructType([
        T.StructField("key_json", T.StringType(), False),
        T.StructField("value", T.StringType(), True),
    ])
    t = catalog.BucketedEntriesTable(spark, str(tmp_path / "t"), sch,
                                     bucket_col="key_json", n_buckets=4)
    rows = [(f"k{i}", str(i)) for i in range(32)]
    t.write_merged(list(range(4)), catalog.local_df(spark, rows, sch))

    def no_collect(_w):
        raise AssertionError("a whole-table rewrite collected its frame")

    monkeypatch.setattr(catalog, "_collect_small", no_collect)
    t.rebucket(8)
    t.compact(sort_cols=["key_json"])
    assert sorted(tuple(r) for r in t.read().collect()) == sorted(rows)
    monkeypatch.undo()

    db = _crash_engine(spark, str(tmp_path / "wh"))
    backfill, update = _changelog(1)
    db.index_source(ORIGINS[0], backfill)
    db.define("c2", path="/d/*.json", map=map_kv, reduce="count", key_schema=["string"])
    calls = _record_large(monkeypatch, engine_mod)
    written = _record_driver_writes(monkeypatch)
    db.append_changes(update)
    db.index(ORIGINS[0])
    twin = db._reduced_table("c2").root
    assert [large for roots, large in calls if twin in roots] == [True]
    assert [large for roots, large in calls if twin not in roots] == [False]
    assert len(written) == 1
    assert _view_state(db, "c2") == _view_state(db, "c")
    db.close()


def _stored_rdds(spark) -> "set[int]":
    """Ids of the RDDs holding blocks in the block manager, once the
    status store has taken every block update posted so far."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    return {i.id() for i in sc.getRDDStorageInfo()}


def test_update_releases_its_checkpoint(spark, tmp_path, monkeypatch):
    """An update over a filled store checkpoints its flagged pre-merge
    read, and drop_checkpoint frees those blocks once the update is
    done, after an index_file too: the block manager holds no
    RDD the update added."""
    from dat_archive_map_reduce_spark import engine as engine_mod

    db = _crash_engine(spark, str(tmp_path / "wh"))
    backfill, update = _changelog(1)
    db.index_source(ORIGINS[0], backfill)
    before = _stored_rdds(spark)
    held = []
    monkeypatch.setattr(engine_mod, "drop_checkpoint", held.append)
    db.append_changes(update)
    db.index(ORIGINS[0])
    db.index_file(ORIGINS[0], "/d/1.json", json.dumps({"k": "k2", "v": 7, "n": 0}))
    assert len(held) == 2
    assert _stored_rdds(spark) - before, "the probe must see the checkpoints' blocks"
    for df in held:
        catalog.drop_checkpoint(df)
    assert _stored_rdds(spark) <= before
    monkeypatch.undo()
    db.index_file(ORIGINS[0], "/d/2.json", json.dumps({"k": "k3", "v": 9, "n": 0}))
    assert _stored_rdds(spark) <= before
    db.close()


# -- a crash inside a driver-arm write, then resume ------------------------


class _Crash(Exception):
    pass


CRASH_VIEWS = (("c", "count", None), ("s", "sum", "long"), ("m", "min", None))
ORIGINS = ("dat://a", "dat://b")


def _crash_engine(spark, wh):
    db = MapReduce(spark, wh)
    for name, reduce, vt in CRASH_VIEWS:
        db.define(name, path="/d/*.json", map=map_kv, reduce=reduce,
                  key_schema=["string"], value_type=vt)
    return db


def _changelog(k):
    backfill, update = [], []
    for o in ORIGINS[:k]:
        backfill += [_row(o, f"/d/{i}.json", 1, f"k{i % 6}", 50 + (i * 13) % 30)
                     for i in range(24)]
        # re-key two files holding low values, re-value two, delete one
        update += [_row(o, f"/d/{i}.json", 2, f"n{i}", i) for i in (0, 7)]
        update += [_row(o, f"/d/{i}.json", 2, f"k{i % 6}", 900 + i) for i in (3, 4)]
        update += [_row(o, "/d/5.json", 2, None, None, typ="del")]
    return backfill, update


@pytest.fixture(scope="module")
def scratch_views(spark, tmp_path_factory):
    """From-scratch index of each crash changelog, by origin count."""
    out = {}
    for k in (1, 2):
        backfill, update = _changelog(k)
        db = _crash_engine(spark, str(tmp_path_factory.mktemp(f"scratch{k}")))
        for o in ORIGINS[:k]:
            db.index_source(o, [r for r in backfill + update if r["origin"] == o])
        out[k] = {name: _view_state(db, name) for name, _r, _vt in CRASH_VIEWS}
        out[k]["get"] = {
            (name, key): db.get(name, key)
            for name, _r, _vt in CRASH_VIEWS
            for key in ("k0", "k3", "k4", "k5", "n0", "n7", "absent")
        }
        db.close()
    yield out


def _install_crash(monkeypatch, boundary) -> list:
    """Raise inside write_bucketed's driver arm: 'written' once the
    bucket files are on disk, 'linking' at the commit's first hardlink
    of an untouched bucket (before that target's pointer flip).
    Returns the list each raise appends to."""
    raised = []
    if boundary == "written":
        real = catalog._write_groups

        def crash(*a):
            real(*a)
            raised.append(boundary)
            raise _Crash(boundary)

        monkeypatch.setattr(catalog, "_write_groups", crash)
    else:
        def crash(src, dst):
            raised.append(boundary)
            raise _Crash(boundary)

        monkeypatch.setattr(catalog, "_link_tree", crash)
    return raised


@pytest.mark.parametrize("boundary", ["written", "linking"])
@pytest.mark.parametrize("k", [1, 2])
@pytest.mark.parametrize("entry", ["index", "watch"])
def test_driver_write_crash_resumes_to_scratch(
    spark, tmp_path, monkeypatch, scratch_views, entry, k, boundary
):
    """An update's driver-arm write raises after bucket files are
    written and before its commit returns, in index() or in a watch
    drain, over one or two origins. A reopened engine resumes the same
    way, and count, long sum and min views equal a from-scratch index:
    get, list and reduced_df."""
    backfill, update = _changelog(k)
    wh = str(tmp_path / "wh")
    db = _crash_engine(spark, wh)
    db.append_changes(backfill)
    if entry == "index":
        for o in ORIGINS[:k]:
            db.index(o)
    else:
        W.watch_until_caught_up(db)
    db.append_changes(update)
    raised = _install_crash(monkeypatch, boundary)
    with pytest.raises(Exception):
        if entry == "index":
            for o in ORIGINS[:k]:
                db.index(o)
        else:
            W.watch_until_caught_up(db)
    assert raised
    monkeypatch.undo()
    db.close()
    db = _crash_engine(spark, wh)
    if entry == "index":
        for o in ORIGINS[:k]:
            db.index(o)
    else:
        W.watch_until_caught_up(db)
    want = scratch_views[k]
    for name, _r, _vt in CRASH_VIEWS:
        assert _view_state(db, name) == want[name], name
    for (name, key), value in want["get"].items():
        assert db.get(name, key) == value, (name, key)
    assert not [d for d in os.listdir(wh) if d.startswith("_merge-")]
    db.close()


# -- reduced-view reads: no Spark job, equal to a reduced_df filter --------

TYPED_VIEWS = {
    # view: (key_schema, reduce, map emitting the key)
    "cs": (["string"], "count", "map_typed_s"),
    "cl": (["long"], "count", "map_typed_l"),
    "md": (["double"], "min", "map_typed_d"),
    "cp": (["string", "long"], "count", "map_typed_p"),
}


def map_typed_s(content, meta, emit):
    obj = json.loads(content)
    emit(obj["s"], obj["v"])


def map_typed_l(content, meta, emit):
    obj = json.loads(content)
    emit(obj["l"], obj["v"])


def map_typed_d(content, meta, emit):
    obj = json.loads(content)
    emit(obj["d"], obj["v"])


def map_typed_p(content, meta, emit):
    obj = json.loads(content)
    emit([obj["s"], obj["l"]], obj["v"])


STRINGS = ["a", "b", "ü", "", "a b", "1"]
LONGS = [0, 1, -3, 2**40, 7]
DOUBLES = [1.0, 2.5, -0.5, 1e20]


@pytest.fixture(scope="module")
def typed_engine(spark, tmp_path_factory):
    db = MapReduce(spark, str(tmp_path_factory.mktemp("typed")))
    maps = globals()
    for name, (schema, reduce, fn) in TYPED_VIEWS.items():
        db.define(name, path="/t/*.json", map=maps[fn], reduce=reduce, key_schema=schema)
    rows = []
    for i in range(40):
        obj = {"s": STRINGS[i % len(STRINGS)], "l": LONGS[i % len(LONGS)],
               "d": DOUBLES[i % len(DOUBLES)], "v": i}
        rows.append({"origin": "dat://t", "pathname": f"/t/{i}.json", "version": 1,
                     "content": json.dumps(obj)})
    db.index_source("dat://t", rows)
    db.define("mapped", path="/t/*.json", map=map_typed_s, key_schema=["string"])
    db.index("dat://t")
    yield db
    db.close()


def _kj(view, key):
    """The stored key_json ``key`` names on ``view``: its components
    coerced to the view's key_schema like the map stage's emits. A
    component the coercion changes (1.5 on a long view) keeps its own
    text, which names no stored key."""
    types = TYPED_VIEWS[view][0]
    comps = normalize_key(key)
    cast = {"string": str, "long": int, "double": float}
    comps = tuple(
        cast[t](c) if cast[t](c) == c and not isinstance(c, bool) else c
        for t, c in zip(types, comps)
    )
    return key_json(comps if len(comps) > 1 else comps[0])


def test_reduced_reads_start_no_spark_job(spark, typed_engine):
    """get and get_many on every reduced view run under a job group
    that sees no Spark job; a mapped-view get under the same group does
    run one, so the probe can see one."""
    db = typed_engine
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc.setJobGroup("read-probe", "reduced reads must not run a job")
    try:
        got = [db.get("cs", "a"), db.get("cl", 1), db.get("md", 2.5),
               db.get("cp", ["b", 1]), db.get("cs", "absent")]
        many = [db.get_many("cs", ["a", "b", "zz"]), db.get_many("cp", [["a", 0], ["b", 1]])]
        reduced_jobs = list(tracker.getJobIdsForGroup("read-probe"))
        db.get("mapped", "a")
        mapped_jobs = list(tracker.getJobIdsForGroup("read-probe"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert reduced_jobs == []
    assert mapped_jobs, "the job-group probe must see a mapped-view get's job"
    assert got[0] is not None and got[4] is None
    assert set(many[0]) == {"a", "b"}


PRESENT = (
    [("cs", s) for s in STRINGS] + [("cl", x) for x in LONGS]
    + [("md", x) for x in DOUBLES]
    + [("cp", [s, x]) for s in STRINGS[:3] for x in LONGS[:3]]
    # a caller's components coerce to the key schema: 1 names the
    # double key 1.0, and 1.0 the long key 1
    + [("md", 1), ("cl", 1.0)]
)
MISSING = [("cs", "zz"), ("cs", ["a"]), ("cl", 99), ("md", 3.25),
           ("cp", ["a", 99]), ("cp", ["zz", 0]),
           # coercions that would change the value name no stored key
           ("cl", 1.5), ("cl", True), ("cl", "1"), ("cs", 1), ("md", False)]


def _hashable(key):
    return tuple(key) if isinstance(key, list) else key


def _query_keys():
    return st.lists(st.sampled_from(PRESENT + MISSING), min_size=1, max_size=8)


@given(_query_keys())
@example([("md", 1), ("cl", 1.0), ("md", 3.25), ("cl", 1.5), ("cl", True)])
@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_driver_read_equals_reduced_df_filter(typed_engine, picks):
    """On typed scalar and compound keys, present and missing, get and
    get_many return what a Spark filter of reduced_df on the keys'
    stored key_json returns; every key of the present pool is found."""
    db = typed_engine
    by_view: "dict[str, list]" = {}
    for view, key in picks:
        by_view.setdefault(view, []).append(key)
    # repr: True and 1 are one set member, but not one key
    present = {(view, repr(k)) for view, k in PRESENT}
    for view, keys in by_view.items():
        kjs = sorted({_kj(view, k) for k in keys})
        want = {
            r["key_json"]: json.loads(r["value"])
            for r in db.reduced_df(view).filter(F.col("key_json").isin(kjs)).collect()
        }
        for k in keys:
            kj = _kj(view, k)
            assert kj in want or (view, repr(k)) not in present, (view, k)
            got = db.get(view, k)
            assert got == ({"key": k, "value": want[kj]} if kj in want else None)
        many = db.get_many(view, keys)
        assert {_hashable(k) for k in keys if _kj(view, k) in want} == set(many)
        for k in keys:
            if _kj(view, k) in want:
                assert many[_hashable(k)] == want[_kj(view, k)]


def test_get_many_maps_equal_caller_keys(typed_engine):
    """Caller keys that compare equal in Python (1 and 1.0) each look
    up the shared value in get_many's result, on a long and on a
    double view, as do "a" and ["a"]."""
    db = typed_engine
    for view, hit in (("cl", 1), ("md", 1.0)):
        got = db.get_many(view, [1, 1.0])
        value = db.reduced_df(view).filter(F.col("key_json") == _kj(view, hit)).first()["value"]
        assert got[1] == got[1.0] == json.loads(value)
    got = db.get_many("cs", ["a", ["a"]])
    assert got["a"] == got[("a",)] == db.get("cs", "a")["value"]
