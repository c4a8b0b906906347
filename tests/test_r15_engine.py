"""Round-15: min/max non-numeric value semantics, the marker-row
refold probe, staged-write orphan hygiene, and the per-view
consolidated entries shard-pointer table.

- min/max folds SKIP non-numeric values (F.min/F.max skip-null
  semantics) in BOTH the refold and the histogram delta path; a key
  with no numeric values has no reduced row at all (r14 ADVICE: the
  NULLS FIRST ranking recorded a NULL extreme and crashed get()).
- The refold-needed probe on retracting min/max batches rides the
  staged pair write as _t=2 marker rows — no separate job wave — and
  abandoned staged writes are swept at warehouse open (r14 ADVICE).
- entries_df resolves shard snapshots from the per-view pointer
  table (k bucket files), not one _manifest.json per origin (r14
  verdict #1); maintenance batches never read the full offsets
  table (r14 verdict #2).
"""

import json
import os
import shutil

import pytest

from dat_archive_map_reduce_spark.engine import MapReduce, _origin_shard
from dat_archive_map_reduce_spark.streaming import watch as W


def map_kv(content, meta, emit):
    obj = json.loads(content)
    emit(obj["k"], obj["v"])


def _row(origin, path, version, k, v, typ="put"):
    return {
        "origin": origin,
        "pathname": path,
        "version": version,
        "type": typ,
        "content": None if typ == "del" else json.dumps({"k": k, "v": v}),
    }


def _reduced_pairs(db, view):
    return sorted(
        (r["key_json"], r["value"])
        for r in db.reduced_df(view).select("key_json", "value").collect()
    )


# -- min/max non-numeric value semantics (r14 ADVICE, medium) --------

def test_minmax_skips_non_numeric_values_batch(spark, tmp_path):
    """Keys mixing numeric and non-numeric values fold to the numeric
    extreme (never NULL); keys with ONLY non-numeric values have no
    reduced row, and get() returns None instead of crashing at
    json.loads(None)."""
    db = MapReduce(spark, str(tmp_path / "wh"))
    db.define("mn", path="/d/*.json", map=map_kv, reduce="min",
              key_schema=["string"])
    db.index_source("dat://a", [
        _row("dat://a", "/d/0.json", 1, "x", 5),
        _row("dat://a", "/d/1.json", 1, "x", "not-a-number"),
        _row("dat://a", "/d/2.json", 1, "x", None),
        _row("dat://a", "/d/3.json", 1, "y", "only-text"),
        _row("dat://a", "/d/4.json", 1, "y", None),
    ])
    assert db.get("mn", "x") == {"key": "x", "value": 5.0}
    assert db.get("mn", "y") is None
    pairs = _reduced_pairs(db, "mn")
    assert all(v is not None for _k, v in pairs)
    db.close()


def test_minmax_non_numeric_stream_equals_batch(spark, tmp_path):
    """The histogram delta path under watch lands bit-identical to a
    batch twin across non-numeric adds, a retraction that removes the
    last NUMERIC value of a key that keeps a non-numeric one (the key
    must DELETE — its min no longer exists), and a NULLS-FIRST trap
    batch (non-numeric arriving alongside a smaller numeric min)."""
    db = MapReduce(spark, str(tmp_path / "wh-s"))
    db.define("mn", path="/d/*.json", map=map_kv, reduce="min",
              key_schema=["string"])
    dbb = MapReduce(spark, str(tmp_path / "wh-b"))
    dbb.define("mn", path="/d/*.json", map=map_kv, reduce="min",
               key_schema=["string"])
    r1 = [
        _row("dat://a", "/d/0.json", 1, "x", 5),
        _row("dat://a", "/d/1.json", 1, "x", "zzz"),
        _row("dat://a", "/d/2.json", 1, "y", 7),
    ]
    db.append_changes(r1)
    W.watch_until_caught_up(db)
    # NULLS FIRST trap: a non-numeric value plus a LOWER numeric min
    # in one delta batch — the buggy ranking put 'null' at rank 1
    r2 = [
        _row("dat://a", "/d/3.json", 1, "x", 2),
        _row("dat://a", "/d/4.json", 1, "x", None),
    ]
    db.append_changes(r2)
    W.watch_until_caught_up(db)
    assert db.get("mn", "x") == {"key": "x", "value": 2.0}
    # retract both numeric entries of x -> only non-numerics remain
    # -> x must vanish (delete-on-empty counts NUMERIC values only)
    r3 = [
        _row("dat://a", "/d/0.json", 2, None, None, typ="del"),
        _row("dat://a", "/d/3.json", 2, None, None, typ="del"),
    ]
    db.append_changes(r3)
    W.watch_until_caught_up(db)
    dbb.append_changes(r1 + r2 + r3)
    dbb.index("dat://a")
    assert _reduced_pairs(db, "mn") == _reduced_pairs(dbb, "mn")
    assert db.get("mn", "x") is None
    assert db.get("mn", "y") == {"key": "y", "value": 7.0}
    db.close()
    dbb.close()


# -- staged-write hygiene (r14 ADVICE + verdict #3) ------------------

def test_no_staged_write_orphans_after_batches(spark, tmp_path):
    """Retracting min/max batches (staged pair write + marker probe)
    leave no _merge-* temp dirs behind, committed or cancelled."""
    db = MapReduce(spark, str(tmp_path / "wh"), minmax_hist_bound=2)
    db.define("mn", path="/d/*.json", map=map_kv, reduce="min",
              key_schema=["string"])
    rows = [_row("dat://a", f"/d/{i}.json", 1, "x", i) for i in range(6)]
    db.append_changes(rows)
    W.watch_until_caught_up(db)
    # in-bound retraction (delta commits) AND a bound-draining one
    # (probe fires, staged write cancels, refold runs)
    db.append_changes([_row("dat://a", "/d/1.json", 2, None, None, typ="del")])
    W.watch_until_caught_up(db)
    db.append_changes([
        _row("dat://a", f"/d/{i}.json", 2, None, None, typ="del")
        for i in (0, 2)
    ])
    W.watch_until_caught_up(db)
    assert db.get("mn", "x") == {"key": "x", "value": 3.0}
    leftovers = [d for d in os.listdir(db.warehouse) if d.startswith("_merge-")]
    assert leftovers == []
    db.close()


def test_merge_orphan_sweep_on_open(spark, tmp_path):
    """A crash-orphaned staged-write dir is removed when the
    warehouse reopens (single-driver orchestration makes open-time
    the safe sweep point)."""
    wh = tmp_path / "wh"
    db = MapReduce(spark, str(wh))
    db.close()
    orphan = wh / "_merge-pair-deadbeef"
    (orphan / "_t=0").mkdir(parents=True)
    (orphan / "_t=0" / "junk.parquet").write_bytes(b"x")
    db2 = MapReduce(spark, str(wh))
    assert not orphan.exists()
    db2.close()


# -- per-view entries shard-pointer table (r14 verdict #1) -----------

def test_entries_ptr_table_tracks_flips(spark, tmp_path):
    """The pointer table mirrors each shard's manifest after batch
    index, watch merges, rebucket, unindex, and reset."""
    db = MapReduce(spark, str(tmp_path / "wh"))
    db.define("m", path="/d/*.json", map=map_kv, key_schema=["string"])
    db.index_source("dat://a", [_row("dat://a", "/d/0.json", 1, "a", 1)])
    db.index_source("dat://b", [_row("dat://b", "/d/0.json", 1, "b", 2)])

    def ptr_rows():
        return dict(db._entries_ptr_table("m").read_rows())

    def manifest_current(origin):
        return db._entries_table("m", origin)._current()

    assert ptr_rows() == {
        "dat://a": manifest_current("dat://a"),
        "dat://b": manifest_current("dat://b"),
    }
    # multi-origin watch batch (one _merge_entries write, one
    # pointer-table upsert for both origins)
    db.append_changes([
        _row("dat://a", "/d/1.json", 2, "a2", 3),
        _row("dat://b", "/d/1.json", 2, "b2", 4),
    ])
    W.watch_until_caught_up(db)
    assert ptr_rows() == {
        "dat://a": manifest_current("dat://a"),
        "dat://b": manifest_current("dat://b"),
    }
    # rebucket flips a shard pointer outside the merge path
    db.rebucket_entries(32, views=["m"], origins=["dat://a"])
    assert ptr_rows()["dat://a"] == manifest_current("dat://a")
    # the view still serves every row through the pointer table
    vals = sorted(
        r["key_json"] for r in db.entries_df("m").select("key_json").collect()
    )
    assert vals == ['"a"', '"a2"', '"b"', '"b2"']
    # unindex drops the origin's pointer row
    db.unindex("dat://b")
    assert "dat://b" not in ptr_rows()
    assert sorted(
        r["key_json"] for r in db.entries_df("m").select("key_json").collect()
    ) == ['"a"', '"a2"']
    # reset empties the pointer table
    db.reset("m")
    assert ptr_rows() == {}
    assert db.entries_df("m").count() == 0
    db.close()


def test_entries_df_missing_snapshot_raises(spark, tmp_path):
    """A manifest pointing at a missing snapshot directory raises
    FileNotFoundError instead of silently serving partial results
    (r14 ADVICE — matches read()/current_is_bucketed)."""
    db = MapReduce(spark, str(tmp_path / "wh"))
    db.define("m", path="/d/*.json", map=map_kv, key_schema=["string"])
    db.index_source("dat://a", [_row("dat://a", "/d/0.json", 1, "a", 1)])
    t = db._entries_table("m", "dat://a")
    shutil.rmtree(t._snapshot_dir(t._current()))
    with pytest.raises(FileNotFoundError):
        db.entries_df("m")
    db.close()


def test_maintenance_batch_never_reads_full_offsets(spark, tmp_path):
    """With 100k fabricated (view, origin) offsets rows, a watch
    maintenance batch (python-fold view, so the general refold and
    its entries_df run in-batch) reads the offsets table ONLY with
    bucket-pruning values — never the full table (r14 verdict #2).
    The per-view pointer table (the sidecar) is the only full
    metadata read, and it is k small bucket files by construction."""
    db = MapReduce(spark, str(tmp_path / "wh"))

    def fold(acc, value, key):
        return (acc or 0) + value

    db.define("s", path="/d/*.json", map=map_kv, reduce=fold,
              key_schema=["string"])
    # fabricate a large offsets table: 100k origins already at v1
    fake = [("s", f"dat://fake{i}", 1) for i in range(100_000)]
    db.offsets.overwrite_rows(fake)
    calls: list = []
    orig_read = db.offsets.read_rows
    db.offsets.read_rows = lambda values=None: (
        calls.append(values), orig_read(values)
    )[1]
    db.append_changes([
        _row("dat://a", "/d/0.json", 1, "x", 1),
        _row("dat://a", "/d/1.json", 1, "x", 2),
    ])
    W.watch_until_caught_up(db)
    db.offsets.read_rows = orig_read
    assert db.get("s", "x") == {"key": "x", "value": 3}
    assert calls, "expected at least one offsets read during the batch"
    full_reads = [v for v in calls if v is None]
    assert full_reads == [], (
        f"maintenance batch performed {len(full_reads)} full offsets "
        f"read(s); every read must be bucket-pruned"
    )
    db.close()


# -- shared entries store for map-twin views (r14 verdict #5) --------

def map_twin(content, meta, emit):
    obj = json.loads(content)
    emit(obj["k"], obj["v"])


def test_map_twin_views_share_one_entries_store(spark, tmp_path):
    """Views sharing (path, map code, key schema) — the mapped +
    reduced twin pattern — resolve ONE entries store: entry rows are
    written once, both views serve from them, and retraction under
    watch stays correct for both."""
    db = MapReduce(spark, str(tmp_path / "wh"))
    db.define("m", path="/d/*.json", map=map_twin, key_schema=["string"])
    db.define("c", path="/d/*.json", map=map_twin, reduce="count",
              key_schema=["string"])
    # one shared store on disk, same shard root for both views
    assert (
        db._entries_table("m", "dat://a").root
        == db._entries_table("c", "dat://a").root
    )
    db.append_changes([
        _row("dat://a", "/d/0.json", 1, "x", 1),
        _row("dat://a", "/d/1.json", 1, "x", 2),
        _row("dat://a", "/d/2.json", 1, "y", 3),
    ])
    W.watch_until_caught_up(db)
    stores = os.listdir(f"{db.warehouse}/stores")
    assert len(stores) == 1, stores
    assert db.get("m", "x") == {"key": "x", "value": [1, 2]}
    assert db.get("c", "x") == {"key": "x", "value": 2}
    # retraction via the shared store: one file re-keyed
    db.append_changes([_row("dat://a", "/d/1.json", 2, "y", 9)])
    W.watch_until_caught_up(db)
    assert db.get("m", "x") == {"key": "x", "value": [1]}
    assert db.get("c", "x") == {"key": "x", "value": 1}
    assert db.get("c", "y") == {"key": "y", "value": 2}
    # reset of ONE twin keeps the shared store for the other
    db.reset("c")
    assert db.get("c", "x") is None
    assert db.get("m", "x") == {"key": "x", "value": [1]}
    # replay converges on the shared store without duplication
    db.index("dat://a")
    assert db.get("c", "x") == {"key": "x", "value": 1}
    assert db.get("m", "x") == {"key": "x", "value": [1]}
    # unindex drops the origin from BOTH views (one store reset, two
    # re-aggregations)
    db.unindex("dat://a")
    assert db.get("c", "x") is None
    assert db.get("m", "x") is None
    db.close()


def test_closure_maps_get_private_stores(spark, tmp_path):
    """A map built by a factory (closure) has unprovable identity —
    each view gets a PRIVATE store even when the bytecode matches."""

    def mk(mult):
        def f(content, meta, emit):
            obj = json.loads(content)
            emit(obj["k"], obj["v"] * mult)
        return f

    db = MapReduce(spark, str(tmp_path / "wh"))
    db.define("a", path="/d/*.json", map=mk(1), key_schema=["string"])
    db.define("b", path="/d/*.json", map=mk(10), key_schema=["string"])
    assert (
        db._entries_table("a", "dat://x").root
        != db._entries_table("b", "dat://x").root
    )
    db.index_source("dat://x", [_row("dat://x", "/d/0.json", 1, "k", 2)])
    assert db.get("a", "k") == {"key": "k", "value": [2]}
    assert db.get("b", "k") == {"key": "k", "value": [20]}
    db.close()


def test_cross_session_map_change_resets_view(spark, tmp_path):
    """store.json pins the identity a view's materialization was
    built under: a NEW session defining the view with a changed map
    resets it (the in-session redefinition contract, now enforced
    across sessions) instead of silently serving an empty or stale
    view."""
    wh = str(tmp_path / "wh")
    db = MapReduce(spark, wh)
    db.define("v", path="/d/*.json", map=map_twin, reduce="count",
              key_schema=["string"])
    db.index_source("dat://a", [_row("dat://a", "/d/0.json", 1, "x", 1)])
    assert db.get("v", "x") == {"key": "x", "value": 1}
    db.close()

    def map_changed(content, meta, emit):
        obj = json.loads(content)
        emit(obj["k"] + "!", obj["v"])

    db2 = MapReduce(spark, wh)
    db2.define("v", path="/d/*.json", map=map_changed, reduce="count",
               key_schema=["string"])
    # reset happened: offsets cleared, so a reindex rebuilds under
    # the NEW map
    db2.index("dat://a")
    assert db2.get("v", "x") is None
    assert db2.get("v", "x!") == {"key": "x!", "value": 1}
    db2.close()


def test_entries_df_plan_cache(spark, tmp_path):
    """Between pointer flips, repeat entries_df calls return the SAME
    resolved plan (a dict hit — the serving path pays Spark's file
    index once per flip, not per get/list); any shard flip
    invalidates it via the pointer-table version."""
    db = MapReduce(spark, str(tmp_path / "wh"))
    db.define("m", path="/d/*.json", map=map_kv, key_schema=["string"])
    db.index_source("dat://a", [_row("dat://a", "/d/0.json", 1, "a", 1)])
    df1 = db.entries_df("m")
    assert db.entries_df("m") is df1
    db.index_source("dat://a", [_row("dat://a", "/d/1.json", 2, "b", 2)])
    df3 = db.entries_df("m")
    assert df3 is not df1
    assert sorted(
        r["key_json"] for r in df3.select("key_json").collect()
    ) == ['"a"', '"b"']
    # explicit-origin reads bypass the cache (different path set)
    assert db.entries_df("m", ["dat://a"]) is not df3
    db.close()


def test_twin_store_bytes_halved_vs_private(spark, tmp_path):
    """The shared store's on-disk entry bytes for a twin pair are
    ~half the bytes two PRIVATE stores hold for identical data (the
    r14 verdict #5 done-criterion, pinned executable)."""

    def _entry_bytes(wh):
        total = 0
        for base in (f"{wh}/stores", f"{wh}/views"):
            for dp, _dn, fs in os.walk(base):
                if "/entries" in dp or "/stores/" in dp:
                    total += sum(
                        os.path.getsize(f"{dp}/{f}")
                        for f in fs
                        if f.endswith(".parquet")
                    )
        return total

    rows = [
        _row("dat://a", f"/d/{i}.json", 1, f"k{i % 37}", i)
        for i in range(400)
    ]
    shared = MapReduce(spark, str(tmp_path / "wh-shared"))
    shared.define("m", path="/d/*.json", map=map_twin,
                  key_schema=["string"])
    shared.define("c", path="/d/*.json", map=map_twin, reduce="count",
                  key_schema=["string"])
    shared.index_source("dat://a", rows)
    shared.close()

    def mk(tag):
        # closure -> unprovable identity -> private store per view
        def f(content, meta, emit):
            obj = json.loads(content)
            emit(obj["k"], obj["v"] + 0 * len(tag))
        return f

    private = MapReduce(spark, str(tmp_path / "wh-private"))
    private.define("m", path="/d/*.json", map=mk("m"),
                   key_schema=["string"])
    private.define("c", path="/d/*.json", map=mk("c"), reduce="count",
                   key_schema=["string"])
    private.index_source("dat://a", rows)
    private.close()

    sb = _entry_bytes(str(tmp_path / "wh-shared"))
    pb = _entry_bytes(str(tmp_path / "wh-private"))
    assert sb > 0 and pb > 0
    assert sb < 0.65 * pb, (sb, pb)


def map_kv_pair(content, meta, emit):
    """map_kv under a compound (string, long) key: [k, len(k)]."""
    obj = json.loads(content)
    emit([obj["k"], len(obj["k"])], obj["v"])


@pytest.mark.parametrize("key_schema", [["string"], ["string", "long"]],
                         ids=["string", "string-long"])
def test_minmax_driver_delta_matches_vectorized_path(spark, tmp_path, key_schema):
    """The two placements of the min/max histogram fold commit
    BIT-IDENTICAL reduced + histogram state: run the same backfill +
    retracting drip through two warehouses, one with every delta past
    the driver limit (_DELTA_DRIVER_LIMIT = 0 runs the fold on
    executors through cogroup(...).applyInArrow), and compare both
    tables row by row plus the batch tokens. A string-valued emit
    rides along: both placements must skip it identically. The
    compound key checks that struct keys survive the driver's local
    frames and the executors' Arrow batches."""
    compound = len(key_schema) > 1

    def key(k):
        return [k, len(k)] if compound else k

    dbs = []
    for name, limit in (("drv", None), ("vec", 0)):
        db = MapReduce(spark, str(tmp_path / f"wh-{name}"))
        if limit is not None:
            db._DELTA_DRIVER_LIMIT = limit
        db.define("mn", path="/d/*.json",
                  map=map_kv_pair if compound else map_kv, reduce="min",
                  key_schema=key_schema)
        rows = [_row("dat://a", f"/d/{i}.json", 1, f"k{i % 3}", i)
                for i in range(9)]
        # a non-numeric value: skipped by the fold on both paths
        rows.append(_row("dat://a", "/d/9.json", 1, "k0", "not-a-number"))
        db.append_changes(rows)
        W.watch_until_caught_up(db)
        # retraction that RAISES two keys' minimums + one fresh key
        db.append_changes([
            _row("dat://a", "/d/0.json", 2, "f", -7),
            _row("dat://a", "/d/1.json", 2, None, None, typ="del"),
        ])
        W.watch_until_caught_up(db)
        dbs.append(db)
    drv, vec = dbs
    red_d = sorted(map(tuple, drv._reduced_table("mn").read().collect()))
    red_v = sorted(map(tuple, vec._reduced_table("mn").read().collect()))
    assert red_d == red_v
    hist_d = sorted(map(tuple, drv._reduced_hist_table("mn").read().collect()))
    hist_v = sorted(map(tuple, vec._reduced_hist_table("mn").read().collect()))
    assert hist_d == hist_v
    # both delta paths stamped the lineage token on both tables
    for db in dbs:
        tok = db._reduced_table("mn").manifest_meta().get("batch_token")
        assert isinstance(tok, str) and ":" in tok
        assert (db._reduced_hist_table("mn").manifest_meta()
                .get("batch_token") == tok)
    for k, v in (("k0", 3.0), ("k1", 4.0), ("f", -7.0)):
        assert drv.get("mn", key(k)) == {"key": key(k), "value": v}
    for db in dbs:
        db.close()



@pytest.mark.parametrize("reduce, value_type", [("count", None), ("sum", "long"), ("avg", "long")])
def test_exact_delta_arms_match(spark, tmp_path, reduce, value_type):
    """The driver and executor placements of the exactly-subtractable
    folds commit BIT-IDENTICAL reduced (and, for sum/avg, sidecar)
    state: the same backfill and retracting drip run through two
    warehouses, one with every delta past the driver limit
    (_DELTA_DRIVER_LIMIT = 0 runs the fold on executors), by watch
    drains and by index() passes, and the values equal the folds of
    the latest file versions."""
    dbs = []
    for name, limit in (("drv", None), ("vec", 0)):
        db = MapReduce(spark, str(tmp_path / f"wh-{name}"))
        if limit is not None:
            db._DELTA_DRIVER_LIMIT = limit
        db.define("r", path="/d/*.json", map=map_kv, reduce=reduce,
                  key_schema=["string"], value_type=value_type)
        db.append_changes([_row("dat://a", f"/d/{i}.json", 1, f"k{i % 3}", i)
                           for i in range(9)])
        W.watch_until_caught_up(db)
        # re-key one file, re-value one, delete one that empties no key
        db.append_changes([
            _row("dat://a", "/d/0.json", 2, "f", -7),
            _row("dat://a", "/d/1.json", 2, "k1", 40),
            _row("dat://a", "/d/2.json", 2, None, None, typ="del"),
        ])
        W.watch_until_caught_up(db)
        # the same kind of update through index()'s slice
        db.append_changes([
            _row("dat://a", "/d/3.json", 3, "k1", 5),
            _row("dat://a", "/d/5.json", 3, None, None, typ="del"),
        ])
        db.index("dat://a")
        dbs.append(db)
    drv, vec = dbs
    tables = ["_reduced_table"] + (["_reduced_cnt_table"] if reduce != "count" else [])
    for t in tables:
        got = [sorted(map(tuple, getattr(db, t)("r").read().collect())) for db in dbs]
        assert got[0] == got[1], t
        toks = [getattr(db, t)("r").manifest_meta().get("batch_token") for db in dbs]
        assert toks[0] == toks[1] and toks[0].startswith("index:dat://a:"), t
    vals = {"k0": [6], "k1": [4, 7, 40, 5], "k2": [8], "f": [-7]}
    fold = {"count": len, "sum": lambda vs: float(sum(vs)),
            "avg": lambda vs: sum(vs) / len(vs)}[reduce]
    for db in dbs:
        assert {r["key"]: r["value"] for r in db.list("r")} == {
            k: fold(vs) for k, vs in vals.items()
        }
    for db in dbs:
        db.close()
