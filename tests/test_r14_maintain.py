"""Round-14: maintain-path fixed-cost fixes + the r13 ADVICE closures.

Pins: the sidecar sync marker (refold fallback on desync and on a
reduced table materialized before value_type was declared), the fused
reduced+sidecar single-job commit, declared-integer value enforcement
in the map stage, get_many key-canonicalization fan-out, the single-relation entries_df read,
and the origin-bucketed offsets table.
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from dat_archive_map_reduce_spark.engine import MapReduce
from dat_archive_map_reduce_spark.errors import SchemaError
from dat_archive_map_reduce_spark.streaming import watch as W


def map_sum(content, meta, emit):
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


def test_sidecar_bootstraps_on_pre_declaration_warehouse(spark, tmp_path):
    """The r13 ADVICE medium: a reduced table materialized BEFORE the
    view declared value_type has NO sidecar — the first stream batch
    must NOT trust an empty one (it would overwrite touched keys with
    the bare delta and delete keys with net retractions). The sync
    check routes that batch to the general refold, which bootstraps
    the FULL sidecar (untouched keys included); the next batch takes
    the delta path against true counts."""
    wh = str(tmp_path / "wh-boot")
    db1 = MapReduce(spark, wh)
    # pre-declaration era: sum WITHOUT value_type -> no sidecar ever
    db1.define("s", path="/d/*.json", map=map_sum, reduce="sum",
               key_schema=["string"])
    db1.index_source("dat://a", [
        _row("dat://a", "/d/0.json", 1, "x", 3),
        _row("dat://a", "/d/1.json", 1, "x", 4),
        _row("dat://a", "/d/2.json", 1, "y", 10),
    ])
    assert not db1._reduced_cnt_table("s").exists()
    db1.close()

    # upgraded session: same warehouse, value_type now declared
    # (fresh instance -> no same-session redefinition -> no reset)
    db2 = MapReduce(spark, wh)
    db2.define("s", path="/d/*.json", map=map_sum, reduce="sum",
               key_schema=["string"], value_type="long")
    assert not db2._sidecar_synced(db2._view("s"))
    # batch 1 touches ONLY x; y must still get a true sidecar row
    db2.append_changes([_row("dat://a", "/d/3.json", 1, "x", 5)])
    W.watch_until_caught_up(db2)
    assert db2.get("s", "x") == {"key": "x", "value": 12.0}
    assert db2.get("s", "y") == {"key": "y", "value": 10.0}
    cnt = {r["key_json"]: (r["cnt"], r["ssum"])
           for r in db2._reduced_cnt_table("s").read().collect()}
    assert cnt == {'"x"': (3, 12), '"y"': (1, 10)}  # full bootstrap
    assert db2._sidecar_synced(db2._view("s"))
    # batch 2: the delta path now runs (token on both tables) and a
    # retraction against the UNtouched-by-batch-1 key y lands exactly
    db2.append_changes([
        _row("dat://a", "/d/2.json", 2, None, None, typ="del"),
        _row("dat://a", "/d/4.json", 1, "z", 7),
    ])
    W.watch_until_caught_up(db2)
    tok = db2._reduced_table("s").manifest_meta().get("batch_token")
    assert isinstance(tok, str) and ":" in tok
    assert db2._reduced_cnt_table("s").manifest_meta().get("batch_token") == tok
    assert db2.get("s", "y") is None  # delete-on-empty via true cnt
    assert db2.get("s", "z") == {"key": "z", "value": 7.0}
    assert db2.get("s", "x") == {"key": "x", "value": 12.0}
    db2.close()


def test_sync_mismatch_forces_refold_and_realigns(spark, tmp_path):
    """The r13 ADVICE crash window: reduced and sidecar carrying
    DIFFERENT commit markers (a crash between the pre-r14 refold's two
    separate commits) must route the next stream batch to the general
    refold — which realigns both tables and re-stamps a shared marker
    — instead of applying deltas against the stale sidecar."""
    db = MapReduce(spark, str(tmp_path / "wh-sync"))
    db.define("s", path="/d/*.json", map=map_sum, reduce="sum",
              key_schema=["string"], value_type="long")
    db.append_changes([
        _row("dat://a", "/d/0.json", 1, "x", 3),
        _row("dat://a", "/d/1.json", 1, "y", 4),
    ])
    W.watch_until_caught_up(db)
    assert db._sidecar_synced(db._view("s"))
    # simulate the crash window: sidecar marker no longer matches
    cnt = db._reduced_cnt_table("s")
    cur = cnt._current()
    cnt._set_current(cur, {"sync": "deadbeef-stale"})
    assert not db._sidecar_synced(db._view("s"))
    db.append_changes([_row("dat://a", "/d/0.json", 2, "x", 10)])
    W.watch_until_caught_up(db)
    assert db.get("s", "x") == {"key": "x", "value": 10.0}
    assert db.get("s", "y") == {"key": "y", "value": 4.0}
    # refold re-stamped a SHARED marker (sync, not a batch token)
    rm = db._reduced_table("s").manifest_meta()
    cm = db._reduced_cnt_table("s").manifest_meta()
    assert rm.get("batch_token") is None
    assert rm.get("sync") is not None and rm.get("sync") == cm.get("sync")
    assert db._sidecar_synced(db._view("s"))
    db.close()


def test_declared_integer_values_enforced_in_map(spark, tmp_path):
    """r13 ADVICE: value_type='long' licenses BIGINT delta arithmetic,
    so a map emitting 3.5 (which the delta would null/truncate while
    the refold sums it as a double) must fail LOUDLY in the map stage
    before anything commits. None stays legal."""
    db = MapReduce(spark, str(tmp_path / "wh-vt"))
    db.define("s", path="/d/*.json", map=map_sum, reduce="sum",
              key_schema=["string"], value_type="long")
    with pytest.raises(Exception) as ei:
        db.index_source("dat://a", [_row("dat://a", "/d/0.json", 1, "x", 3.5)])
    assert "non-integer value" in str(ei.value)
    # the poisoned file keeps the view blocked (offsets never advanced)
    # until OVERWRITTEN — latest-wins then drops the bad version; ints
    # pass
    db.index_source("dat://a", [
        _row("dat://a", "/d/0.json", 2, "x", 3),
        _row("dat://a", "/d/1.json", 2, "x", 4),
    ])
    assert db.get("s", "x") == {"key": "x", "value": 7.0}
    # bool and None are rejected too (the folds cast the JSON text,
    # where neither is an integer)
    with pytest.raises(Exception) as ei2:
        db.index_source("dat://a", [_row("dat://a", "/d/2.json", 3, "x", True)])
    assert "non-integer value" in str(ei2.value)
    with pytest.raises(Exception) as ei3:
        db.index_source("dat://a", [_row("dat://a", "/d/2.json", 4, "x", None)])
    assert "non-integer value" in str(ei3.value)
    db.close()


def test_schema_error_direct_run_map(spark):
    """The enforcement lives in run_map itself (worker-side, zero
    extra jobs), so direct users hit it too."""
    from dat_archive_map_reduce_spark.operators.map_reduce import run_map
    from dat_archive_map_reduce_spark.sources.files import changelog_from_rows
    from pyspark.sql import types as T

    rows = changelog_from_rows(
        spark,
        [{"origin": "dat://a", "pathname": "/d/0.json", "version": 1,
          "type": "put", "content": json.dumps({"k": "x", "v": "3.0"})}],
    )
    out = run_map(rows, map_sum, [T.StringType()], value_type="long")
    with pytest.raises(Exception) as ei:
        out.count()
    assert "non-integer value" in str(ei.value)


def test_get_many_fans_out_canonicalizing_keys(spark, tmp_path):
    """r13 ADVICE #5: distinct caller keys canonicalizing to the same
    key_json ('a' vs ['a'], 1 vs 1.0) must EACH appear in the result
    mapped to the shared value."""
    db = MapReduce(spark, str(tmp_path / "wh-canon"))
    db.define("m", path="/d/*.json", map=map_sum, key_schema=["string"])
    db.define("c", path="/d/*.json", map=map_sum, reduce="count",
              key_schema=["string"])
    db.index_source("dat://a", [
        _row("dat://a", "/d/0.json", 1, "a", 1),
        _row("dat://a", "/d/1.json", 1, "a", 2),
    ])
    got = db.get_many("c", ["a", ["a"]])
    assert got == {"a": 2, ("a",): 2}
    got_m = db.get_many("m", ["a", ["a"]])
    assert got_m == {"a": [1, 2], ("a",): [1, 2]}
    db.close()


def test_entries_df_is_one_relation(spark, tmp_path):
    """r13 verdict #2: entries_df must be ONE multi-path parquet
    relation, not a unionByName chain — the analyzed plan of a
    16-origin view carries exactly one leaf relation, and the rows
    match the per-origin reads."""
    db = MapReduce(spark, str(tmp_path / "wh-rel"))
    db.define("m", path="/d/*.json", map=map_sum, key_schema=["string"])
    rows = []
    for o in range(16):
        rows.extend(
            _row(f"dat://o{o}", f"/d/{i}.json", 1, f"k{o}-{i}", i)
            for i in range(3)
        )
    db.append_changes(rows)
    W.watch_until_caught_up(db)
    df = db.entries_df("m")
    assert df.count() == 48
    plan = df._jdf.queryExecution().analyzed().toString()
    assert "Union" not in plan, plan
    assert plan.count("Relation") == 1, plan
    # origins= restriction still prunes to the named shards
    sub = db.entries_df("m", origins=["dat://o3"])
    assert sub.count() == 3
    assert all(r["key_json"].startswith('"k3-') for r in sub.collect())
    db.close()


def test_offsets_bucketed_pruned_and_hardlinked(spark, tmp_path):
    """r13 verdict #3 done-criterion: at 100k (view, origin) rows a
    one-origin read touches ONE bucket file; an upsert rewrites only
    the touched buckets and hardlinks the rest; full reads and the
    engine's offset semantics are unchanged."""
    from dat_archive_map_reduce_spark.plans.catalog import (
        OFFSETS_SCHEMA,
        BucketedMetaTable,
    )

    t = BucketedMetaTable(
        spark, str(tmp_path / "off"), OFFSETS_SCHEMA, bucket_col="origin"
    )
    rows = [("v", f"dat://o{i}", 1) for i in range(100_000)]
    t.overwrite_rows(rows)
    v1 = t._current()
    files = t._bucket_files(v1, ["dat://o42"])
    assert len(files) == 1, files
    got = [r for r in t.read_rows(["dat://o42"]) if r[1] == "dat://o42"]
    assert got == [("v", "dat://o42", 1)]
    assert len(t.read_rows()) == 100_000
    # upsert one origin: new snapshot shares every untouched bucket
    # file by INODE (hardlink — metadata-only commit)
    t.upsert_rows([("v", "dat://o42", 9)], key_cols=(0, 1))
    v2 = t._current()
    assert v2 == v1 + 1
    got2 = [r for r in t.read_rows(["dat://o42"]) if r[1] == "dat://o42"]
    assert got2 == [("v", "dat://o42", 9)]
    assert len(t.read_rows()) == 100_000
    b42 = t.bucket_of("dat://o42")
    shared = rewritten = 0
    for b in range(t.n_buckets):
        p1 = t._bucket_path(t._snapshot_dir(v1), b)
        p2 = t._bucket_path(t._snapshot_dir(v2), b)
        if not (os.path.exists(p1) and os.path.exists(p2)):
            continue
        if os.stat(p1).st_ino == os.stat(p2).st_ino:
            shared += 1
        else:
            rewritten += 1
            assert b == b42
    assert rewritten == 1 and shared == t.n_buckets - 1


def test_engine_offsets_roundtrip_through_buckets(spark, tmp_path):
    """End-to-end: index/watch/reset/unindex keep their offset
    semantics on the bucketed layout (read_rows signature shared)."""
    db = MapReduce(spark, str(tmp_path / "wh-off"))
    db.define("c", path="/d/*.json", map=map_sum, reduce="count",
              key_schema=["string"])
    db.index_source("dat://a", [_row("dat://a", "/d/0.json", 3, "x", 1)])
    db.index_source("dat://b", [_row("dat://b", "/d/1.json", 7, "y", 1)])
    assert sorted(db.offsets.read_rows()) == [
        ("c", "dat://a", 3), ("c", "dat://b", 7),
    ]
    assert db.list_indexed() == ["dat://a", "dat://b"]
    # idempotent re-index: offset gate reads the pruned bucket
    db.index("dat://a")
    assert sorted(db.offsets.read_rows()) == [
        ("c", "dat://a", 3), ("c", "dat://b", 7),
    ]
    db.unindex("dat://a")
    assert db.offsets.read_rows() == [("c", "dat://b", 7)]
    db.reset("c")
    assert db.offsets.read_rows() == []
    db.close()
