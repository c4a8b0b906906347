"""Round-13: bucketed reduced table + exact sum-delta maintenance.

The reduced table is hash-bucketed on key_json so every re-aggregation
commit (general refold and the exact-delta watch path) rewrites only
the delta's buckets — these tests pin the equality, exactly-once,
delete-on-empty and hardlink-reuse contracts.
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from dat_archive_map_reduce_spark.engine import MapReduce
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


def test_sum_delta_stream_equals_batch_bit_exact(spark, tmp_path):
    """reduce='sum' over declared-long values takes the exact delta
    path under watch and lands BIT-IDENTICAL reduced state to a
    batch-indexed twin (whose re-agg takes the general refold),
    across: multi-entry keys, a value replacement (count delta 0,
    sum delta != 0), delete-on-empty (all entries of a key retract),
    and a key whose remaining entries sum to 0 (must STAY — the
    sidecar count, not the sum, drives deletion)."""
    db = MapReduce(spark, str(tmp_path / "wh-s"))
    db.define("s", path="/d/*.json", map=map_sum, reduce="sum",
              key_schema=["string"], value_type="long")
    dbb = MapReduce(spark, str(tmp_path / "wh-b"))
    dbb.define("s", path="/d/*.json", map=map_sum, reduce="sum",
               key_schema=["string"], value_type="long")

    r1 = [
        _row("dat://a", "/d/0.json", 1, "x", 3),
        _row("dat://a", "/d/1.json", 1, "x", 4),
        _row("dat://a", "/d/2.json", 1, "y", 10),
        _row("dat://a", "/d/3.json", 1, "z", 5),
        _row("dat://a", "/d/4.json", 1, "z", -5),  # sums to 0, must stay
        _row("dat://b", "/d/5.json", 1, "w", 7),
    ]
    db.append_changes(r1)
    W.watch_until_caught_up(db)
    dbb.append_changes(r1)
    dbb.index("dat://a")
    dbb.index("dat://b")
    assert _reduced_pairs(db, "s") == _reduced_pairs(dbb, "s")
    assert db.get("s", "z") == {"key": "z", "value": 0.0}
    # the delta path ran: lineage-scoped token on BOTH tables
    tok = db._reduced_table("s").manifest_meta().get("batch_token")
    assert isinstance(tok, str) and ":" in tok
    assert db._reduced_cnt_table("s").manifest_meta().get("batch_token") == tok
    # the batch twin took the delta route (slice token), sidecar aligned
    assert dbb._reduced_table("s").manifest_meta().get("batch_token", "").startswith("index:")
    cnt = {r["key_json"]: r["cnt"]
           for r in dbb._reduced_cnt_table("s").read().collect()}
    assert cnt == {'"x"': 2, '"y"': 1, '"z"': 2, '"w"': 1}

    # round 2: replacement (x: 3 -> 30), delete-on-empty (y gone),
    # fresh key (q)
    r2 = [
        _row("dat://a", "/d/0.json", 2, "x", 30),
        _row("dat://a", "/d/2.json", 2, None, None, typ="del"),
        _row("dat://b", "/d/6.json", 2, "q", 1),
    ]
    db.append_changes(r2)
    W.watch_until_caught_up(db)
    dbb.append_changes(r2)
    dbb.index("dat://a")
    dbb.index("dat://b")
    assert _reduced_pairs(db, "s") == _reduced_pairs(dbb, "s")
    assert db.get("s", "y") is None  # delete-on-empty
    assert db.get("s", "x") == {"key": "x", "value": 34.0}
    assert db.get("s", "z") == {"key": "z", "value": 0.0}  # still present
    scnt = {r["key_json"]: r["cnt"]
            for r in db._reduced_cnt_table("s").read().collect()}
    assert scnt == {'"x"': 2, '"z"': 2, '"w"': 1, '"q"': 1}
    db.close()
    dbb.close()


def test_sum_double_values_refuse_delta_path(spark, tmp_path):
    """An UNdeclared (or double) value type keeps reduce='sum' on the
    general refold path — FP sums are not exactly subtractable — so
    no batch token is ever stamped, and the state still matches a
    batch twin."""
    db = MapReduce(spark, str(tmp_path / "wh-d"))
    db.define("s", path="/d/*.json", map=map_sum, reduce="sum",
              key_schema=["string"])  # value_type=None
    assert db._view("s").exact_delta_fold() is None
    rows = [_row("dat://a", f"/d/{i}.json", 1, f"k{i % 3}", i * 0.5)
            for i in range(9)]
    db.append_changes(rows)
    W.watch_until_caught_up(db)
    assert db._reduced_table("s").manifest_meta().get("batch_token") is None
    dbb = MapReduce(spark, str(tmp_path / "wh-d-b"))
    dbb.define("s", path="/d/*.json", map=map_sum, reduce="sum",
               key_schema=["string"])
    dbb.append_changes(rows)
    dbb.index("dat://a")
    assert _reduced_pairs(db, "s") == _reduced_pairs(dbb, "s")
    db.close()
    dbb.close()


def test_token_lineage_scoping(spark, tmp_path):
    """_token_applied: same-lineage replays skip; a NEW lineage (the
    out-of-band checkpoint-deletion scenario, r12 ADVICE) never
    matches a stale token even at the same batch id."""
    from pyspark.sql import types as T

    from dat_archive_map_reduce_spark.plans.catalog import (
        VersionedTable,
        empty_df,
    )

    sch = T.StructType([T.StructField("x", T.StringType(), True)])
    t = VersionedTable(spark, str(tmp_path / "tok"), sch)
    t.overwrite(empty_df(spark, sch), meta={"batch_token": "lin1:7"})
    assert MapReduce._token_applied(t, "lin1:7") is True
    assert MapReduce._token_applied(t, "lin2:7") is False  # new lineage
    assert MapReduce._token_applied(t, "lin1:8") is False
    assert MapReduce._token_applied(t, 7) is False  # int vs scoped str
    t2 = VersionedTable(spark, str(tmp_path / "tok2"), sch)
    assert MapReduce._token_applied(t2, "lin1:0") is False  # no manifest


def test_reduced_table_bucketed_and_hardlink_reuse(spark, tmp_path):
    """After a watch drain the reduced table is key_json-bucketed; a
    later single-key batch rewrites ONLY that key's bucket — every
    other bucket's files carry into the new snapshot as hardlinks
    (st_nlink > 1), the delta-proportional commit the r12 verdict
    prescribed."""
    db = MapReduce(spark, str(tmp_path / "wh-h"), reduced_buckets=8)
    db.define("c", path="/d/*.json", map=map_sum, reduce="count",
              key_schema=["string"])
    r1 = [_row("dat://a", f"/d/{i}.json", 1, f"key{i}", i)
          for i in range(24)]
    db.append_changes(r1)
    W.watch_until_caught_up(db)
    red = db._reduced_table("c")
    assert red.current_is_bucketed()
    v1 = red._current()
    # re-key one file: key0 count -1 (delete-on-empty), keyNEW +1 —
    # a 2-key delta, so at most 2 touched buckets
    db.append_changes([_row("dat://a", "/d/0.json", 2, "keyNEW", 99)])
    W.watch_until_caught_up(db)
    v2 = red._current()
    assert v2 > v1
    touched = {red.bucket_of('"key0"'), red.bucket_of('"keyNEW"')}
    linked = 0
    for b in range(red.n_buckets):
        d = red._bucket_dir(v2, b)
        if not os.path.isdir(d):
            continue
        for name in os.listdir(d):
            fp = os.path.join(d, name)
            if name.endswith(".parquet"):
                if os.stat(fp).st_nlink > 1:
                    linked += 1
                else:
                    assert b in touched, (
                        f"bucket {b} rewritten by a batch touching only "
                        f"buckets {touched}"
                    )
    assert linked > 0, "untouched reduced buckets must hardlink"
    # state stays correct
    assert db.get("c", "key0") is None
    assert db.get("c", "keyNEW") == {"key": "keyNEW", "value": 1}
    assert db.get("c", "key1") == {"key": "key1", "value": 1}
    db.close()


def test_sum_delta_interleaved_with_batch_refold(spark, tmp_path):
    """Stream deltas, a single-file op and batch-path refolds
    interleave on a sum view: the single-file op takes the delta with
    its own file token, and the refold (unindex's) erases the token
    and realigns reduced + sidecar with entries, so a later stream
    batch's delta composes exactly (every ordering converges — same
    pin as the count-delta twin)."""
    db = MapReduce(spark, str(tmp_path / "wh-i"))
    db.define("s", path="/d/*.json", map=map_sum, reduce="sum",
              key_schema=["string"], value_type="long")
    db.append_changes([
        _row("dat://a", "/d/0.json", 1, "x", 1),
        _row("dat://a", "/d/1.json", 1, "y", 2),
        _row("dat://b", "/d/0.json", 1, "x", 100),
    ])
    W.watch_until_caught_up(db)  # stream delta (token stamped)
    db.index_file("dat://a", "/d/2.json", json.dumps({"k": "x", "v": 10}))
    assert db._reduced_table("s").manifest_meta()["batch_token"].startswith("file:")
    assert db.get("s", "x") == {"key": "x", "value": 111.0}
    # BATCH path: unindex refolds the keys the origin contributed
    db.unindex("dat://b")
    assert db._reduced_table("s").manifest_meta().get("batch_token") is None
    assert db.get("s", "x") == {"key": "x", "value": 11.0}
    # sidecar realigned by the refold
    cnt = {r["key_json"]: r["cnt"]
           for r in db._reduced_cnt_table("s").read().collect()}
    assert cnt['"x"'] == 2
    # stream again on top of the refolded state
    db.append_changes([
        _row("dat://a", "/d/0.json", 2, None, None, typ="del"),
        _row("dat://a", "/d/3.json", 2, "y", 5),
    ])
    W.watch_until_caught_up(db)
    assert db.get("s", "x") == {"key": "x", "value": 10.0}
    assert db.get("s", "y") == {"key": "y", "value": 7.0}
    cnt = {r["key_json"]: r["cnt"]
           for r in db._reduced_cnt_table("s").read().collect()}
    assert cnt == {'"x"': 1, '"y"': 2}
    db.close()


def test_auto_rebucket_covers_reduced_tables(spark, tmp_path):
    """auto_rebucket_entries probes reduced (and sum-sidecar) tables
    with the same threshold: a tiny threshold migrates the reduced
    layout to a doubled count, after which delta merges remain
    correct against the new layout."""
    db = MapReduce(spark, str(tmp_path / "wh-r"), reduced_buckets=2)
    db.define("s", path="/d/*.json", map=map_sum, reduce="sum",
              key_schema=["string"], value_type="long")
    db.append_changes([
        _row("dat://a", f"/d/{i}.json", 1, f"k{i}", i) for i in range(40)
    ])
    W.watch_until_caught_up(db)
    red = db._reduced_table("s")
    n0 = red.n_buckets
    out = db.auto_rebucket_entries(1)  # 1 byte: everything migrates
    assert red.root in out and red.n_buckets > n0
    cntt = db._reduced_cnt_table("s")
    assert cntt.root in out
    # merges after the migration: per-shard N differs from the engine
    # default -> bucket ids recompute against the pinned N
    db.append_changes([_row("dat://a", "/d/1.json", 2, "k1", 100)])
    W.watch_until_caught_up(db)
    assert db.get("s", "k1") == {"key": "k1", "value": 100.0}
    assert db.get("s", "k2") == {"key": "k2", "value": 2.0}
    db.close()


def _vec_row(vec_id, emb, version, typ="put"):
    return {
        "origin": "dat://emb",
        "pathname": f"/v/{vec_id}.json",
        "version": version,
        "type": typ,
        "content": None if typ == "del" else json.dumps(
            {"vec_id": vec_id, "embedding": [float(x) for x in emb]}
        ),
    }


def _sf_codebook(spark):
    from dat_archive_map_reduce_spark.sources.tables import load_table

    corpus = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "embedding"
    )
    cent_ids = list(range(1, 9))
    cents = sorted(
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in corpus.filter(F.col("vec_id").isin(cent_ids)).collect()
    )
    return corpus, cent_ids, cents


def test_ivf_cluster_map_equals_assign_expr(spark):
    """The IVF view map assigns every embedding, after its JSON round
    trip, to the cluster ivf_assign_expr computes, ties included: a
    duplicated centroid under a larger id ties exactly with its
    original on every vector, and a vector equidistant from two
    centroids goes to the smaller id."""
    from dat_archive_map_reduce_spark.operators.similarity import (
        ivf_assign_expr,
        ivf_cluster_map,
    )

    corpus, _, cents = _sf_codebook(spark)
    cents = cents + [(99, cents[0][1])]
    small = [(7, [1.0, 0.0]), (3, [0.0, 1.0])]
    tie = spark.createDataFrame(
        [(1, [1.0, 1.0]), (2, [2.0, 1.0])], "vec_id long, embedding array<double>"
    )
    got = {}
    for name, df, cb in (("sf", corpus, cents), ("tie", tie, small)):
        want = sorted(
            (r["vec_id"], r["c"])
            for r in df.select("vec_id", ivf_assign_expr(cb).alias("c")).collect()
        )
        cmap = ivf_cluster_map(cb)
        got[name] = []
        for r in df.collect():
            cmap(
                _vec_row(r["vec_id"], r["embedding"], 1)["content"],
                {},
                lambda k, v, out=got[name]: out.append((v, k)),
            )
        assert sorted(got[name]) == want and len(want) == df.count()
    assert sorted(got["tie"]) == [(1, 3), (2, 7)]
    sf_clusters = {c for _, c in got["sf"]}
    assert 1 in sf_clusters and 99 not in sf_clusters


def test_streaming_ivf_assign_equals_batch(spark, tmp_path):
    """IVF maintenance as an engine view: embeddings arriving in two
    appends, each drained by watch, land assignments equal to a batch
    ivf_assign_expr pass with the same pinned codebook, one per
    vector, and serving through one get_many of the probed clusters
    reproduces portable_ivf_topk's top-k exactly."""
    from dat_archive_map_reduce_spark.operators.similarity import (
        brute_force_topk,
        ivf_assign_expr,
        ivf_cluster_map,
        ivf_probe,
        portable_ivf_topk,
    )

    corpus, cent_ids, cents = _sf_codebook(spark)
    db = MapReduce(spark, str(tmp_path / "wh"))
    db.define("ivf", path="/v/*.json", map=ivf_cluster_map(cents),
              key_schema=["long"])
    vecs = [(r["vec_id"], r["embedding"]) for r in corpus.collect()]
    for half in (0, 1):
        db.append_changes(
            [_vec_row(i, e, half + 1) for i, e in vecs if i % 2 == half]
        )
        W.watch_until_caught_up(db)
    got = sorted((r["value"], r["key"]) for r in db.list("ivf"))
    want = sorted(
        (r["vec_id"], r["c"])
        for r in corpus.select(
            "vec_id", ivf_assign_expr(cents).alias("c")
        ).collect()
    )
    assert got == want and len(got) == corpus.count()
    # serving equivalence: candidates from one get_many of the probed
    # clusters + exact rerank == portable_ivf_topk on the same corpus
    qv = [float(x) for x in
          corpus.filter(F.col("vec_id") == 5).first()["embedding"]]
    expect = [tuple(r) for r in portable_ivf_topk(
        corpus, qv, centroid_ids=cent_ids, n_probe=2, k=5).collect()]
    probed = ivf_probe(cents, qv, 2)
    ids = [i for vs in db.get_many("ivf", probed).values() for i in vs]
    cands = corpus.filter(F.col("vec_id").isin(ids))
    got_topk = [tuple(r) for r in brute_force_topk(cands, qv, 5).collect()]
    assert got_topk == expect
    db.close()


def test_ivf_view_retracts_moved_and_deleted_vectors(spark, tmp_path):
    """Re-putting a vector with a new embedding moves it to its new
    cluster, and deleting it removes its assignment from get_many."""
    from dat_archive_map_reduce_spark.operators.similarity import ivf_cluster_map

    db = MapReduce(spark, str(tmp_path / "wh"))
    db.define("ivf", path="/v/*.json",
              map=ivf_cluster_map([(1, [1.0, 0.0]), (2, [0.0, 1.0])]),
              key_schema=["long"])

    def clusters():
        return {c: sorted(v) for c, v in db.get_many("ivf", [1, 2]).items()}

    db.append_changes([
        _vec_row(10, [1.0, 0.1], 1),
        _vec_row(11, [0.2, 1.0], 1),
        _vec_row(12, [0.9, 0.3], 1),
    ])
    W.watch_until_caught_up(db)
    assert clusters() == {1: [10, 12], 2: [11]}
    db.append_changes([_vec_row(10, [0.0, 1.0], 2)])
    W.watch_until_caught_up(db)
    assert clusters() == {1: [12], 2: [10, 11]}
    db.append_changes([_vec_row(11, None, 3, typ="del"), _vec_row(12, None, 3, typ="del")])
    W.watch_until_caught_up(db)
    assert clusters() == {2: [10]}
    db.close()


def test_avg_delta_stream_equals_batch_bit_exact(spark, tmp_path):
    """reduce='avg' over declared-long values takes the exact delta
    path (integer (cnt, ssum) sufficient statistics in the sidecar;
    the folded value derives as ssum/cnt at format time) and lands
    bit-identical reduced state to a batch-indexed refold twin,
    through replacements, retractions, delete-on-empty, and fresh
    keys."""
    db = MapReduce(spark, str(tmp_path / "wh-avg"))
    db.define("a", path="/d/*.json", map=map_sum, reduce="avg",
              key_schema=["string"], value_type="long")
    dbb = MapReduce(spark, str(tmp_path / "wh-avg-b"))
    dbb.define("a", path="/d/*.json", map=map_sum, reduce="avg",
               key_schema=["string"], value_type="long")
    r1 = [
        _row("dat://a", "/d/0.json", 1, "x", 3),
        _row("dat://a", "/d/1.json", 1, "x", 4),   # avg 3.5
        _row("dat://a", "/d/2.json", 1, "y", 10),
        _row("dat://b", "/d/3.json", 1, "z", -7),
    ]
    db.append_changes(r1)
    W.watch_until_caught_up(db)
    dbb.append_changes(r1)
    dbb.index("dat://a")
    dbb.index("dat://b")
    assert _reduced_pairs(db, "a") == _reduced_pairs(dbb, "a")
    assert db.get("a", "x") == {"key": "x", "value": 3.5}
    tok = db._reduced_table("a").manifest_meta().get("batch_token")
    assert isinstance(tok, str) and ":" in tok
    sc = {r["key_json"]: (r["cnt"], r["ssum"])
          for r in db._reduced_cnt_table("a").read().collect()}
    assert sc == {'"x"': (2, 7), '"y"': (1, 10), '"z"': (1, -7)}
    # replacement + delete-on-empty + fresh key
    r2 = [
        _row("dat://a", "/d/0.json", 2, "x", 30),  # x avg -> 17.0
        _row("dat://a", "/d/2.json", 2, None, None, typ="del"),  # y gone
        _row("dat://b", "/d/4.json", 2, "q", 5),
    ]
    db.append_changes(r2)
    W.watch_until_caught_up(db)
    dbb.append_changes(r2)
    dbb.index("dat://a")
    dbb.index("dat://b")
    assert _reduced_pairs(db, "a") == _reduced_pairs(dbb, "a")
    assert db.get("a", "x") == {"key": "x", "value": 17.0}
    assert db.get("a", "y") is None
    assert db.get("a", "q") == {"key": "q", "value": 5.0}
    db.close()
    dbb.close()


def test_minmax_hist_delta_stream_equals_batch(spark, tmp_path):
    """min/max under watch take the bounded value-HISTOGRAM delta
    path (r14, superseding the r13 monotone fast path + refold-on-
    retraction): append-only batches, a retraction that RAISES a min
    (impossible for any monotone merge — proves the histogram
    supplied the next-smallest value without an entries rescan), and
    delete-on-empty all land BIT-IDENTICAL to a batch-indexed twin,
    with the lineage token stamped on BOTH tables."""
    db = MapReduce(spark, str(tmp_path / "wh-mm"))
    db.define("mn", path="/d/*.json", map=map_sum, reduce="min",
              key_schema=["string"])
    db.define("mx", path="/d/*.json", map=map_sum, reduce="max",
              key_schema=["string"])
    dbb = MapReduce(spark, str(tmp_path / "wh-mm-b"))
    dbb.define("mn", path="/d/*.json", map=map_sum, reduce="min",
               key_schema=["string"])
    dbb.define("mx", path="/d/*.json", map=map_sum, reduce="max",
               key_schema=["string"])
    r1 = [
        _row("dat://a", "/d/0.json", 1, "x", 5),
        _row("dat://a", "/d/1.json", 1, "x", 2.5),
        _row("dat://a", "/d/2.json", 1, "y", -3),
    ]
    db.append_changes(r1)
    W.watch_until_caught_up(db)
    r2 = [
        _row("dat://a", "/d/3.json", 1, "x", 1),
        _row("dat://a", "/d/4.json", 1, "z", 9),
    ]
    db.append_changes(r2)
    W.watch_until_caught_up(db)
    dbb.append_changes(r1 + r2)
    dbb.index("dat://a")
    for v in ("mn", "mx"):
        assert _reduced_pairs(db, v) == _reduced_pairs(dbb, v)
    assert db.get("mn", "x") == {"key": "x", "value": 1.0}
    assert db.get("mx", "x") == {"key": "x", "value": 5.0}
    # the delta path ran: lineage-scoped token on BOTH tables
    tok = db._reduced_table("mn").manifest_meta().get("batch_token")
    assert isinstance(tok, str) and ":" in tok
    assert db._reduced_hist_table("mn").manifest_meta().get("batch_token") == tok
    # retraction: /d/3.json re-keyed -> x's min RISES back to 2.5
    # (the histogram's next-smallest), and y deletes on empty
    r3 = [
        _row("dat://a", "/d/3.json", 2, "w", 100),
        _row("dat://a", "/d/2.json", 2, None, None, typ="del"),
    ]
    db.append_changes(r3)
    W.watch_until_caught_up(db)
    dbb.append_changes(r3)
    dbb.index("dat://a")
    for v in ("mn", "mx"):
        assert _reduced_pairs(db, v) == _reduced_pairs(dbb, v)
    assert db.get("mn", "x") == {"key": "x", "value": 2.5}
    assert db.get("mn", "y") is None
    assert db.get("mx", "w") == {"key": "w", "value": 100.0}
    db.close()
    dbb.close()


def test_minmax_hist_bound_overflow_refolds(spark, tmp_path):
    """Past the histogram bound the kept set can drain into a
    non-empty overflow — the min is then genuinely beyond the bound
    and the batch must route to the general refold (the sanctioned
    fallback), still landing batch-identical state; later batches
    resume the delta path against the rebuilt histogram."""
    db = MapReduce(spark, str(tmp_path / "wh-ovf"), minmax_hist_bound=2)
    db.define("mn", path="/d/*.json", map=map_sum, reduce="min",
              key_schema=["string"])
    # 5 distinct values for one key: hist keeps {1, 2}, overflow
    # holds {3, 4, 5} with horizon 3
    r1 = [_row("dat://a", f"/d/{i}.json", 1, "x", i) for i in (1, 2, 3, 4, 5)]
    db.append_changes(r1)
    W.watch_until_caught_up(db)
    assert db.get("mn", "x") == {"key": "x", "value": 1.0}
    hist = {(r["v_txt"], r["cnt"]): r["hz"]
            for r in db._reduced_hist_table("mn").read().collect()}
    assert ("1", 1) in hist and ("2", 1) in hist
    assert hist[(None, 3)] == "3"  # overflow count + horizon
    # retract BOTH kept values in one batch: kept drains, overflow
    # non-empty -> refold; min becomes 3 (from entries)
    r2 = [
        _row("dat://a", "/d/1.json", 2, None, None, typ="del"),
        _row("dat://a", "/d/2.json", 2, "y", 0),
    ]
    db.append_changes(r2)
    W.watch_until_caught_up(db)
    assert db.get("mn", "x") == {"key": "x", "value": 3.0}
    assert db.get("mn", "y") == {"key": "y", "value": 0.0}
    # the refold re-stamped a shared sync marker (no batch token) and
    # rebuilt the histogram; the NEXT retraction rides the delta again
    rm = db._reduced_table("mn").manifest_meta()
    hm = db._reduced_hist_table("mn").manifest_meta()
    assert rm.get("batch_token") is None
    assert rm.get("sync") is not None and rm["sync"] == hm.get("sync")
    r3 = [_row("dat://a", "/d/3.json", 3, None, None, typ="del")]
    db.append_changes(r3)
    W.watch_until_caught_up(db)
    assert db.get("mn", "x") == {"key": "x", "value": 4.0}
    tok = db._reduced_table("mn").manifest_meta().get("batch_token")
    assert isinstance(tok, str) and ":" in tok
    db.close()


def test_delta_maintenance_never_rescans_entries(spark, tmp_path):
    """THE claim behind the exact-delta paths, pinned: a watch drain
    over count/sum/avg (declared-long) and min must never call
    engine.entries_df — the general refold's full-view scan (O(view
    entries) per micro-batch at 100 TB). As of r14 that includes
    RETRACTING batches on the min view (the bounded value-histogram
    supplies the next extreme); only a key drained past the bound
    refolds, pinned by test_minmax_hist_bound_overflow_refolds."""
    db = MapReduce(spark, str(tmp_path / "wh-nrs"))
    db.define("c", path="/d/*.json", map=map_sum, reduce="count",
              key_schema=["string"])
    db.define("s", path="/d/*.json", map=map_sum, reduce="sum",
              key_schema=["string"], value_type="long")
    db.define("a", path="/d/*.json", map=map_sum, reduce="avg",
              key_schema=["string"], value_type="long")
    db.define("mn", path="/d/*.json", map=map_sum, reduce="min",
              key_schema=["string"])
    db.append_changes([
        _row("dat://a", f"/d/{i}.json", 1, f"k{i % 4}", i) for i in range(12)
    ])
    W.watch_until_caught_up(db)

    calls = []
    orig = db.entries_df

    def spy(*a, **k):
        calls.append(a)
        return orig(*a, **k)

    db.entries_df = spy
    try:
        # append-only batch: every view takes its no-rescan path
        db.append_changes([
            _row("dat://a", f"/d/{12 + i}.json", 1, f"n{i}", 100 + i)
            for i in range(4)
        ])
        W.watch_until_caught_up(db)
        assert calls == [], (
            f"delta/fast-path maintenance scanned entries: {calls}"
        )
        # retracting batch: count/sum/avg stay on the exact delta AND
        # (r14) min rides its histogram delta — no rescan anywhere
        db.append_changes([_row("dat://a", "/d/0.json", 2, "kX", -50)])
        W.watch_until_caught_up(db)
        assert calls == [], calls
    finally:
        db.entries_df = orig
    # end state correct on every view
    assert db.get("c", "kX") == {"key": "kX", "value": 1}
    assert db.get("s", "kX") == {"key": "kX", "value": -50.0}
    assert db.get("mn", "kX") == {"key": "kX", "value": -50.0}
    assert db.get("a", "n0") == {"key": "n0", "value": 100.0}
    db.close()


def test_lineage_tokens_across_restart_and_checkpoint_loss(spark, tmp_path):
    """The r12 ADVICE scenario, executable: (1) a NEW engine instance
    on the same warehouse resumes the same checkpoint lineage (query
    id persists in checkpoint metadata), so replays keep deduping
    across restarts; (2) an out-of-band checkpoint DELETION restarts
    batch ids at 0 — the old int-token scheme would match the stored
    token from the first drain's batch 0 and silently drop the new
    batch's delta; lineage scoping must apply it."""
    import shutil

    wh = str(tmp_path / "wh-lin")

    def build(w):
        d = MapReduce(spark, w)
        d.define("c", path="/d/*.json", map=map_sum, reduce="count",
                 key_schema=["string"])
        return d

    db = build(wh)
    db.append_changes([_row("dat://a", "/d/0.json", 1, "x", 1),
                       _row("dat://a", "/d/1.json", 1, "y", 2)])
    W.watch_until_caught_up(db)
    red = db._reduced_table("c")
    tok1 = red.manifest_meta()["batch_token"]
    qid1, bid1 = tok1.rsplit(":", 1)
    assert bid1 == "0"  # single-batch drain: the collision setup
    db.close()

    # (1) same checkpoint, new engine instance: lineage persists
    db2 = build(wh)
    db2.append_changes([_row("dat://a", "/d/2.json", 2, "x", 3)])
    W.watch_until_caught_up(db2)
    tok2 = db2._reduced_table("c").manifest_meta()["batch_token"]
    assert tok2.rsplit(":", 1)[0] == qid1, "lineage must survive restart"
    assert db2.get("c", "x") == {"key": "x", "value": 2}
    db2.close()

    # (2) out-of-band checkpoint deletion: batch ids restart at 0.
    # The new batch re-delivers the whole changelog PLUS genuinely
    # new rows; its delta must APPLY (new lineage != stored lineage),
    # never skip on the colliding batch id.
    shutil.rmtree(f"{wh}/_stream_checkpoint")
    db3 = build(wh)
    db3.append_changes([_row("dat://a", "/d/3.json", 3, "z", 9)])
    W.watch_until_caught_up(db3)
    tok3 = db3._reduced_table("c").manifest_meta().get("batch_token")
    assert tok3 is not None and tok3.rsplit(":", 1)[0] != qid1
    assert db3.get("c", "z") == {"key": "z", "value": 1}
    assert db3.get("c", "x") == {"key": "x", "value": 2}
    assert db3.get("c", "y") == {"key": "y", "value": 1}
    db3.close()


def test_get_many_matches_per_key_get(spark, tmp_path):
    """Batched point lookup == a get() loop on both view shapes, with
    the reduced probe reading only the requested keys' buckets
    (inputFiles bounded to those bucket dirs)."""
    db = MapReduce(spark, str(tmp_path / "wh-gm"), reduced_buckets=8)
    db.define("m", path="/d/*.json", map=map_sum, key_schema=["string"])
    db.define("c", path="/d/*.json", map=map_sum, reduce="count",
              key_schema=["string"])
    db.index_source("dat://a", [
        _row("dat://a", f"/d/{i}.json", 1, f"k{i % 6}", i) for i in range(18)
    ])
    want_c = {k: db.get("c", k)["value"] for k in ("k0", "k3", "k5")}
    got_c = db.get_many("c", ["k0", "k3", "k5", "absent"])
    assert got_c == want_c and "absent" not in got_c
    want_m = {k: db.get("m", k)["value"] for k in ("k1", "k4")}
    assert db.get_many("m", ["k1", "k4"]) == want_m
    assert db.get_many("c", []) == {}
    # bucket pruning: the reduced probe lists only the probed buckets
    red = db._reduced_table("c")
    probed = {red.bucket_of('"k0"'), red.bucket_of('"k3"')}
    files = (
        red.read_buckets(sorted(probed)).inputFiles()
    )
    assert files and all(
        any(f"_b={b}/" in f for b in probed) for f in files
    )
    db.close()
