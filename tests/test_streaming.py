"""Streaming tests: watch-mode equivalence to batch re-index (the
reference's test/view.js:187-231 contract) and event-time windowed
aggregation stream/batch equivalence."""

import json

import pytest
from pyspark.sql import functions as F

from dat_archive_map_reduce_spark.engine import MapReduce
from dat_archive_map_reduce_spark.sources.tables import load_table
from dat_archive_map_reduce_spark.streaming import watch as W

SF = "/root/testdata/sf0.001"


def map_first(content, meta, emit):
    obj = json.loads(content)
    emit(obj["first"], meta["url"])


def map_origin_one(content, meta, emit):
    emit(meta["origin"], 1)


def rows_for(i, version=1, suffix=""):
    origin = f"dat://w{i}"
    rec = lambda f, s, t: json.dumps({"first": f, "second": s, "third": t})
    return [
        {"origin": origin, "pathname": "/single.json", "version": version,
         "content": rec(f"first{i}{suffix}", i, "x")},
        {"origin": origin, "pathname": "/multi/1.json", "version": version,
         "content": rec(f"first{i}{suffix}", i, "y")},
        {"origin": origin, "pathname": "/multi/2.json", "version": version,
         "content": rec(f"first{i}{suffix}b", i, "z")},
    ]


def test_watch_converges_to_batch_state(spark, tmp_path):
    """Index via watch-mode streaming; assert identical state to a
    batch-indexed twin engine."""
    wh_stream = str(tmp_path / "wh_stream")
    wh_batch = str(tmp_path / "wh_batch")
    engines = []
    for wh in (wh_stream, wh_batch):
        db = MapReduce(spark, wh)
        db.define("multi", path="/multi/*.json", map=map_first, key_schema=["string"])
        db.define("multi-reduced", path="/multi/*.json", map=map_origin_one,
                  reduce="count", key_schema=["string"])
        engines.append(db)
    dbs, dbb = engines

    # batch twin: append + index
    for i in range(3):
        dbb.append_changes(rows_for(i))
        dbb.index(f"dat://w{i}")

    # streaming twin: append (files land in changelog dir), then drain
    batches_seen = []
    for i in range(3):
        dbs.append_changes(rows_for(i))
    q = W.watch(dbs, on_batch=lambda bid, n: batches_seen.append((bid, n)))
    q.awaitTermination()
    assert batches_seen and sum(n for _, n in batches_seen) >= 3

    assert dbs.list("multi") == dbb.list("multi")
    assert dbs.list("multi-reduced") == dbb.list("multi-reduced")


def test_watch_incremental_update_retracts(spark, tmp_path):
    """Second watch drain after file rewrites retracts old keys
    (update semantics under continuous ingestion)."""
    db = MapReduce(spark, str(tmp_path / "wh"))
    db.define("multi", path="/multi/*.json", map=map_first, key_schema=["string"])
    db.define("multi-reduced", path="/multi/*.json", map=map_origin_one,
              reduce="count", key_schema=["string"])
    db.append_changes(rows_for(0))
    W.watch_until_caught_up(db)
    assert db.get("multi", "first0") is not None
    # rewrite with new keys at version 2
    db.append_changes(rows_for(0, version=2, suffix="X"))
    W.watch_until_caught_up(db)
    assert db.get("multi", "first0") is None
    assert db.get("multi", "first0X") is not None
    assert db.get("multi-reduced", "dat://w0") == {"key": "dat://w0", "value": 2}


def test_watch_batch_mixed_per_origin_offsets(spark, tmp_path):
    """One micro-batch carrying a batch-indexed origin's re-delivered
    v1 files, its v2 rewrite, AND a fresh origin's v1 files: watch
    applies every batch row (offsets are progress metadata, never a
    row filter — version-gating would drop rows when one version's
    files span micro-batches) and must still CONVERGE: in-batch
    latest-wins supersedes the re-delivered v1 with v2, retraction is
    idempotent, and per-origin counts stay exact."""
    db = MapReduce(spark, str(tmp_path / "wh"))
    db.define("multi", path="/multi/*.json", map=map_first, key_schema=["string"])
    db.define("multi-reduced", path="/multi/*.json", map=map_origin_one,
              reduce="count", key_schema=["string"])
    # origin w0 batch-indexed at v1 (offset now 1)
    db.append_changes(rows_for(0))
    db.index("dat://w0")
    # one drain sees: w0's v1 (replayed, at/below offset) + w0's v2
    # rewrite + fresh w1's v1 — all in the same micro-batch window
    db.append_changes(rows_for(0, version=2, suffix="X"))
    db.append_changes(rows_for(1))
    W.watch_until_caught_up(db)
    # w0: v2 keys only (v1 retracted exactly once, not doubled)
    assert db.get("multi", "first0") is None
    assert db.get("multi", "first0X") is not None
    # w1: v1 applied
    assert db.get("multi", "first1") is not None
    # reduced counts: per-origin entry counts stay exact
    assert db.get("multi-reduced", "dat://w0") == {"key": "dat://w0", "value": 2}
    assert db.get("multi-reduced", "dat://w1") == {"key": "dat://w1", "value": 2}


def test_watch_same_version_files_span_batches(spark, tmp_path):
    """A single-version backfill whose files outnumber one trigger's
    file cap spans several micro-batches. EVERY row must apply: if the
    stored offset acted as a row filter, the first batch would advance
    it to the version and the remaining batches' same-version rows
    would be silently dropped — permanent data loss."""
    db = MapReduce(spark, str(tmp_path / "wh"))
    db.define("v", path="/d/*.json", map=map_first, key_schema=["string"])
    db.define("vr", path="/d/*.json", map=map_origin_one,
              reduce="count", key_schema=["string"])
    # the changelog writer coalesces appends to ~one file per origin
    # (small-file discipline), so force the many-tiny-files shape this
    # test needs directly: max_records_per_file=1 -> one file per row,
    # exceeding the 64-file trigger cap in one append
    from dat_archive_map_reduce_spark.sources.files import changelog_from_rows

    n = 72
    db.changelog.append(
        changelog_from_rows(spark, [
            {"origin": "dat://big", "pathname": f"/d/{i}.json", "version": 1,
             "content": json.dumps({"first": f"k{i}", "second": i,
                                    "third": "x"})}
            for i in range(n)
        ]),
        max_records_per_file=1,
    )
    batches = []
    q = W.watch(db, on_batch=lambda bid, nn: batches.append(bid))
    q.awaitTermination()
    assert len(batches) >= 2, "setup must span multiple micro-batches"
    assert db.get("vr", "dat://big") == {"key": "dat://big", "value": n}


def test_watch_vacuum_bounds_snapshot_history(spark, tmp_path):
    """Continuous maintenance must not grow snapshot history without
    bound: with vacuum_every=1, repeated drains keep <= keep_last
    versions per warehouse table while the current state stays
    correct and crash-safe (the previous snapshot survives)."""
    import glob as g

    db = MapReduce(spark, str(tmp_path / "wh"))
    db.define("multi", path="/multi/*.json", map=map_first, key_schema=["string"])
    db.define("multi-reduced", path="/multi/*.json", map=map_origin_one,
              reduce="count", key_schema=["string"])
    for version in range(1, 4):  # three drains = three merge cycles
        db.append_changes(rows_for(0, version=version, suffix=f"v{version}"))
        q = W.watch(db, vacuum_every=1)
        q.awaitTermination()
    # state: only the last rewrite's keys live
    assert db.get("multi", "first0v3") is not None
    assert db.get("multi", "first0v1") is None
    assert db.get("multi-reduced", "dat://w0") == {"key": "dat://w0", "value": 2}
    # history: every versioned table dir holds <= 2 snapshot versions
    for manifest in g.glob(str(tmp_path / "wh" / "**" / "_manifest.json"),
                           recursive=True):
        import os
        root = os.path.dirname(manifest)
        versions = [d for d in os.listdir(root)
                    if d.startswith("v") and d[1:].isdigit()]
        assert len(versions) <= 2, f"{root} kept {sorted(versions)}"
    # default watch keeps time travel alive between vacuums
    assert db.list("multi")  # still readable end-to-end


def test_stream_windowed_counts_equals_batch(spark, tmp_path):
    """Tumbling-window counts over a real stream (availableNow) match
    the batch computation on the same data."""
    events = load_table(spark, SF, "events")
    src = str(tmp_path / "events_src")
    events.write.parquet(src)
    out = str(tmp_path / "out")

    W.run_stream_over_directory(
        spark,
        src,
        str(tmp_path / "ckpt"),
        out,
        lambda df: W.windowed_counts(df, "1 hour", streaming=True),
        events.schema,
    )
    streamed = spark.read.parquet(out)
    batch = W.windowed_counts(events, "1 hour", streaming=False)
    assert streamed.count() == batch.count()
    assert streamed.exceptAll(batch).count() == 0
    assert batch.exceptAll(streamed).count() == 0


def test_session_windows_merge_gaps(spark):
    events = load_table(spark, SF, "events")
    sess = W.session_windows(events, gap="10 minutes")
    rows = sess.limit(50).collect()
    assert rows
    for r in rows:
        assert r["session_end"] > r["session_start"]
        assert r["n_events"] >= 1
    # sanity: total events preserved across sessions
    total = sess.agg(F.sum("n_events")).first()[0]
    assert total == events.count()


def test_sliding_window_multiplicity(spark):
    """A sliding window (1h window, 30m slide) assigns each event to
    exactly 2 windows -> total weighted count doubles."""
    events = load_table(spark, SF, "events")
    slid = W.windowed_counts(events, "1 hour", slide="30 minutes")
    total = slid.agg(F.sum("n")).first()[0]
    assert total == 2 * events.count()


def test_stateful_user_totals_equals_batch(spark, tmp_path):
    """Custom applyInPandasWithState totals: the LAST emitted row per
    user (update-mode) must equal a plain batch groupBy — even when the
    stream is forced through multiple micro-batches, proving the state
    carries across batches."""
    src = str(tmp_path / "src")
    events = load_table(spark, SF, "events")
    # two files -> with maxFilesPerTrigger=1 the stream runs >=2 batches
    events.filter(F.col("event_id") % 2 == 0).write.parquet(f"{src}/a.parquet")
    events.filter(F.col("event_id") % 2 == 1).write.parquet(f"{src}/b.parquet")

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    out_dir = str(tmp_path / "out")
    emitted = []

    def _sink(batch_df, batch_id):
        emitted.extend((batch_id, r) for r in batch_df.collect())

    q = (
        W.stateful_user_totals(stream)
        .writeStream.foreachBatch(_sink)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    assert len({b for b, _ in emitted}) >= 2, "expected multiple micro-batches"
    last = {}
    for batch_id, r in emitted:
        last[r["user_id"]] = (batch_id, r)
    got = {
        u: (r["n_events"], round(r["sum_value"], 4), r["last_ts"])
        for u, (_, r) in last.items()
    }
    expected = {
        r["user_id"]: (r["n"], round(r["s"], 4), r["m"])
        for r in events.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"), F.max("ts").alias("m"))
        .collect()
    }
    assert got == expected


def test_watermark_drops_late_rows(spark, tmp_path):
    """Event-time watermark contract: after batch 1 advances the
    watermark, rows older than (max_ts - delay) arriving in batch 2
    are dropped from the windowed aggregation; in-watermark late rows
    still update their window. Run as two availableNow drains sharing
    one checkpoint so the watermark persists between batches."""
    import datetime as dt

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    schema = "event_id bigint, ts timestamp, user_id bigint, event_type string, value double"

    def _mk(rows, name):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)

    t = lambda h, m: dt.datetime(2024, 1, 1, h, m)
    emitted = []

    def _drain():
        stream = spark.readStream.schema(schema).parquet(src)
        out = W.windowed_counts(stream, window="1 hour", watermark="30 minutes", streaming=True)

        def _sink(batch_df, batch_id):
            emitted.extend(batch_df.collect())

        q = (
            out.writeStream.foreachBatch(_sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # batch 1: on-time events at 10:xx and 11:00 -> watermark becomes 10:30
    _mk(
        [(1, t(10, 5), 1, "click", 1.0), (2, t(10, 40), 1, "click", 1.0),
         (3, t(11, 0), 1, "click", 1.0)],
        "a",
    )
    _drain()
    # batch 2: one too-late row (08:10 < watermark 10:30, dropped) and
    # one in-watermark late row (10:50, must update the 10:00 window)
    _mk([(4, t(8, 10), 1, "click", 1.0), (5, t(10, 50), 1, "click", 1.0)], "b")
    _drain()

    final = {}
    for r in emitted:
        final[(r["window_start"], r["event_type"])] = r["n"]
    assert final[(t(10, 0), "click")] == 3  # 10:05 + 10:40 + late 10:50
    assert final[(t(11, 0), "click")] == 1
    assert (t(8, 0), "click") not in final  # too-late row dropped


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """Streaming exactly-once dedup: duplicate event_ids arriving in a
    later batch (within the watermark) are suppressed —
    dropDuplicatesWithinWatermark keeps state only for the watermark
    horizon, the bounded-memory form of streaming dedup."""
    import datetime as dt

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    schema = "event_id bigint, ts timestamp, value double"
    t = lambda m: dt.datetime(2024, 1, 1, 10, m)
    seen = []

    def _drain():
        stream = W.streaming_dedup(
            spark.readStream.schema(schema).parquet(src),
            keys=["event_id"], ts_col="ts", watermark="1 hour",
        )

        def _sink(batch_df, batch_id):
            seen.extend(r["event_id"] for r in batch_df.collect())

        q = (
            stream.writeStream.foreachBatch(_sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    spark.createDataFrame(
        [(1, t(0), 1.0), (2, t(5), 2.0), (2, t(6), 2.0)], schema
    ).coalesce(1).write.mode("append").parquet(src)
    _drain()
    # batch 2 re-delivers ids 1 and 2 (at-least-once source) + new id 3
    spark.createDataFrame(
        [(1, t(10), 1.0), (2, t(11), 2.0), (3, t(12), 3.0)], schema
    ).coalesce(1).write.mode("append").parquet(src)
    _drain()

    assert sorted(seen) == [1, 2, 3]


def test_watch_processes_appends_after_stream_start(spark, tmp_path):
    """Rows appended to the changelog AFTER the stream starts must be
    picked up — the stream watches the stable append-only log dir, not
    a point-in-time snapshot."""
    import json
    import time

    from dat_archive_map_reduce_spark.engine import MapReduce

    db = MapReduce(spark, str(tmp_path / "wh-live"))
    db.define("v", path="/*.json", map=map_first, key_schema=["string"])
    db.index_source("dat://live", [
        {"origin": "dat://live", "pathname": "/a.json", "version": 1,
         "content": json.dumps({"first": "k1"})},
    ], watch=True)
    try:
        assert db.get("v", "k1") is not None
        # live append while the stream runs
        db.append_changes([
            {"origin": "dat://live", "pathname": "/b.json", "version": 2,
             "content": json.dumps({"first": "k2"})},
        ])
        deadline = time.time() + 60
        while time.time() < deadline:
            if db.get("v", "k2") is not None:
                break
            time.sleep(0.5)
        assert db.get("v", "k2") == {"key": "k2", "value": ["dat://live/b.json"]}
    finally:
        db.close()
    assert db._active_streams == []


def test_lifecycle_close_destroy_and_missing_found(spark, tmp_path):
    """open -> index(missing) -> data arrives (found) -> close ->
    reopen persists -> destroy wipes storage; archive-missing and
    archive-found actually fire."""
    import json
    import os

    from dat_archive_map_reduce_spark.engine import MapReduce

    wh = str(tmp_path / "wh-life")
    log = []
    db = MapReduce(spark, wh, listeners={
        "archive-missing": [lambda **kw: log.append(("missing", kw["origin"]))],
        "archive-found": [lambda **kw: log.append(("found", kw["origin"]))],
    })
    db.define("v", path="/*.json", map=map_first, key_schema=["string"])
    db.index("dat://ghost")  # registered before any changelog rows
    assert ("missing", "dat://ghost") in log
    assert db.get("v", "g1") is None
    db.index_source("dat://ghost", [
        {"origin": "dat://ghost", "pathname": "/g.json", "version": 1,
         "content": json.dumps({"first": "g1"})},
    ])
    assert ("found", "dat://ghost") in log
    assert db.get("v", "g1") is not None
    db.close()
    assert db._closed

    # reopen: state persisted on disk
    db2 = MapReduce(spark, wh)
    db2.define("v", path="/*.json", map=map_first, key_schema=["string"])
    assert db2.get("v", "g1") == {"key": "g1", "value": ["dat://ghost/g.json"]}

    db2.destroy()
    assert not os.path.exists(wh)
    assert db2.views == {}


def test_stream_stream_interval_join_equals_batch(spark, tmp_path):
    """Watermarked stream-stream interval join (purchase joined to the
    same user's clicks in the following hour) produces exactly the
    batch join's pairs — the time bound is what lets Spark evict
    buffered state on an infinite stream."""
    events = load_table(spark, SF, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("l_event_id"),
        F.col("user_id").alias("l_user_id"),
        F.col("ts").alias("l_ts"),
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("r_event_id"),
        F.col("user_id").alias("r_user_id"),
        F.col("ts").alias("r_ts"),
    )
    batch = {
        (r["l_event_id"], r["r_event_id"])
        for r in W.stream_stream_interval_join(
            purchases, clicks, on="user_id", upper_seconds=3600
        ).collect()
    }
    assert batch  # fixture produces at least one qualifying pair

    psrc, csrc = str(tmp_path / "p"), str(tmp_path / "c")
    purchases.write.parquet(psrc)
    clicks.write.parquet(csrc)
    joined = W.stream_stream_interval_join(
        spark.readStream.schema(purchases.schema).parquet(psrc),
        spark.readStream.schema(clicks.schema).parquet(csrc),
        on="user_id",
        upper_seconds=3600,
    )
    got = []

    def _sink(batch_df, batch_id):
        got.extend((r["l_event_id"], r["r_event_id"]) for r in batch_df.collect())

    q = (
        joined.writeStream.foreachBatch(_sink)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert set(got) == batch
    assert len(got) == len(batch)  # exactly-once, no duplicate pairs


def _doc_row(doc_id, text, version, typ="put"):
    return {
        "origin": "dat://docs",
        "pathname": f"/docs/{doc_id}.json",
        "version": version,
        "type": typ,
        "content": None if typ == "del" else json.dumps(
            {"doc_id": doc_id, "text": text}
        ),
    }


def _neardup_views(spark, wh):
    from dat_archive_map_reduce_spark.operators.dedup import (
        doc_text_map,
        minhash_band_map,
    )

    db = MapReduce(spark, wh)
    db.define("bands", path="/docs/*.json", map=minhash_band_map(),
              key_schema=["long", "string"])
    db.define("texts", path="/docs/*.json", map=doc_text_map,
              key_schema=["long"])
    return db


def _view_pairs(db):
    from dat_archive_map_reduce_spark.operators.dedup import view_minhash_pairs

    return {
        (r.id_a, r.id_b)
        for r in view_minhash_pairs(db, "bands", "texts").collect()
    }


def test_streaming_neardup_ingest_equals_batch(spark, tmp_path):
    """Near-dup ingestion as engine views must find exactly the
    one-shot portable MinHash pipeline's verified pair set: docs
    arrive in two appends, each drained by watch, and the pairs are
    read from the band and text views."""
    from dat_archive_map_reduce_spark.operators.dedup import portable_minhash_pairs

    docs = load_table(spark, SF, "documents").select("doc_id", "text").cache()
    db = _neardup_views(spark, str(tmp_path / "wh"))
    rows = [(r.doc_id, r.text) for r in docs.collect()]
    for half in (0, 1):
        db.append_changes(
            [_doc_row(i, t, half + 1) for i, t in rows if i % 2 == half]
        )
        W.watch_until_caught_up(db)
    got = _view_pairs(db)
    want = {
        (r.id_a, r.id_b)
        for r in portable_minhash_pairs(docs, "text", "doc_id").collect()
    }
    assert got == want
    assert len(want) > 0
    db.close()


def test_neardup_views_retract_updated_and_deleted_docs(spark, tmp_path):
    """Re-putting a document so it no longer matches its partner, and
    deleting a document, each remove the affected pairs."""
    db = _neardup_views(spark, str(tmp_path / "wh"))
    a = "the quick brown fox jumps over the lazy dog near the river bank"
    b = "a completely different sentence about spark streaming and views"
    db.append_changes([
        _doc_row(1, a, 1), _doc_row(2, a, 1), _doc_row(3, b, 1),
        _doc_row(4, b + " today", 1), _doc_row(5, "unrelated short note here", 1),
    ])
    W.watch_until_caught_up(db)
    assert _view_pairs(db) == {(1, 2), (3, 4)}
    db.append_changes([_doc_row(2, "nothing in common with any other text", 2)])
    W.watch_until_caught_up(db)
    assert _view_pairs(db) == {(3, 4)}
    db.append_changes([_doc_row(4, None, 3, typ="del")])
    W.watch_until_caught_up(db)
    assert _view_pairs(db) == set()
    db.close()


def test_stream_static_enrichment_equals_batch(spark, tmp_path):
    """Stream-static join (dimension enrichment): a streaming fact
    joined to a STATIC dimension — the standard streaming-ETL shape
    (no watermark needed on the static side; Spark re-plans the static
    relation per micro-batch). The enriched stream must equal the
    batch join on the same data."""
    events = load_table(spark, SF, "events")
    dim = events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("user_events"),
        F.round(F.avg("value"), 6).alias("user_avg"),
    )

    def enrich(df):
        return (
            df.join(dim, "user_id")
            .select(
                "event_id",
                "user_id",
                "user_events",
                (F.round(F.col("value"), 6) - F.col("user_avg")).alias("delta"),
            )
            .select(
                "event_id", "user_id", "user_events", F.round("delta", 4).alias("delta")
            )
        )

    src = str(tmp_path / "events_src")
    events.write.parquet(src)
    out = str(tmp_path / "out")
    W.run_stream_over_directory(
        spark, src, str(tmp_path / "ckpt"), out, enrich, events.schema,
        output_mode="append",
    )
    streamed = spark.read.option("recursiveFileLookup", "true").parquet(out)
    batch = enrich(events)
    assert streamed.count() == batch.count() == events.count()
    assert streamed.exceptAll(batch).count() == 0
    assert batch.exceptAll(streamed).count() == 0


def test_index_with_retry_loop_finds_late_source(spark, tmp_path):
    """The reference's onFailInitialIndex loop (indexer.js:309-340):
    index a source that does not exist yet, keep re-probing on an
    interval, and complete the index when data appears — events fire
    missing -> found, and the view is queryable afterward."""
    import json
    import threading

    from dat_archive_map_reduce_spark.engine import MapReduce

    log = []
    db = MapReduce(spark, str(tmp_path / "wh-retry"), listeners={
        "archive-missing": [lambda **kw: log.append("missing")],
        "archive-found": [lambda **kw: log.append("found")],
    })
    db.define("v", path="/*.json", map=map_first, key_schema=["string"])

    def _arrives_late():
        import time

        time.sleep(0.4)
        db.append_changes([
            {"origin": "dat://late", "pathname": "/a.json", "version": 1,
             "content": json.dumps({"first": "late1"})},
        ])

    t = threading.Thread(target=_arrives_late)
    t.start()
    found = db.index_with_retry("dat://late", retry_interval=0.2, max_retries=50)
    t.join()
    assert found
    assert log and log[0] == "missing" and "found" in log
    assert db.get("v", "late1") == {"key": "late1", "value": ["dat://late/a.json"]}
    # exhausted retries on a source that never shows up -> False
    assert db.index_with_retry("dat://never", retry_interval=0.01, max_retries=2) is False


def test_streaming_heavy_hitters_bounded_state_finds_heavies(spark, tmp_path):
    """Streaming MG contract across micro-batches: planted heavy tokens
    (far above the per-shard survival bound) are present in the LAST
    emitted summary of their shard; no shard's summary ever exceeds the
    slot budget; and the summary lower-bound counters never exceed the
    true counts."""
    import random

    rng = random.Random(3)
    slots, shards = 8, 4
    heavy = {"alpha": 400, "beta": 300}
    rows = [(t,) for t, n in heavy.items() for _ in range(n)]
    rows += [(f"noise{rng.randrange(2000)}",) for _ in range(600)]
    rng.shuffle(rows)
    indexed = [(i, t) for i, (t,) in enumerate(rows)]
    df = spark.createDataFrame(indexed, "idx long, token string")
    src = str(tmp_path / "src")
    # three deterministic index-range files -> maxFilesPerTrigger=1
    # forces >= 3 micro-batches (duplicate tokens survive the split:
    # a set-op split would silently dedup them)
    third = len(rows) // 3
    df.filter(F.col("idx") < third).select("token").write.parquet(f"{src}/a.parquet")
    df.filter((F.col("idx") >= third) & (F.col("idx") < 2 * third)).select(
        "token"
    ).write.parquet(f"{src}/b.parquet")
    df.filter(F.col("idx") >= 2 * third).select("token").write.parquet(
        f"{src}/c.parquet"
    )
    df = df.select("token")

    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    emitted = []

    def _sink(batch_df, batch_id):
        emitted.extend((batch_id, r) for r in batch_df.collect())

    q = (
        W.streaming_heavy_hitters(stream, slots=slots, shards=shards)
        .writeStream.foreachBatch(_sink)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    assert len({b for b, _ in emitted}) >= 2, "stream must run multiple batches"
    last_batch_per_shard = {}
    for b, r in emitted:
        s = r["shard"]
        if s not in last_batch_per_shard or b > last_batch_per_shard[s]:
            last_batch_per_shard[s] = b
    final = [
        r for b, r in emitted if b == last_batch_per_shard[r["shard"]]
    ]
    per_shard = {}
    for r in final:
        per_shard.setdefault(r["shard"], []).append(r)
    for s, rs in per_shard.items():
        assert len(rs) <= slots
    candidates = {r["token"]: r["counter"] for r in final}
    for t, n in heavy.items():
        assert t in candidates, f"heavy token {t} evicted"
        assert candidates[t] <= n  # MG counters are lower bounds


def test_stream_stream_interval_join_left_outer_equals_batch(spark, tmp_path):
    """leftOuter stream-stream interval join: unmatched purchases emit
    null click columns once the right watermark passes their match
    window. A finite stream withholds tail outer rows (the watermark
    never passes them), so the right side carries a far-future
    watermark-pusher row; with it, streaming output equals the batch
    left join exactly (pusher filtered from both sides)."""
    events = load_table(spark, SF, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("l_event_id"),
        F.col("user_id").alias("l_user_id"),
        F.col("ts").alias("l_ts"),
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("r_event_id"),
        F.col("user_id").alias("r_user_id"),
        F.col("ts").alias("r_ts"),
    )
    batch = {
        (r["l_event_id"], r["r_event_id"])
        for r in W.stream_stream_interval_join(
            purchases, clicks, on="user_id", upper_seconds=3600, how="leftOuter"
        ).collect()
    }
    outer_only = {p for p in batch if p[1] is None}
    assert outer_only, "fixture must contain unmatched purchases"

    # watermark pushers on BOTH sides: the outer-eviction watermark is
    # the MIN across streams, so a right-only pusher leaves left state
    # within 2h of the left max timestamp buffered forever
    r_pusher = spark.createDataFrame(
        [(int(-1), int(-1))], "r_event_id long, r_user_id long"
    ).withColumn("r_ts", F.expr("timestamp'2030-01-01 00:00:00'"))
    l_pusher = spark.createDataFrame(
        [(int(-2), int(-2))], "l_event_id long, l_user_id long"
    ).withColumn("l_ts", F.expr("timestamp'2030-01-01 00:00:00'"))
    psrc, csrc = str(tmp_path / "p"), str(tmp_path / "c")
    purchases.select("l_event_id", "l_user_id", "l_ts").unionByName(l_pusher).write.parquet(psrc)
    clicks.select("r_event_id", "r_user_id", "r_ts").unionByName(r_pusher).write.parquet(csrc)

    joined = W.stream_stream_interval_join(
        spark.readStream.schema(purchases.schema).parquet(psrc),
        spark.readStream.schema(clicks.schema).parquet(csrc),
        on="user_id",
        upper_seconds=3600,
        how="leftOuter",
    )
    got = []

    def _sink(batch_df, batch_id):
        got.extend(
            (r["l_event_id"], r["r_event_id"])
            for r in batch_df.collect()
            if r["l_event_id"] != -2
            and (r["r_event_id"] is None or r["r_event_id"] != -1)
        )

    def _drain():
        q = (
            joined.writeStream.foreachBatch(_sink)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # two drains sharing one checkpoint: outer rows flush when a batch
    # STARTS with the watermark already advanced — the pusher raises it
    # at the end of drain 1, drain 2's (no-data) batch emits the tail
    _drain()
    _drain()
    assert set(got) == batch
    assert len(got) == len(batch)


def test_streaming_cms_equals_batch_sketch_exactly(spark, tmp_path):
    """CMS counters just add, so the streamed sketch must equal the
    batch-built sketch EXACTLY after the last micro-batch — per (row,
    bucket) — not merely within bounds (the strongest stream/batch
    equivalence in the suite). Also: no row may exceed its width."""
    import random

    rng = random.Random(7)
    rows = [(f"tok{rng.randrange(300)}",) for _ in range(900)]
    rows += [("heavy",)] * 100
    rng.shuffle(rows)
    indexed = [(i, t) for i, (t,) in enumerate(rows)]
    df = spark.createDataFrame(indexed, "idx long, token string")
    src = str(tmp_path / "src")
    third = len(rows) // 3
    df.filter(F.col("idx") < third).select("token").write.parquet(f"{src}/a.parquet")
    df.filter((F.col("idx") >= third) & (F.col("idx") < 2 * third)).select(
        "token"
    ).write.parquet(f"{src}/b.parquet")
    df.filter(F.col("idx") >= 2 * third).select("token").write.parquet(
        f"{src}/c.parquet"
    )

    stream = (
        spark.readStream.schema("token string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    emitted = []

    def _sink(batch_df, batch_id):
        emitted.extend((batch_id, r) for r in batch_df.collect())

    q = (
        W.streaming_cms(stream, depth=4, width_hex=2)
        .writeStream.foreachBatch(_sink)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len({b for b, _ in emitted}) >= 2, "stream must run multiple batches"

    # latest emission per row = the final streamed sketch
    last_batch_per_row = {}
    for b, r in emitted:
        last_batch_per_row[r["r"]] = max(last_batch_per_row.get(r["r"], -1), b)
    streamed = {
        (r["r"], r["bucket"]): r["c"]
        for b, r in emitted
        if b == last_batch_per_row[r["r"]]
    }

    # batch sketch over the same rows, same native bucketing
    batch = spark.read.parquet(src + "/*")
    hashed = batch.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(3)),
                lambda i: F.struct(
                    i.cast("int").alias("r"),
                    F.substring(
                        F.md5(F.concat(F.lit("cms"), i.cast("string"),
                                       F.lit(":"), F.col("token"))),
                        1, 2,
                    ).alias("bucket"),
                ),
            )
        ).alias("x")
    ).groupBy(F.col("x.r").alias("r"), F.col("x.bucket").alias("bucket")).agg(
        F.count(F.lit(1)).alias("c")
    )
    want = {(r["r"], r["bucket"]): r["c"] for r in hashed.collect()}
    assert streamed == want
    per_row = {}
    for (r, _b), _c in streamed.items():
        per_row[r] = per_row.get(r, 0) + 1
    assert all(v <= 256 for v in per_row.values())


def test_watch_changelog_expiry_cadence(spark, tmp_path):
    """In-stream changelog retention: with changelog_expire_every=1,
    repeated drains compact each origin's raw CDC down to latest-wins
    winners + unprocessed tail, while the maintained state stays
    identical and later drains converge (the compacted copies are
    re-delivered once and re-apply as idempotent merges)."""
    db = MapReduce(spark, str(tmp_path / "wh"))
    db.define("multi", path="/multi/*.json", map=map_first, key_schema=["string"])
    db.define("multi-reduced", path="/multi/*.json", map=map_origin_one,
              reduce="count", key_schema=["string"])
    for version in range(1, 5):  # four drains = four merge cycles
        db.append_changes(rows_for(0, version=version, suffix=f"v{version}"))
        q = W.watch(db, changelog_expire_every=1)
        q.awaitTermination()
    # raw CDC: 4 generations x 3 files = 12 rows appended; retention
    # holds the log at (winners per live file) + at most one
    # re-delivered compaction's worth of duplicates
    n_log = db.changelog.read().count()
    assert n_log <= 6, f"changelog kept {n_log} rows after expiry"
    # state identical to an uncompacted replay
    assert db.get("multi", "first0v4") is not None
    assert db.get("multi", "first0v3") is None
    assert db.get("multi-reduced", "dat://w0") == {"key": "dat://w0", "value": 2}
    # and a fresh late view over the compacted log still reconstructs
    db.define("late", path="/multi/*.json", map=map_first, key_schema=["string"])
    db.index("dat://w0")
    assert {r["key"] for r in db.list("late")} == {r["key"] for r in db.list("multi")}
    db.close()


def test_watch_expiry_survives_listed_backlog(spark, tmp_path):
    """An in-stream expiry must not kill the stream when the file
    source holds a listed-but-undelivered backlog: with >64 changelog
    files in one availableNow drain (maxFilesPerTrigger=64 -> multiple
    batches over ONE up-front listing) and changelog_expire_every=1,
    the expiry after batch 1 rewrites the origin partition and DELETES
    files batch 2 has already listed. ignoreMissingFiles on the stream
    read keeps the drain alive; the deleted files' surviving rows ride
    the compacted copies, which the next drain re-applies idempotently
    — final state must equal the plain batch index of the same log."""
    db = MapReduce(spark, str(tmp_path / "wh-backlog"))
    db.define("v", path="/d/*.json", map=map_first, key_schema=["string"])
    origin = "dat://backlog"
    rec = lambda k, v: json.dumps({"first": k, "second": v, "third": "t"})
    # 80 separate appends -> >= 80 parquet files in one origin
    # partition, guaranteeing a second 64-capped micro-batch whose
    # files the post-batch-1 expiry deletes from under the listing
    for v in range(1, 81):
        db.append_changes([
            {"origin": origin, "pathname": f"/d/{v % 7}.json", "version": v,
             "content": rec(f"k{v % 7}-v{v}", v)}
        ])
    q = W.watch(db, changelog_expire_every=1)
    q.awaitTermination()  # would raise FileNotFoundException pre-fix
    # second drain re-applies the re-delivered compacted copies
    q2 = W.watch(db, changelog_expire_every=1)
    q2.awaitTermination()
    # latest-wins state: each of the 7 paths holds its highest version
    expect = {}
    for v in range(1, 81):
        expect[v % 7] = f"k{v % 7}-v{v}"
    got = {r["key"]: r for r in db.list("v")}
    assert set(got) == set(expect.values())
    # and the log actually shrank to winners + at most one
    # re-delivered compaction generation
    assert db.changelog.read().count() <= 14
    db.close()


def test_watch_rebucket_cadence_mid_stream(spark, tmp_path):
    """Auto-rebucket from the watch cadence (r11 verdict #2): a hot
    origin crossing the mean-bucket-size threshold MID-STREAM (>64
    changelog files -> multiple micro-batches in ONE availableNow
    drain, rebucket_every=1 with a tiny threshold) doubles its
    entries layout between batches without stopping the stream.
    Afterwards: the layout invariant holds at the NEW count, the
    state equals a plain batch index of the same log, and the next
    merge is incremental against the NEW layout (untouched buckets
    hardlink, the touched one rewrites)."""
    import os
    import zlib

    from test_view_engine import _bucket_membership_ok

    from dat_archive_map_reduce_spark.sources.files import changelog_from_rows

    wh = str(tmp_path / "wh-rb")
    db = MapReduce(spark, wh, entries_buckets=2)
    db.define("v", path="/d/*.json", map=map_first, key_schema=["string"])
    origin = "dat://hot"
    n_files = 72  # > the 64-file trigger cap -> >= 2 micro-batches
    db.changelog.append(
        changelog_from_rows(spark, [
            {"origin": origin, "pathname": f"/d/{i}.json", "version": 1,
             "content": json.dumps(
                 {"first": f"k{i}", "second": i, "third": "t" * 64})}
            for i in range(n_files)
        ]),
        max_records_per_file=1,
    )
    batches = []
    q = W.watch(db, on_batch=lambda bid, n: batches.append(bid),
                rebucket_every=1, rebucket_bytes=1024)
    q.awaitTermination()
    assert len(batches) >= 2, "setup must span multiple micro-batches"
    store = db._entries_table("v", origin)
    n_new = store.n_buckets
    assert n_new > 2, "threshold crossing must have doubled the layout"
    assert n_new % 2 == 0
    assert _bucket_membership_ok(store)
    # converges to the batch-indexed twin state
    db2 = MapReduce(spark, str(tmp_path / "wh-batch"), entries_buckets=2)
    db2.define("v", path="/d/*.json", map=map_first, key_schema=["string"])
    db2.append_changes([
        {"origin": origin, "pathname": f"/d/{i}.json", "version": 1,
         "content": json.dumps(
             {"first": f"k{i}", "second": i, "third": "t" * 64})}
        for i in range(n_files)
    ])
    db2.index(origin)
    assert db.list("v") == db2.list("v")
    # merges after the mid-stream migration: incremental against the
    # NEW layout (hardlink proof, the test_rebucket_migration shape)
    v_pre = store._current()

    def inodes(v):
        out = {}
        for b in range(n_new):
            d = store._bucket_dir(v, b)
            if os.path.isdir(d):
                out[b] = {
                    nm: os.stat(os.path.join(d, nm)).st_ino
                    for nm in os.listdir(d) if nm.endswith(".parquet")
                }
        return out

    pre = inodes(v_pre)
    url = f"{origin}/d/7.json"
    hot = zlib.crc32(url.encode()) % n_new
    db.append_changes([
        {"origin": origin, "pathname": "/d/7.json", "version": 2,
         "content": json.dumps({"first": "k7x", "second": 7, "third": "t"})}
    ])
    q2 = W.watch(db)
    q2.awaitTermination()
    post = inodes(store._current())
    for b, files in pre.items():
        if b == hot:
            assert not (set(files.values()) & set(post.get(b, {}).values()))
        else:
            assert post[b] == files, f"bucket {b} was rewritten, not hardlinked"
    assert db.get("v", "k7") is None
    assert db.get("v", "k7x") is not None
    db.close()


def test_watch_maintenance_composition_under_stream(spark, tmp_path):
    """The three in-stream maintenance mutations COMPOSED (r11 verdict
    #5): rebucket_every=1 x vacuum_every=1 x changelog_expire_every=1
    all firing at every batch boundary of a multi-batch drain (>64
    files -> a listed-but-undelivered backlog exists while expiry
    deletes and rebucket flips snapshots), then a second drain over
    the re-delivered compacted copies. Final state must equal a plain
    batch index of the same updates, history must stay bounded, and
    the layout invariant must hold at the evolved bucket count."""
    import glob as g

    from test_view_engine import _bucket_membership_ok

    wh = str(tmp_path / "wh-compose")
    db = MapReduce(spark, wh, entries_buckets=2)
    db.define("v", path="/d/*.json", map=map_first, key_schema=["string"])
    db.define("v-reduced", path="/d/*.json", map=map_origin_one,
              reduce="count", key_schema=["string"])
    origin = "dat://compose"
    rec = lambda k, v: json.dumps(
        {"first": k, "second": v, "third": "t" * 64})
    # 80 separate appends -> >= 80 files in one origin partition:
    # guarantees a second 64-capped micro-batch whose listed files
    # the post-batch-1 expiry deletes and whose shard the rebucket
    # migrates, all under the live stream
    for v in range(1, 81):
        db.append_changes([
            {"origin": origin, "pathname": f"/d/{v % 7}.json", "version": v,
             "content": rec(f"k{v % 7}-v{v}", v)}
        ])
    q = W.watch(db, vacuum_every=1, vacuum_keep=2,
                changelog_expire_every=1,
                rebucket_every=1, rebucket_bytes=1024)
    q.awaitTermination()
    q2 = W.watch(db, vacuum_every=1, vacuum_keep=2,
                 changelog_expire_every=1,
                 rebucket_every=1, rebucket_bytes=1024)
    q2.awaitTermination()
    # state: latest-wins per path, identical to the batch twin
    db2 = MapReduce(spark, str(tmp_path / "wh-compose-batch"),
                    entries_buckets=2)
    db2.define("v", path="/d/*.json", map=map_first, key_schema=["string"])
    db2.define("v-reduced", path="/d/*.json", map=map_origin_one,
               reduce="count", key_schema=["string"])
    db2.append_changes([
        {"origin": origin, "pathname": f"/d/{v % 7}.json", "version": v,
         "content": rec(f"k{v % 7}-v{v}", v)}
        for v in range(1, 81)
    ])
    db2.index(origin)
    assert db.list("v") == db2.list("v")
    assert db.list("v-reduced") == db2.list("v-reduced")
    # layout evolved and stayed consistent
    store = db._entries_table("v", origin)
    assert store.n_buckets > 2
    assert _bucket_membership_ok(store)
    # history bounded by the vacuum cadence
    # warehouse-wide: entries stores live under stores/ (shared, r15)
    # as well as views/ (reduced + legacy), offsets at the root
    for manifest in g.glob(str(tmp_path / "wh-compose" / "**" /
                               "_manifest.json"), recursive=True):
        import os
        root = os.path.dirname(manifest)
        versions = [d for d in os.listdir(root)
                    if d.startswith("v") and d[1:].isdigit()]
        assert len(versions) <= 2, f"{root} kept {sorted(versions)}"
    # changelog shrank to winners + at most one re-delivered
    # compaction generation
    assert db.changelog.read().count() <= 14
    db.close()


def test_onejob_multi_origin_merge_semantics(spark, tmp_path):
    """The one-job multi-origin watch merge (r11 verdict #3) must be
    indistinguishable from per-origin merges: retraction by put and
    del across origins in ONE batch, untouched buckets hardlinked, a
    fully-retracted bucket left EMPTY (not stale-hardlinked), and a
    shard carrying a divergent bucket count (post-rebucket) joining
    the same write, bucketed by its own count. State is pinned
    against a batch-indexed twin after every phase."""
    import os
    import zlib

    from test_view_engine import _bucket_membership_ok

    N = 4
    origins = ["dat://a", "dat://b", "dat://c"]

    def rec(k):
        return json.dumps({"first": k, "second": 1, "third": "t"})

    # pick b's victim pathname so its bucket holds ONLY that file's
    # rows: b's three base files cover at most 3 of the 4 buckets, so
    # a candidate landing in a free bucket always exists
    import zlib as _z

    base_buckets = {_z.crc32(f"dat://b/d/{j}.json".encode()) % N
                    for j in range(3)}
    solo = next(f"solo{i}" for i in range(100)
                if _z.crc32(f"dat://b/d/solo{i}.json".encode()) % N
                not in base_buckets)

    def v1_rows():
        rows = [
            {"origin": o, "pathname": f"/d/{i}.json", "version": 1,
             "content": rec(f"{o[-1]}k{i}")}
            for o in origins for i in range(8) if not (o == "dat://b" and i > 2)
        ]
        rows.append({"origin": "dat://b", "pathname": f"/d/{solo}.json",
                     "version": 1, "content": rec(f"bk{solo}")})
        return rows

    db = MapReduce(spark, str(tmp_path / "wh"), entries_buckets=N)
    db.define("v", path="/d/*.json", map=map_first, key_schema=["string"])
    dbb = MapReduce(spark, str(tmp_path / "wh-batch"), entries_buckets=N)
    dbb.define("v", path="/d/*.json", map=map_first, key_schema=["string"])

    # phase 1: multi-origin first index through the one-job path
    db.append_changes(v1_rows())
    W.watch_until_caught_up(db)
    dbb.append_changes(v1_rows())
    for o in origins:
        dbb.index(o)
    assert db.list("v") == dbb.list("v")
    for o in origins:
        assert _bucket_membership_ok(db._entries_table("v", o))

    # phase 2: ONE batch rewriting a file in a, deleting b's solo
    # file — its bucket holds ONLY that file's rows, so it must come
    # out EMPTY, not hardlinked stale
    url_of = lambda o, i: f"{o}/d/{i}.json"
    b_of = lambda u: zlib.crc32(u.encode()) % N
    victim = solo
    upd = [
        {"origin": "dat://a", "pathname": "/d/3.json", "version": 2,
         "content": rec("ak3x")},
        {"origin": "dat://b", "pathname": f"/d/{victim}.json",
         "version": 2, "type": "del", "content": None},
    ]
    store_a = db._entries_table("v", "dat://a")
    store_c = db._entries_table("v", "dat://c")
    va, vc = store_a._current(), store_c._current()

    def inodes(store, v):
        out = {}
        for b in range(N):
            d = store._bucket_dir(v, b)
            if os.path.isdir(d):
                out[b] = {os.stat(f"{d}/{nm}").st_ino
                          for nm in os.listdir(d) if nm.endswith(".parquet")}
        return out

    pre_a = inodes(store_a, va)
    db.append_changes(upd)
    W.watch_until_caught_up(db)
    dbb.append_changes(upd)
    dbb.index("dat://a")
    dbb.index("dat://b")
    assert db.list("v") == dbb.list("v")
    assert db.get("v", "ak3") is None and db.get("v", "ak3x") is not None
    assert db.get("v", f"bk{victim}") is None
    # untouched origin c: no new snapshot at all
    assert store_c._current() == vc
    # origin a: only the hot bucket rewritten, others hardlinked
    hot_a = b_of(url_of("dat://a", 3))
    post_a = inodes(store_a, store_a._current())
    for b, inos in pre_a.items():
        if b == hot_a:
            assert not (inos & post_a.get(b, set()))
        else:
            assert post_a[b] == inos
    # origin b: the victim's bucket is now EMPTY in the new snapshot
    store_b = db._entries_table("v", "dat://b")
    vb = store_b._current()
    victim_bucket_dir = store_b._bucket_dir(vb, b_of(url_of("dat://b", victim)))
    pq = [f for f in os.listdir(victim_bucket_dir)
          if f.endswith(".parquet")] if os.path.isdir(victim_bucket_dir) else []
    assert not pq, "fully-retracted bucket must not carry stale rows"

    # phase 3: rebucket a's shard to a DIVERGENT count -> the next
    # multi-origin batch writes a's rows at a's own count in the same
    # job and must still converge, keeping a's pinned count
    db.rebucket_entries(8, views=["v"], origins=["dat://a"])
    upd3 = [
        {"origin": "dat://a", "pathname": "/d/5.json", "version": 3,
         "content": rec("ak5x")},
        {"origin": "dat://c", "pathname": "/d/2.json", "version": 3,
         "content": rec("ck2x")},
    ]
    db.append_changes(upd3)
    W.watch_until_caught_up(db)
    dbb.append_changes(upd3)
    dbb.index("dat://a")
    dbb.index("dat://c")
    assert db.list("v") == dbb.list("v")
    assert db._entries_table("v", "dat://a").n_buckets == 8
    assert _bucket_membership_ok(db._entries_table("v", "dat://a"))
    assert _bucket_membership_ok(db._entries_table("v", "dat://c"))
    db.close()
    dbb.close()


def test_streaming_contamination_equals_batch(spark, tmp_path):
    """Streaming contamination gate (r11 verdict #8): documents
    streamed past a STATIC broadcast blocklist of banned shingle
    fingerprints flag EXACTLY the documents the batch call flags —
    same op, both modes. The blocklist derives from a slice of the
    corpus itself (guaranteed hits) plus the shared
    truncated_shingle_fps definition, so gate and offline scan agree
    on what a hit is. Also pins the negative: a clean-corpus stream
    emits nothing."""
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    protected = docs.filter(F.col("doc_id") % 37 == 0)
    blocklist = W.blocklist_fingerprints(protected).cache()
    assert blocklist.count() > 0

    batch = {
        (r["doc_id"], r["n_hits"], tuple(r["hit_fps"]))
        for r in W.streaming_contamination(docs, blocklist).collect()
    }
    assert batch, "the protected slice must self-flag"
    # every protected doc long enough to HAVE a 5-gram flags itself
    expected_self = {
        r["doc_id"]
        for r in protected.filter(F.size(F.split("text", " ")) >= 5).collect()
    }
    assert {d for d, *_ in batch} >= expected_self

    src = str(tmp_path / "docs_src")
    docs.write.parquet(src)
    out = str(tmp_path / "out")
    W.run_stream_over_directory(
        spark,
        src,
        str(tmp_path / "ckpt"),
        out,
        lambda df: W.streaming_contamination(df, blocklist),
        docs.schema,
        output_mode="complete",
    )
    streamed = {
        (r["doc_id"], r["n_hits"], tuple(r["hit_fps"]))
        for r in spark.read.parquet(out).collect()
    }
    assert streamed == batch
    # negative control: stream a corpus disjoint from the blocklist
    clean = docs.filter(F.col("doc_id") % 37 != 0).limit(50).select(
        "doc_id", F.sha2(F.col("text"), 256).alias("text"))
    src2 = str(tmp_path / "clean_src")
    clean.write.parquet(src2)
    out2 = str(tmp_path / "out2")
    W.run_stream_over_directory(
        spark, src2, str(tmp_path / "ckpt2"), out2,
        lambda df: W.streaming_contamination(df, blocklist),
        clean.schema, output_mode="complete",
    )
    import glob as _g
    files = _g.glob(out2 + "/*.parquet")
    assert not files or spark.read.parquet(out2).count() == 0
    blocklist.unpersist()


def test_count_delta_reaggregation_exactly_once(spark, tmp_path, monkeypatch):
    """The r12 count-delta re-aggregation path: a watch drain over a
    reduce='count' view must (1) land the identical state as a
    batch-indexed twin (delta == refold, integers), (2) stamp the
    checkpointed batch token into the reduced manifest, (3) SKIP a
    replay of an already-applied token (exactly-once), and (4) heal
    the crash window where the reduced table committed but the
    entries merges did not — the replayed batch re-runs the merges
    idempotently while the token guard keeps the delta from
    double-applying."""
    wh = str(tmp_path / "wh-delta")
    db = MapReduce(spark, wh)
    db.define("k", path="/d/*.json", map=map_first, key_schema=["string"])
    db.define("kc", path="/d/*.json", map=map_first, reduce="count",
              key_schema=["string"])
    rows = [
        {"origin": f"dat://c{i % 2}", "pathname": f"/d/{i}.json",
         "version": 1,
         "content": json.dumps({"first": f"key{i % 5}", "second": i,
                                "third": "t"})}
        for i in range(20)
    ]
    db.append_changes(rows)
    W.watch_until_caught_up(db)
    red = db._reduced_table("kc")
    tok1 = red.manifest_meta().get("batch_token")
    assert tok1 is not None, "watch drain must stamp the batch token"
    # (1) state equals the batch twin (whose reagg takes the refold path)
    dbb = MapReduce(spark, str(tmp_path / "wh-delta-b"))
    dbb.define("kc", path="/d/*.json", map=map_first, reduce="count",
               key_schema=["string"])
    dbb.append_changes(rows)
    dbb.index("dat://c0")
    dbb.index("dat://c1")
    assert db.list("kc") == dbb.list("kc")

    # (3) replaying the SAME token is a no-op even with a bogus delta,
    # on executors and on the driver
    v_before = red._current()
    bogus = db._entries_table("kc", "dat://c0").read()  # nonzero rows
    got = db._fold_delta(
        db._view("kc"), tok1, None, db._net_delta(bogus, None), [],
    )
    assert got == ([], None), "replayed token must skip"
    rows_b = [{"key": "key0", "key_json": '"key0"', "value": "0", "dc": 3}]
    assert db._fold_delta(db._view("kc"), tok1, rows_b) == ([], None)
    assert red._current() == v_before

    # (2)+(4) crash window: v2 updates — commit the reduced delta with
    # a new token but 'crash' before the entries merges, then replay
    # the whole batch through _apply_store_batch with the same token
    upd_rows = [
        {"origin": "dat://c0", "pathname": "/d/0.json", "version": 2,
         "content": json.dumps({"first": "keyX", "second": 0,
                                "third": "t"})}
    ]
    from dat_archive_map_reduce_spark.operators.map_reduce import run_map
    from dat_archive_map_reduce_spark.sources.files import (
        changelog_from_rows,
        glob_filter,
        latest_wins,
    )

    vdef = db._view("kc")
    upd = latest_wins(
        glob_filter(changelog_from_rows(spark, upd_rows), vdef.path)
    ).cache()
    new_e = run_map(
        upd.filter(F.col("type") == "put"), vdef.map, vdef.key_types()
    ).cache()
    counts = {"dat://c0": 1}
    buckets = {"dat://c0": sorted(
        r["b"] for r in upd.select(
            db._entries_table("kc", "dat://c0").bucket_expr("url").alias("b")
        ).distinct().collect())}
    tok2 = 999_001
    from dat_archive_map_reduce_spark.plans.catalog import (
        stack_targets,
        write_bucketed,
    )

    cached = []
    pairs, _probe = db._fold_delta(
        vdef, tok2, None,
        db._net_delta(new_e, db._merge_entries(vdef, upd, new_e, buckets)[0]),
        cached,
    )
    assert [t.table.root for t, _df in pairs] == [red.root]
    commit, _cancel, _hit = write_bucketed(
        [t for t, _df in pairs], stack_targets([df for _t, df in pairs]),
        ["key_json"], staging_dir=wh,
    )
    commit()
    for df in cached:
        df.unpersist()
    assert red.manifest_meta()["batch_token"] == tok2
    # crash happened here: reduced reflects v2, entries still v1.
    # replay of the full batch with the same token, with the fold on
    # executors (every delta past the driver limit):
    monkeypatch.setattr(MapReduce, "_DELTA_DRIVER_LIMIT", 0)
    db._apply_store_batch(
        [vdef], (upd, counts, buckets), new_e, batch_token=tok2,
    )
    monkeypatch.undo()
    upd.unpersist()
    new_e.unpersist()
    # final state equals a batch twin that saw v1+v2
    dbb.append_changes(upd_rows)
    dbb.index("dat://c0")
    assert db.list("kc") == dbb.list("kc")
    assert db.get("kc", "keyX") == {"key": "keyX", "value": 1}
    db.close()
    dbb.close()


def test_two_level_layout_count_delta_rebucket_integration(spark, tmp_path):
    """The three r12 features COMPOSED: an engine on the two-level
    origin_hash= changelog layout, maintaining a reduce='count' view
    (delta re-aggregation path) under the watch cadence with
    rebucket_every firing a mid-stream bucket migration — final
    state must equal a flat-layout batch-indexed twin, the layout
    must have evolved, and a follow-up incremental drain must stay
    correct against the migrated layout."""
    from test_view_engine import _bucket_membership_ok

    wh = str(tmp_path / "wh-i12")
    db = MapReduce(spark, wh, entries_buckets=2, changelog_hash_levels=1)
    db.define("k", path="/d/*.json", map=map_first, key_schema=["string"])
    db.define("kc", path="/d/*.json", map=map_first, reduce="count",
              key_schema=["string"])
    origins = [f"dat://i{j}" for j in range(3)]
    rows = [
        {"origin": origins[i % 3], "pathname": f"/d/{i}.json", "version": 1,
         "content": json.dumps({"first": f"key{i % 9}", "second": i,
                                "third": "t" * 64})}
        for i in range(60)
    ]
    db.append_changes(rows)
    q = W.watch(db, rebucket_every=1, rebucket_bytes=1024)
    q.awaitTermination()
    # twin: flat layout, batch indexed (general refold path)
    dbb = MapReduce(spark, str(tmp_path / "wh-i12-b"), entries_buckets=2)
    dbb.define("k", path="/d/*.json", map=map_first, key_schema=["string"])
    dbb.define("kc", path="/d/*.json", map=map_first, reduce="count",
               key_schema=["string"])
    dbb.append_changes(rows)
    for o in origins:
        dbb.index(o)
    assert db.list("k") == dbb.list("k")
    assert db.list("kc") == dbb.list("kc")
    # at least one hot shard crossed the threshold and evolved
    evolved = [o for o in origins
               if db._entries_table("k", o).n_buckets > 2]
    assert evolved, "rebucket cadence never fired"
    for o in origins:
        assert _bucket_membership_ok(db._entries_table("k", o))
    # incremental drain AFTER the migration, against the new layout,
    # through the count-delta path again
    upd = [
        {"origin": origins[0], "pathname": "/d/0.json", "version": 2,
         "content": json.dumps({"first": "keyX", "second": 0,
                                "third": "t"})}
    ]
    db.append_changes(upd)
    q2 = W.watch(db, rebucket_every=1, rebucket_bytes=1024)
    q2.awaitTermination()
    dbb.append_changes(upd)
    dbb.index(origins[0])
    assert db.list("k") == dbb.list("k")
    assert db.list("kc") == dbb.list("kc")
    assert db.get("kc", "keyX") == {"key": "keyX", "value": 1}
    db.close()
    dbb.close()


def test_count_delta_interleaved_with_batch_refold(spark, tmp_path):
    """Stream (count-delta, token) -> BATCH index (general refold —
    erases the token) -> stream again (count-delta): every ordering
    must converge to the pure-batch twin. The refold recomputes from
    entries, re-aligning reduced with entries, so the next delta is
    computed against consistent state (the docstring's composition
    argument, pinned)."""
    wh = str(tmp_path / "wh-mix")
    db = MapReduce(spark, wh)
    db.define("kc", path="/d/*.json", map=map_first, reduce="count",
              key_schema=["string"])
    dbb = MapReduce(spark, str(tmp_path / "wh-mix-b"))
    dbb.define("kc", path="/d/*.json", map=map_first, reduce="count",
               key_schema=["string"])

    def add(version, keys):
        rows = [
            {"origin": "dat://m", "pathname": f"/d/{k}.json",
             "version": version,
             "content": json.dumps({"first": kk, "second": 1,
                                    "third": "t"})}
            for k, kk in keys
        ]
        db.append_changes(rows)
        dbb.append_changes(rows)

    # stream drain (delta path)
    add(1, [(i, f"a{i % 3}") for i in range(9)])
    W.watch_until_caught_up(db)
    dbb.index("dat://m")
    assert db.list("kc") == dbb.list("kc")
    red = db._reduced_table("kc")
    assert red.manifest_meta().get("batch_token") is not None
    # BATCH index in between (the delta route, with its slice token)
    add(2, [(0, "b0"), (1, "b0")])
    db.index("dat://m")
    dbb.index("dat://m")
    assert red.manifest_meta().get("batch_token", "").startswith("index:dat://m:")
    assert db.list("kc") == dbb.list("kc")
    # stream drain again (delta path against the refolded state)
    add(3, [(2, "c0"), (5, "a0")])
    W.watch_until_caught_up(db)
    dbb.index("dat://m")
    assert db.list("kc") == dbb.list("kc")
    assert db.get("kc", "b0") == {"key": "b0", "value": 2}
    db.close()
    dbb.close()
