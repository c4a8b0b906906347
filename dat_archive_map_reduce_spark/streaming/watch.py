"""Watch mode: continuous incremental view maintenance via Structured
Streaming.

The reference's watch path (/root/reference/lib/indexer.js:67-87):
subscribe to file-activity events filtered by the union of all view
globs, debounce 500 ms, then re-run the incremental index cycle.

Spark-first translation:

- file-activity stream  -> ``spark.readStream`` over the engine's
  append-only changelog directory (new parquet files = new events)
- debounce              -> micro-batch trigger (processingTime) —
  a burst of changes lands in one batch, exactly the amortization the
  debounce buys the reference
- re-index cycle        -> ``foreachBatch`` running the SAME
  maintenance cycle index() runs (engine._maintain_batch), so watch
  mode converges to the identical state as a cold re-index (the
  reference's test/view.js:187-231 equivalence contract)
- exactly-once          -> the streaming checkpoint delivers each
  changelog file once; a replayed batch re-applies idempotently (the
  merge is retract-then-add) and the exact-delta re-aggregation skips
  a batch whose lineage-scoped token its manifest already holds. The
  per-(view, origin) offsets are progress metadata, never a row
  filter.

Event-time operators (windowed aggregations over the `events` table)
live here too: tumbling / sliding / session windows with watermarks.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dat_archive_map_reduce_spark.sources.files import FILES_SCHEMA


def watch(
    engine,
    trigger: dict | None = None,
    on_batch: Callable[[int, int], None] | None = None,
    vacuum_every: int | None = None,
    vacuum_keep: int = 2,
    changelog_expire_every: int | None = None,
    rebucket_every: int | None = None,
    rebucket_bytes: int = 64 << 20,
):
    """Start continuous maintenance of all defined views.

    Returns the StreamingQuery; call ``.stop()`` to unwatch (the
    reference's unwatchArchive, lib/indexer.js:94-100). ``trigger``
    defaults to availableNow (drain-and-stop, used by tests); pass
    ``{"processingTime": "500 milliseconds"}`` for the reference's
    debounce cadence.

    ``vacuum_every``: every N processed batches, trim warehouse
    snapshot history to ``vacuum_keep`` versions per table
    (engine.vacuum) — without retention a continuous stream's
    copy-on-write merges grow history without bound, so long-running
    production watches should set this. Default None keeps every
    snapshot (full time travel, and no risk of deleting a snapshot
    directory out from under a concurrent long-running read — opt in
    with a keep_last sized to the longest concurrent reader).

    ``changelog_expire_every``: every N processed batches, compact
    the changelog itself (engine._expire_changelog_unsafe — rows at
    or below every view's offset collapse to one latest-wins winner
    per file). Safe here for TWO reasons: it runs at the batch
    boundary after the batch's merges committed, and the stream reads
    with ignoreMissingFiles — under the 64-file trigger cap the
    source can be holding a listed-but-undelivered backlog whose
    files the expiry deletes (their surviving rows ride the new
    compacted files, which the source picks up next listing), so a
    batch-boundary alone is NOT a no-listing-in-flight guarantee.
    The compacted copies are new files the stream will re-deliver
    once; re-applying them is a retract-then-add no-op (idempotent
    merge), so pick a cadence that amortizes that one wasted
    re-merge — hundreds of batches, not every few.

    ``rebucket_every``/``rebucket_bytes``: every N processed batches,
    run engine.auto_rebucket_entries(rebucket_bytes) — entries shards
    whose mean bucket size outgrew the threshold migrate to a doubled
    bucket count, keeping merge IO delta-proportional as hot origins
    grow, WITHOUT stopping the stream. Safe at the batch boundary:
    the migration is a copy-on-write snapshot flip on a table the
    stream itself never reads (the stream reads the changelog), and
    it is serialized with the merges because both run inside
    foreachBatch. A firing where nothing crossed the threshold is a
    driver-side os.walk — no Spark job — so a tens-of-batches cadence
    is fine (unlike changelog expiry's hundreds).
    """
    spark = engine.spark
    # The changelog is an AppendOnlyLog: ONE stable directory for the
    # warehouse's lifetime, so the stream keeps seeing appends no
    # matter what happens to other tables. (Streaming a VersionedTable
    # snapshot dir would go silently stale after any overwrite.)
    stream = (
        spark.readStream.schema(FILES_SCHEMA)
        .option("maxFilesPerTrigger", 64)
        # the engine is the changelog's only writer, and its two
        # retention ops (in-stream expiry below, rebucket-free
        # compaction) DELETE files whose surviving content they
        # rewrote as new files the source will pick up; with the
        # 64-file trigger cap the source can hold a listed-but-
        # undelivered backlog across batches, so a mid-backlog
        # expiry would otherwise kill the stream with
        # FileNotFoundException on a file whose rows are already
        # re-delivered elsewhere
        .option("ignoreMissingFiles", "true")
        .parquet(engine.changelog.root)
        # normalize to exactly the changelog schema: under the
        # two-level layout (hash_levels=1) Spark appends the
        # discovered origin_hash partition column, which would leak
        # into every downstream union/UDF column contract
        .select(*[f.name for f in FILES_SCHEMA.fields])
    )
    # local counter, not batch_id: checkpointed batch ids keep rising
    # across restarts, which would skew the vacuum cadence
    batch_counter = [0]

    lineage: list = []

    def _batch_token(batch_id: int) -> str:
        """Lineage-scoped exactly-once token '<query_id>:<batch_id>'
        for the exact-delta re-aggregation (engine._token_applied).
        The query id lives in the checkpoint's own metadata file, so
        it IS the checkpoint lineage: a restart from the same
        checkpoint reuses it (replays match stored tokens and skip),
        while an out-of-band checkpoint deletion mints a new id —
        the restarted stream's batch ids restart at 0 but can never
        collide with a stale stored token and silently drop a
        genuinely new batch (r12 ADVICE)."""
        if not lineage:
            import json as _json

            try:
                with open(f"{engine.warehouse}/_stream_checkpoint/metadata") as fh:
                    lineage.append(_json.load(fh)["id"])
            except (OSError, KeyError, ValueError):
                # metadata unreadable: fall back to an unscoped marker
                # (still batch-unique within the run)
                lineage.append("q")
        return f"{lineage[0]}:{batch_id}"

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        targets = engine._maintain_batch(
            batch_df,
            list(engine.views.values()),
            batch_token=_batch_token(batch_id),
        )
        if (
            vacuum_every is not None
            or changelog_expire_every is not None
            or rebucket_every is not None
        ):
            batch_counter[0] += 1
            # rebucket BEFORE vacuum so the superseded
            # pre-migration snapshot is trimmable in the same
            # firing when both cadences coincide
            if (
                rebucket_every is not None
                and batch_counter[0] % rebucket_every == 0
            ):
                engine.auto_rebucket_entries(rebucket_bytes)
            if vacuum_every is not None and batch_counter[0] % vacuum_every == 0:
                engine.vacuum(keep_last=vacuum_keep)
            if (
                changelog_expire_every is not None
                and batch_counter[0] % changelog_expire_every == 0
            ):
                engine._expire_changelog_unsafe()
        if on_batch is not None:
            on_batch(batch_id, len(targets))

    writer = (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", f"{engine.warehouse}/_stream_checkpoint")
        .outputMode("update")
    )
    if trigger is None:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(**trigger)
    q = writer.start()
    engine._active_streams.append(q)
    return q


def watch_until_caught_up(engine) -> None:
    """Drain all pending changelog files once (availableNow) and block
    until done — the deterministic form of watch used by tests."""
    q = watch(engine)
    q.awaitTermination()


# ---------------------------------------------------------------------
# Event-time windowed aggregation (streaming + batch-equivalent forms)
# ---------------------------------------------------------------------

def _as_event_time(df: DataFrame, col: str) -> DataFrame:
    """Normalize an event-time column to TIMESTAMP (with local tz):
    watermarks reject TIMESTAMP_NTZ outright, and the testdata's
    parquet micros read as NTZ. The session timezone is pinned to UTC
    (session.py), so the cast is value-preserving. Applied in BOTH
    batch and streaming modes so stream/batch twins keep identical
    output schemas."""
    if dict(df.dtypes).get(col) == "timestamp_ntz":
        df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def windowed_counts(
    events: DataFrame,
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "2 hours",
    streaming: bool = False,
) -> DataFrame:
    """Tumbling (or sliding, if ``slide`` given) window counts per
    event_type with a late-data watermark.

    The same expression tree serves batch and streaming: in streaming
    mode the watermark bounds state (late rows beyond it are dropped);
    in batch mode it is a no-op, which is what makes the
    batch-vs-stream equivalence test meaningful.
    """
    df = _as_event_time(events, "ts")
    if streaming:
        df = df.withWatermark("ts", watermark)
    w = F.window("ts", window, slide) if slide else F.window("ts", window)
    return (
        df.groupBy(w.alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "sum_value")
    )


def session_windows(
    events: DataFrame,
    gap: str = "10 minutes",
    watermark: str = "2 hours",
    streaming: bool = False,
) -> DataFrame:
    """Session windows per user: activity bursts separated by >= gap.

    Uses native F.session_window (merging-state windows in streaming)."""
    df = _as_event_time(events, "ts")
    if streaming:
        df = df.withWatermark("ts", watermark)
    return (
        df.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
            "sum_value",
        )
    )


def run_stream_over_directory(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    out_dir: str,
    transform: Callable[[DataFrame], DataFrame],
    schema,
    output_mode: str = "complete",
) -> None:
    """Drive any event-time transform as a real stream over a parquet
    directory (availableNow), sinking to parquet via foreachBatch —
    the test harness for stream/batch equivalence. ``output_mode``:
    "complete" (aggregations; each batch overwrites with full state)
    or "append" (stateless transforms like stream-static enrichment;
    batches accumulate). Both sinks are idempotent under foreachBatch
    retries: complete mode overwrites the whole directory, append mode
    overwrites a batch_id-keyed subdirectory (a retried batch replaces
    its own partial output instead of duplicating rows — plain
    mode('append') into one directory is only at-least-once). Read
    append output with ``option("recursiveFileLookup", "true")``."""
    stream = spark.readStream.schema(schema).parquet(source_dir)
    out = transform(stream)

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if output_mode == "complete":
            batch_df.write.mode("overwrite").parquet(out_dir)
        else:
            batch_df.write.mode("overwrite").parquet(f"{out_dir}/batch-{batch_id}")

    q = (
        out.writeStream.foreachBatch(_sink)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def streaming_dedup(
    events: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming exact-dedup: keep the first row per key, with state
    bounded by the watermark.

    Batch mode: plain dropDuplicates (the watermark is a no-op), so the
    stream/batch equivalence test is meaningful. Streaming mode:
    ``dropDuplicatesWithinWatermark`` — duplicate keys arriving within
    the watermark horizon are suppressed and per-key state is evicted
    once the watermark passes, the only formulation whose state does
    NOT grow unboundedly on an infinite stream. This is the streaming
    twin of exact_dedup for continuous training-data ingestion.
    """
    events = _as_event_time(events, ts_col)
    if events.isStreaming:
        return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)
    return events.dropDuplicates(keys)


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str = "l_ts",
    right_ts: str = "r_ts",
    upper_seconds: int = 3600,
    watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream join with an event-time interval condition: pair
    rows with equal ``on`` where ``left_ts < right_ts <=
    left_ts + upper_seconds``. ``how``: "inner" or "leftOuter".

    In streaming mode both sides carry watermarks and the time-bound
    condition lets Spark evict join state: a buffered left row can be
    dropped once the right watermark passes left_ts + upper — without
    the interval bound, stream-stream state grows forever. Under
    leftOuter the SAME eviction moment is what licenses the null
    emission: a left row pairs with nulls only once no future right
    row could still match it, so outer results trail the right
    watermark by ``upper_seconds`` (tail rows of a finite stream flush
    only when a later batch advances the watermark past them — the
    equivalence test appends a watermark-pusher row for exactly this).
    The same expression tree runs in batch (watermarks no-op) for the
    equivalence test. Caller pre-renames columns so the sides don't
    collide: left columns ``l_*`` (key ``l_<on>``), right ``r_*``.
    """
    if how not in ("inner", "leftOuter"):
        raise ValueError(f"how must be 'inner' or 'leftOuter', got {how!r}")
    left = _as_event_time(left, left_ts)
    right = _as_event_time(right, right_ts)
    l = left.withWatermark(left_ts, watermark) if left.isStreaming else left
    r = right.withWatermark(right_ts, watermark) if right.isStreaming else right
    cond = (
        (F.col(f"l_{on}") == F.col(f"r_{on}"))
        & (F.col(right_ts) > F.col(left_ts))
        & (F.col(right_ts) <= F.col(left_ts) + F.expr(f"INTERVAL {upper_seconds} SECONDS"))
    )
    batch_how = "left" if how == "leftOuter" else how
    return l.join(r, cond, how if l.isStreaming else batch_how)


# ---------------------------------------------------------------------
# Custom stateful operator: applyInPandasWithState
# ---------------------------------------------------------------------

def stateful_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful streaming operator: per-user running totals
    maintained in explicit group state (applyInPandasWithState).

    What the built-in agg cannot express: the state here is an
    arbitrary Python structure updated by arbitrary code per
    micro-batch (running count, value sum, and high-water-mark
    timestamp), the shape of session scoring / per-entity model state
    in a production stream. Emits one row per user per batch with the
    post-batch totals (update-mode semantics, like the reference's
    continuously re-folded reduce views, /root/reference/lib/indexer.js:245-254).

    State is partitioned by the group key, so it scales horizontally
    with executors; memory is O(distinct users), the same bound the
    reference's reduced sublevel has.
    """
    import pandas as pd  # noqa: F811  (worker-side import)
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType(), False),
            T.StructField("n_events", T.LongType(), False),
            T.StructField("sum_value", T.DoubleType(), False),
            T.StructField("last_ts", T.TimestampType(), True),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n", T.LongType(), False),
            T.StructField("total", T.DoubleType(), False),
            T.StructField("last_us", T.LongType(), True),
        ]
    )

    def _update(key, pdfs, state: GroupState):
        n, total, last_us = state.get if state.exists else (0, 0.0, None)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
            if len(pdf):
                batch_max = pdf["ts"].max()
                us = int(batch_max.value // 1000)
                last_us = us if last_us is None else max(last_us, us)
        state.update((n, total, last_us))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "sum_value": [total],
                "last_ts": [pd.Timestamp(last_us * 1000) if last_us is not None else None],
            }
        )

    return (
        events.select("user_id", "ts", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def streaming_heavy_hitters(
    tok_rows: DataFrame,
    slots: int = 64,
    shards: int = 8,
    token_col: str = "token",
) -> DataFrame:
    """Bounded-state streaming heavy hitters: weighted Misra-Gries
    summaries held in explicit group state (applyInPandasWithState) —
    the streaming twin of operators/text.py::mg_heavy_hitters pass 1.

    Tokens shard by a stable hash (xxhash64 % shards); every
    occurrence of a token lands in the SAME shard, so each shard's MG
    summary carries the standard per-shard survival guarantee: any
    token whose count within the shard exceeds N_shard/(slots+1)
    is present in that shard's summary at every point in the stream.
    State per shard is <= ``slots`` (token, counter) entries — memory
    is O(shards * slots) forever, on an infinite stream.

    Each micro-batch emits the shard's full post-batch summary
    (update-mode semantics): (shard, token, counter, batch_n). The
    latest emission per shard IS its current summary; a periodic
    exact recount over the candidates (pass 2 of the batch operator)
    turns candidates into exact counts whenever needed.
    """
    import pandas as pd  # noqa: F811  (worker-side import)
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupState  # noqa: F401

    out_schema = T.StructType(
        [
            T.StructField("shard", T.IntegerType(), False),
            T.StructField("token", T.StringType(), False),
            T.StructField("counter", T.LongType(), False),
            T.StructField("batch_n", T.LongType(), False),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("toks", T.ArrayType(T.StringType()), False),
            T.StructField("counts", T.ArrayType(T.LongType()), False),
            T.StructField("seen", T.LongType(), False),
        ]
    )

    def _update(key, pdfs, state):
        if state.exists:
            toks, counts, seen = state.get
            st = dict(zip(toks, counts))
        else:
            st, seen = {}, 0
        for pdf in pdfs:
            vc = pdf[token_col].value_counts()
            seen += int(vc.sum())
            for tok, c in vc.items():
                st[tok] = st.get(tok, 0) + int(c)
            # weighted MG compression: while over budget, subtract the
            # minimum counter from everyone and drop the zeros — each
            # pass evicts >= 1 entry, so this terminates in <= len(st)
            while len(st) > slots:
                d = min(st.values())
                st = {t: v - d for t, v in st.items() if v > d}
        state.update((list(st.keys()), [int(v) for v in st.values()], seen))
        yield pd.DataFrame(
            {
                "shard": [key[0]] * len(st),
                "token": list(st.keys()),
                "counter": [int(v) for v in st.values()],
                "batch_n": [seen] * len(st),
            }
        )

    sharded = tok_rows.select(
        F.pmod(F.xxhash64(F.col(token_col)), F.lit(shards)).cast("int").alias("shard"),
        F.col(token_col).alias(token_col),
    )
    return sharded.groupBy("shard").applyInPandasWithState(
        _update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf="NoTimeout",
    )


def streaming_cms(
    tok_rows: DataFrame,
    depth: int = 4,
    width_hex: int = 2,
    token_col: str = "token",
) -> DataFrame:
    """Bounded-state streaming count-min sketch: one state group per
    sketch ROW holds that row's full bucket-counter array — the
    streaming twin of text_cms_heavy_hitters' sketch build. Unlike
    Misra-Gries, CMS is EXACTLY mergeable (counters just add), so the
    streamed sketch equals the batch sketch bit-for-bit at every
    point, not merely within bounds — the equivalence test asserts
    equality, the strongest stream/batch contract in the suite.

    Bucketing is the same engine-portable first-``width_hex``-md5-hex
    scheme as the batch operator (seeded per row), computed NATIVELY
    before the shuffle, so only (row, bucket) pairs reach Python.
    State is exactly ``depth`` groups x 16^width_hex counters forever
    on an infinite stream; each micro-batch emits the row's full
    updated counter table (update mode) — the latest emission per row
    IS the sketch.
    """
    import pandas as pd  # noqa: F811  (worker-side import)
    from pyspark.sql import types as T

    width = 16 ** width_hex
    out_schema = T.StructType(
        [
            T.StructField("r", T.IntegerType(), False),
            T.StructField("bucket", T.StringType(), False),
            T.StructField("c", T.LongType(), False),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("buckets", T.ArrayType(T.StringType()), False),
            T.StructField("counts", T.ArrayType(T.LongType()), False),
        ]
    )

    def _update(key, pdfs, state):
        if state.exists:
            buckets, counts = state.get
            st = dict(zip(buckets, counts))
        else:
            st = {}
        for pdf in pdfs:
            vc = pdf["bucket"].value_counts()
            for b, c in vc.items():
                st[b] = st.get(b, 0) + int(c)
        if len(st) > width:  # impossible by construction; fail loudly
            raise ValueError(f"CMS row {key[0]} exceeded width {width}")
        state.update((list(st.keys()), [int(v) for v in st.values()]))
        yield pd.DataFrame(
            {
                "r": [key[0]] * len(st),
                "bucket": list(st.keys()),
                "c": [int(v) for v in st.values()],
            }
        )

    hashed = tok_rows.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(depth - 1)),
                lambda i: F.struct(
                    i.cast("int").alias("r"),
                    F.substring(
                        F.md5(
                            F.concat(
                                F.lit("cms"),
                                i.cast("string"),
                                F.lit(":"),
                                F.col(token_col),
                            )
                        ),
                        1,
                        width_hex,
                    ).alias("bucket"),
                ),
            )
        ).alias("x")
    ).select(F.col("x.r").alias("r"), F.col("x.bucket").alias("bucket"))
    return hashed.groupBy("r").applyInPandasWithState(
        _update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf="NoTimeout",
    )


def blocklist_fingerprints(
    docs: DataFrame, text_col: str = "text", n: int = 5, hex_chars: int = 16
) -> DataFrame:
    """Distinct rolling n-gram fingerprints of a protected corpus
    (eval sets, licensed text) — the static side of
    streaming_contamination. Same truncated_shingle_fps definition
    as the batch contamination pipeline, so the gate and the offline
    scan agree on what a hit IS."""
    from dat_archive_map_reduce_spark.operators.text import (
        truncated_shingle_fps,
    )

    return docs.select(
        F.explode(truncated_shingle_fps(text_col, n, hex_chars)).alias("fp")
    ).distinct()


def streaming_contamination(
    docs: DataFrame,
    blocklist: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    hex_chars: int = 16,
    min_hits: int = 1,
) -> DataFrame:
    """Contamination GATE for continuous training-data ingestion (the
    streaming twin of the batch corpus_contamination scan): every
    arriving document's rolling n-gram fingerprint sketch probes a
    STATIC blocklist broadcast to the executors; documents with >=
    ``min_hits`` banned shingles are emitted as
    (doc_id, n_hits, hit_fps) for quarantine.

    Plan: explode(sketch) -> stream-static BROADCAST inner join on
    the fingerprint (stateless per micro-batch: the static side is
    re-planned and the join keeps NO state store) -> per-doc count.
    Only the final per-doc aggregation is stateful; its state is one
    row per CONTAMINATED document — bounded by the blocklist's actual
    overlap with the stream, not by stream length (clean documents
    leave nothing behind). Batch mode: the identical plan on a batch
    DataFrame, which is what the stream=batch-exact equivalence test
    pins. Scale contract: the blocklist must be broadcast-sized
    (distinct shingles of the protected corpora — eval sets are MBs,
    not TBs); the stream side is never shuffled before the join."""
    from dat_archive_map_reduce_spark.operators.text import (
        truncated_shingle_fps,
    )

    fps = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(truncated_shingle_fps(text_col, n, hex_chars)).alias("fp"),
    )
    hits = fps.join(F.broadcast(blocklist.select("fp").distinct()), "fp")
    return (
        hits.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_hits"),
            F.array_sort(F.collect_set("fp")).alias("hit_fps"),
        )
        .filter(F.col("n_hits") >= int(min_hits))
    )
