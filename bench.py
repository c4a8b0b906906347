"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Run: python bench.py  (env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS)

Methodology (round-7, prescribed by two rounds of verdicts):
- per query: 1 cold run (includes that query's codegen/JIT — the
  primary metric, methodology of BENCH_r01) + 2 warm re-runs; if the
  warm pair disagrees by >50% (and >0.15 s absolute) a 3rd warm run
  breaks the tie. steady = MEDIAN of the warm runs, spread = max-min.
  min-of-2 could not distinguish a genuinely fast query from one that
  got lucky between background-load spikes; the median + recorded
  spread lets a reviewer reject a contaminated run from the JSON alone
  instead of inferring it across rounds.
- load fingerprint: loadavg + process count sampled at start/end, and
  1-min loadavg sampled per query, so cross-round comparisons can
  check BOTH runs were taken under comparable machine load.
- a streaming section measures the watch path (changelog ->
  foreachBatch view-maintenance merge, the reference's
  lib/indexer.js:67-87 analog) and an event-time windowed aggregation
  driven as a real multi-batch stream — rows/sec, previously
  correctness-proven but perf-invisible.
"""

from __future__ import annotations

import gc
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from dat_archive_map_reduce_spark.queries import QUERIES
from dat_archive_map_reduce_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Registered-but-not-benched (still in the correctness gate): queries
# whose documented purpose is a corpus shape this flat-frequency
# synthetic corpus cannot reward, so their multi-second compile+run
# cost buys no signal here (round-6 verdict #4).
BENCH_SKIP = {
    # PPJoin prefix filtering wins on Zipfian vocabularies where every
    # doc pair shares *something*; on this corpus the plain inverted
    # index dominates and the equivalence is already hash-gated.
    "dedup_ngram_prefix_filter",
    # Exhaustive cap-equivalence proofs for the hot-capped headlines
    # (round-7 verdict #5): they exist so the oracle gate can show the
    # cap is a strict bucket filter, not as perf targets — the capped
    # registrations are the 100 TB plans the bench should price.
    "text_containment_pairs_uncapped",
    "corpus_contamination_uncapped",
}


def _sf_from_dir(d: str) -> float:
    base = os.path.basename(d.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def _load_fingerprint(spark) -> dict:
    """Machine-load snapshot a reviewer can use to reject a
    contaminated run (concurrent pytest/Spark work inflates per-query
    numbers 2-5x and is otherwise invisible in the output). ``cpus``
    is the host's core count; ``default_parallelism`` and
    ``spark_graft_cpus`` are what the Spark session actually used."""
    fp: dict = {
        "cpus": os.cpu_count(),
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "default_parallelism": spark.sparkContext.defaultParallelism,
    }
    try:
        la1, la5, la15 = os.getloadavg()
        fp.update(loadavg1=round(la1, 2), loadavg5=round(la5, 2), loadavg15=round(la15, 2))
    except OSError:
        pass
    try:
        fp["n_procs"] = sum(1 for p in os.listdir("/proc") if p.isdigit())
    except OSError:
        pass
    return fp


def _bench_streaming(spark) -> dict:
    """Rows/sec through the two streaming hot paths. Small fixed
    workloads (same every round) so the numbers compare across rounds;
    everything writes under a temp dir wiped afterwards."""
    from dat_archive_map_reduce_spark.engine import MapReduce
    from dat_archive_map_reduce_spark.sources.tables import load_table
    from dat_archive_map_reduce_spark.streaming.watch import (
        watch as _watch,
        windowed_counts,
    )

    out: dict = {}
    root = tempfile.mkdtemp(prefix="bench-streaming-")
    try:
        # -- 1. view-maintenance merge (the reference watch path) -----
        # 4 origins x 2 views over one availableNow drain: the cost is
        # per-micro-batch merge cycles plus per-row map/emit work.
        # Run at THREE batch sizes (round-7 verdict #3): the watch
        # path's cost model is fixed-per-batch + marginal-per-row, so
        # rows/s must RISE with batch size — a flat curve means the
        # fixed costs dominate and the path cannot amortize a backfill.
        n_origins = 4

        def map_first(content, meta, emit):
            obj = json.loads(content)
            emit(obj["first"], meta["url"])

        curve = []
        for n_rows in (8192, 65536, 262144):
            rows = [
                {
                    "origin": f"dat://bench{i % n_origins}",
                    "pathname": f"/docs/{i}.json",
                    "version": 1,
                    "content": json.dumps({"first": f"k{i % 512}", "n": i}),
                }
                for i in range(n_rows)
            ]
            db = MapReduce(spark, f"{root}/wh{n_rows}")
            db.define(
                "by_key", path="/docs/*.json", map=map_first, key_schema=["string"]
            )
            db.define(
                "counts",
                path="/docs/*.json",
                map=map_first,
                reduce="count",
                key_schema=["string"],
            )
            db.append_changes(rows)
            n_batches = []
            t0 = time.perf_counter()
            q = _watch(db, on_batch=lambda bid, n: n_batches.append(bid))
            q.awaitTermination()
            wall = time.perf_counter() - t0
            if n_rows == 8192:
                # the two views share (path, map, key schema), so they
                # share ONE entries store (r15) — these bytes would
                # double under the per-view layout
                eb = 0
                for dp, _dn, fs in os.walk(f"{db.warehouse}/stores"):
                    eb += sum(
                        os.path.getsize(f"{dp}/{f}")
                        for f in fs
                        if f.endswith(".parquet")
                    )
                out["maintain_entries_store_bytes"] = eb
                out["maintain_entries_stores"] = len(
                    os.listdir(f"{db.warehouse}/stores")
                )
            db.close()
            curve.append(
                {
                    "rows": n_rows,
                    "batches": len(n_batches),
                    "wall_sec": round(wall, 4),
                    "rows_per_sec": round(n_rows / wall, 2),
                }
            )
        out["maintain_origins"] = n_origins
        out["maintain_views"] = 2
        out["maintain_curve"] = curve
        # cross-round headline stays the 8192-row point (BENCH_r07 key)
        out["maintain_rows"] = curve[0]["rows"]
        out["maintain_wall_sec"] = curve[0]["wall_sec"]
        out["maintain_rows_per_sec"] = curve[0]["rows_per_sec"]

        # -- 1b. hot-origin steady drip (round-9 verdict #1) ----------
        # One large archive receiving a trickle of small updates — the
        # reference's core workload. The signal is per-batch wall at
        # two shard sizes 16x apart: a delta-proportional merge
        # (bucketed entries shards) holds per-batch cost ~flat, while
        # the old whole-shard rewrite scaled it with the shard. Each
        # drip batch updates 8 files; reported number is sec/batch
        # (median of 8 batches) per shard size, plus the big/small
        # ratio (1.0 = perfectly delta-proportional, 16.0 = O(shard)).
        drip: dict = {}
        hot = "dat://hot"
        for label, backfill in (("4k", 4096), ("64k", 65536)):
            db = MapReduce(spark, f"{root}/hot{backfill}", entries_buckets=64)
            db.define(
                "by_key", path="/docs/*.json", map=map_first, key_schema=["string"]
            )
            db.append_changes(
                [
                    {
                        "origin": hot,
                        "pathname": f"/docs/{i}.json",
                        "version": 1,
                        "content": json.dumps({"first": f"k{i % 512}", "n": i}),
                    }
                    for i in range(backfill)
                ]
            )
            db.index(hot)
            per_batch = []
            for b in range(8):
                upd = [
                    {
                        "origin": hot,
                        "pathname": f"/docs/{b * 8 + j}.json",
                        "version": 2,
                        "content": json.dumps({"first": f"u{b}-{j}", "n": j}),
                    }
                    for j in range(8)
                ]
                t0 = time.perf_counter()
                db.index_source(hot, upd)
                per_batch.append(time.perf_counter() - t0)
            if backfill == 65536:
                # bucket-count evolution under load (r11 verdict #2's
                # done-criterion): force the threshold-crossing
                # rebucket the watch cadence would fire, then keep
                # dripping — per-batch cost must hold ~flat across
                # the layout doubling (ratio ~1.0 = the migration is
                # invisible to the steady state)
                pre = sorted(per_batch)
                pre_med = pre[len(pre) // 2]
                store = db._entries_table("by_key", hot)
                total = sum(store.bucket_stats().values())
                n_before = store.n_buckets
                # 1/(1.5N) of the on-disk bytes: past one doubling the
                # mean lands back under, so exactly N -> 2N migrates
                db.auto_rebucket_entries(
                    max(1, int(total / (1.5 * n_before)))
                )
                n_after = db._entries_table("by_key", hot).n_buckets
                post = []
                for b in range(8, 16):
                    upd = [
                        {
                            "origin": hot,
                            "pathname": f"/docs/{b * 8 + j}.json",
                            "version": 2,
                            "content": json.dumps(
                                {"first": f"u{b}-{j}", "n": j}
                            ),
                        }
                        for j in range(8)
                    ]
                    t0 = time.perf_counter()
                    db.index_source(hot, upd)
                    post.append(time.perf_counter() - t0)
                post.sort()
                out["maintain_rebucket_n"] = [n_before, n_after]
                out["maintain_drip_rebucket_ratio"] = round(
                    post[len(post) // 2] / pre_med, 3
                )
            db.close()
            per_batch.sort()
            drip[label] = round(per_batch[len(per_batch) // 2], 4)
        out["maintain_drip_sec_per_batch"] = drip
        out["maintain_drip_big_over_small"] = round(drip["64k"] / drip["4k"], 3)

        # -- 1c. reduced-table growth drip (r12 verdict #1) -----------
        # Same drip shape, but the variable is the REDUCED side's
        # cardinality (2k vs 32k distinct keys over identical entries
        # volume). The r12 design rewrote the whole flat reduced
        # table per merge — per-batch cost scaled with |reduced|; the
        # bucketed reduced table rewrites only the delta's key
        # buckets, so per-batch cost must hold ~flat across the 16x
        # cardinality growth (ratio ~1.0). Drips ride the WATCH path
        # (exact count delta + bucket-scoped commit).
        rdrip: dict = {}
        for label, n_keys in (("2k", 2048), ("32k", 32768)):
            db = MapReduce(
                spark, f"{root}/red{n_keys}", reduced_buckets=256
            )
            db.define(
                "counts",
                path="/docs/*.json",
                map=map_first,
                reduce="count",
                key_schema=["string"],
            )
            db.append_changes(
                [
                    {
                        "origin": "dat://red",
                        "pathname": f"/docs/{i}.json",
                        "version": 1,
                        "content": json.dumps(
                            {"first": f"k{i % n_keys}", "n": i}
                        ),
                    }
                    for i in range(32768)
                ]
            )
            q = _watch(db)
            q.awaitTermination()
            per_batch = []
            for b in range(6):
                db.append_changes(
                    [
                        {
                            "origin": "dat://red",
                            "pathname": f"/docs/{b * 8 + j}.json",
                            "version": 2,
                            "content": json.dumps(
                                {"first": f"u{b}-{j}", "n": j}
                            ),
                        }
                        for j in range(8)
                    ]
                )
                t0 = time.perf_counter()
                q = _watch(db)
                q.awaitTermination()
                per_batch.append(time.perf_counter() - t0)
            if n_keys == 32768:
                # serving: point lookup on the 32k-key reduced table.
                # The bucketed path reads ONE key bucket (1/256th of
                # the table) + row-group pruning; the flat baseline is
                # the same predicate over a whole-table scan — the
                # pre-r13 get() shape.
                import statistics as _st

                reds = db._reduced_table("counts")
                # probe keys the drips above cannot have re-keyed
                # (drips touch files 0..47 only -> keys k0..k47)
                t_b = []
                for i in range(5):
                    t0 = time.perf_counter()
                    assert db.get("counts", f"k{1000 + i * 101}") is not None
                    t_b.append(time.perf_counter() - t0)
                t_f = []
                from pyspark.sql import functions as _F

                for i in range(5):
                    t0 = time.perf_counter()
                    reds.read().filter(
                        _F.col("key_json") == f'"k{1000 + i * 101}"'
                    ).first()
                    t_f.append(time.perf_counter() - t0)
                out["serving_get_bucketed_sec"] = round(_st.median(t_b), 4)
                out["serving_get_fullscan_sec"] = round(_st.median(t_f), 4)
            db.close()
            per_batch.sort()
            rdrip[label] = round(per_batch[len(per_batch) // 2], 4)
        out["maintain_drip_reduced_sec_per_batch"] = rdrip
        out["maintain_drip_reduced_big_over_small"] = round(
            rdrip["32k"] / rdrip["2k"], 3
        )

        # -- 1c2. min-RETRACTION drip (r13 verdict #7) ----------------
        # Every drip batch re-keys files that hold their key's CURRENT
        # MINIMUM — the worst case for min maintenance. The r13 design
        # refolded the whole view per retracting batch (O(view)); the
        # r14 value-histogram delta promotes the next-smallest from
        # the key's kept set, so per-batch cost must hold ~flat across
        # a 16x backfill growth (ratio ~1.0). The 64k point also
        # exercises the overflow arm (128 values/key > the 64 bound).
        def map_kv(content, meta, emit):
            obj = json.loads(content)
            emit(obj["k"], obj["v"])

        mdrip: dict = {}
        for label, backfill in (("4k", 4096), ("64k", 65536)):
            db = MapReduce(spark, f"{root}/mm{backfill}")
            db.define(
                "mn",
                path="/docs/*.json",
                map=map_kv,
                reduce="min",
                key_schema=["string"],
            )
            db.append_changes(
                [
                    {
                        "origin": "dat://mm",
                        "pathname": f"/docs/{i}.json",
                        "version": 1,
                        # key k{i%512} holds values i, i+512, ... —
                        # its minimum lives in file i (i < 512)
                        "content": json.dumps({"k": f"k{i % 512}", "v": i}),
                    }
                    for i in range(backfill)
                ]
            )
            q = _watch(db)
            q.awaitTermination()
            per_batch = []
            for b in range(6):
                db.append_changes(
                    [
                        {
                            "origin": "dat://mm",
                            "pathname": f"/docs/{b * 8 + j}.json",
                            "version": 2,
                            "content": json.dumps(
                                {"k": f"u{b}-{j}", "v": -1}
                            ),
                        }
                        for j in range(8)
                    ]
                )
                t0 = time.perf_counter()
                q = _watch(db)
                q.awaitTermination()
                per_batch.append(time.perf_counter() - t0)
            # the retracted minimums were promoted, not refolded
            assert db.get("mn", "k1")["value"] == 513.0
            db.close()
            per_batch.sort()
            mdrip[label] = round(per_batch[len(per_batch) // 2], 4)
        out["maintain_drip_minmax_sec_per_batch"] = mdrip
        out["maintain_drip_minmax_big_over_small"] = round(
            mdrip["64k"] / mdrip["4k"], 3
        )

        # -- 1d. two-level origin layout at >= 1k origins (r12 #3) ----
        # The hash_levels=1 changelog layout exists for warehouses
        # tracking MILLIONS of sources, where any driver-side
        # per-origin directory op on a flat origin= level is an
        # O(origins) listdir. Probe the listing op (partition_dir —
        # what expiry and swap_origin_files call per origin) at two
        # origin counts per layout: flat cost grows with origin
        # count, two-level stays ~flat; the per-origin delta scan
        # (read_origin + count) is reported alongside for the same
        # sample.
        two_level: dict = {}
        for hl, lname in ((0, "flat"), (1, "two_level")):
            for n_org in (256, 1024):
                db = MapReduce(
                    spark,
                    f"{root}/tl-{lname}-{n_org}",
                    changelog_hash_levels=hl,
                )
                db.append_changes(
                    [
                        {
                            "origin": f"dat://org{o}",
                            "pathname": f"/docs/{r}.json",
                            "version": 1,
                            "content": json.dumps({"first": f"k{r}", "n": r}),
                        }
                        for o in range(n_org)
                        for r in range(2)
                    ]
                )
                sample = [f"dat://org{o}" for o in range(0, n_org, n_org // 32)]
                t0 = time.perf_counter()
                for o in sample:
                    assert db.changelog.partition_dir(o) is not None
                list_ms = (time.perf_counter() - t0) / len(sample) * 1000
                t0 = time.perf_counter()
                for o in sample[:4]:
                    db.changelog.read_origin(o).count()
                scan_ms = (time.perf_counter() - t0) / 4 * 1000
                two_level[f"{lname}_{n_org}"] = {
                    "partition_dir_ms": round(list_ms, 3),
                    "read_origin_ms": round(scan_ms, 1),
                }
                db.close()
        # headline: listing-cost growth factor per layout (flat grows
        # ~linearly with origins; two-level should stay ~flat)
        two_level["flat_growth"] = round(
            two_level["flat_1024"]["partition_dir_ms"]
            / max(two_level["flat_256"]["partition_dir_ms"], 1e-6),
            2,
        )
        two_level["two_level_growth"] = round(
            two_level["two_level_1024"]["partition_dir_ms"]
            / max(two_level["two_level_256"]["partition_dir_ms"], 1e-6),
            2,
        )
        out["two_level"] = two_level

        # -- 1e. entries serving at >= 1k origins (r13 verdict #2) ----
        # entries_df is ONE multi-path parquet relation (r14); the old
        # per-origin unionByName chain made plan construction itself
        # O(origins) — a mapped-view get()/list() at the
        # millions-of-sources scale would die in the analyzer. Probe:
        # build an N-origin warehouse via one watch drain, then time
        # (a) entries_df plan construction + analysis, (b) a full
        # count, (c) a 8-key get_many, at two origin counts. The
        # headline is the build-time growth factor (must stay ~flat;
        # the count/read cost legitimately grows with file count).
        entries_serving: dict = {}
        for n_org in (256, 1024):
            db = MapReduce(
                spark, f"{root}/es-{n_org}", entries_buckets=4
            )
            db.define(
                "m", path="/docs/*.json", map=map_first, key_schema=["string"]
            )
            db.append_changes(
                [
                    {
                        "origin": f"dat://org{o}",
                        "pathname": f"/docs/{r}.json",
                        "version": 1,
                        "content": json.dumps(
                            {"first": f"k{o}-{r}", "n": r}
                        ),
                    }
                    for o in range(n_org)
                    for r in range(2)
                ]
            )
            t0 = time.perf_counter()
            q = _watch(db)
            q.awaitTermination()
            drain_sec = time.perf_counter() - t0
            t0 = time.perf_counter()
            df = db.entries_df("m")
            df._jdf.queryExecution().analyzed()  # force plan analysis
            build_ms = (time.perf_counter() - t0) * 1000
            # warm: the pointer-versioned plan cache (r15) makes every
            # repeat read between flips a dict hit — the serving path
            t0 = time.perf_counter()
            df2 = db.entries_df("m")
            df2._jdf.queryExecution().analyzed()
            build_warm_ms = (time.perf_counter() - t0) * 1000
            t0 = time.perf_counter()
            n = df.count()
            read_ms = (time.perf_counter() - t0) * 1000
            assert n == 2 * n_org
            t0 = time.perf_counter()
            got = db.get_many(
                "m", [f"k{o}-0" for o in range(0, n_org, n_org // 8)]
            )
            get_many_ms = (time.perf_counter() - t0) * 1000
            assert len(got) == 8
            # maintain curve vs ORIGIN COUNT (r14 verdict #6): fixed
            # drip (4 origins x 8 rows per batch, 4 batches) against
            # the n_org-origin warehouse — per-batch wall must stay
            # ~flat in TOTAL origin count now that entries_df resolves
            # shards from the pointer table and nothing in the batch
            # reads per-origin metadata beyond the batch's origins
            drip_walls = []
            for b in range(4):
                db.append_changes(
                    [
                        {
                            "origin": f"dat://org{o}",
                            "pathname": f"/docs/d{b}-{r}.json",
                            "version": 2 + b,
                            "content": json.dumps(
                                {"first": f"d{o}-{b}-{r}", "n": r}
                            ),
                        }
                        for o in range(4)
                        for r in range(8)
                    ]
                )
                t0 = time.perf_counter()
                q = _watch(db)
                q.awaitTermination()
                drip_walls.append(time.perf_counter() - t0)
            drip_walls.sort()
            drip_sec = drip_walls[len(drip_walls) // 2]
            entries_serving[f"origins_{n_org}"] = {
                # end-to-end maintain drain at MANY origins (the 4-origin
                # curve's missing axis, r13 verdict): the 64-file trigger
                # cap makes the 1024-origin drain a 16-batch stream, so
                # this also prices the multi-batch steady state
                "watch_drain_sec": round(drain_sec, 2),
                "plan_build_ms": round(build_ms, 1),
                "plan_build_warm_ms": round(build_warm_ms, 2),
                "count_ms": round(read_ms, 1),
                "get_many8_ms": round(get_many_ms, 1),
                "maintain_drip_sec_per_batch": round(drip_sec, 3),
            }
            db.close()
        entries_serving["plan_build_growth"] = round(
            entries_serving["origins_1024"]["plan_build_ms"]
            / max(entries_serving["origins_256"]["plan_build_ms"], 1e-6),
            2,
        )
        entries_serving["plan_build_warm_growth"] = round(
            entries_serving["origins_1024"]["plan_build_warm_ms"]
            / max(entries_serving["origins_256"]["plan_build_warm_ms"], 1e-6),
            2,
        )
        entries_serving["maintain_origin_growth"] = round(
            entries_serving["origins_1024"]["maintain_drip_sec_per_batch"]
            / max(
                entries_serving["origins_256"]["maintain_drip_sec_per_batch"],
                1e-6,
            ),
            2,
        )
        # -- 1f. pointer-resolution microbench at 10k origins (r14
        # verdict #1 done-criterion): per-origin manifest opens vs one
        # pointer-table read, driver-side only (no Spark job, no data
        # files — 10k synthetic shard manifests + the consolidated
        # rows they'd produce). The ratio is the driver cost entries_df
        # sheds per read at many-source scale.
        import os as _os

        from dat_archive_map_reduce_spark.engine import (
            MapReduce as _MR,
            _origin_shard,
        )

        db = _MR(spark, f"{root}/ptr10k")
        db.define(
            "m", path="/docs/*.json", map=map_first, key_schema=["string"]
        )
        n_ptr = 10_000
        base = f"{db.warehouse}/views/m/entries"
        rows = []
        for i in range(n_ptr):
            o = f"dat://p{i}"
            d = f"{base}/{_origin_shard(o)}"
            _os.makedirs(d, exist_ok=True)
            with open(f"{d}/_manifest.json", "w") as f:
                json.dump({"current": 1}, f)
            rows.append((o, 1))
        t0 = time.perf_counter()
        legacy = []
        for o, _v in rows:
            with open(f"{base}/{_origin_shard(o)}/_manifest.json") as f:
                legacy.append((o, json.load(f)["current"]))
        manifest_ms = (time.perf_counter() - t0) * 1000
        ptr = db._entries_ptr_table("m")
        ptr.overwrite_rows(rows)
        t0 = time.perf_counter()
        got = ptr.read_rows()
        ptr_ms = (time.perf_counter() - t0) * 1000
        assert len(got) == n_ptr and len(legacy) == n_ptr
        db.close()
        entries_serving["ptr_resolution_10k"] = {
            "manifest_walk_ms": round(manifest_ms, 1),
            "ptr_table_ms": round(ptr_ms, 1),
            "speedup": round(manifest_ms / max(ptr_ms, 1e-6), 1),
        }
        out["entries_serving"] = entries_serving

        # -- 2. event-time windowed aggregation as a real stream ------
        # events split into 8 files, drained 2 files per micro-batch
        # (4 stateful batches with watermarked window state), sinking
        # via foreachBatch — the stream/batch-equivalence harness shape.
        ev = load_table(spark, SF_DIR, "events")
        src, ckpt, sink = f"{root}/ev-src", f"{root}/ev-ckpt", f"{root}/ev-out"
        ev.repartition(8).write.parquet(src)
        n_events = ev.count()
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 2)
            .parquet(src)
        )
        agg = windowed_counts(stream, window="1 hour", streaming=True)

        def _sink(batch_df, batch_id):
            batch_df.write.mode("overwrite").parquet(sink)

        win_batches = []
        t0 = time.perf_counter()
        q = (
            agg.writeStream.foreachBatch(
                lambda df, bid: (_sink(df, bid), win_batches.append(bid))
            )
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        wall = time.perf_counter() - t0
        out["window_rows"] = n_events
        # observed, not assumed: Spark doesn't guarantee repartition(8)
        # yields exactly 8 files / 4 two-file triggers (advisory note)
        out["window_batches"] = len(win_batches)
        out["window_wall_sec"] = round(wall, 4)
        out["window_rows_per_sec"] = round(n_events / wall, 2)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out


def main() -> None:
    spark = get_spark("bench")
    fp_start = _load_fingerprint(spark)
    # Steady-state warmup so per-query timings measure the query, not
    # one-time session costs: JVM + parquet footers, the events-table
    # nanos shim, whole-stage codegen compilation, and the Python
    # worker daemon pool (forked on first Arrow UDF use).
    from pyspark.sql import functions as F

    from dat_archive_map_reduce_spark.sources.tables import load_table

    spark.read.parquet(f"{SF_DIR}/lineitem.parquet").count()
    ev = load_table(spark, SF_DIR, "events")
    ev.groupBy("event_type").agg(F.count(F.lit(1))).count()
    ev.limit(32).mapInPandas(lambda it: it, schema=ev.schema).count()
    # first-touch of the higher-order-function + hash expression
    # classes (transform/sequence/aggregate/md5/collect_list). This
    # warms the SHARED interpreter paths only: each distinct
    # expression tree still janino-compiles once on its own first
    # run, which is why expression-heavy queries (minhash, shingle
    # pipelines) keep a multi-second cold-vs-steady gap — one-time
    # compile cost, captured by the steady metric as the marginal
    # per-run cost a long-lived cluster pays
    spark.range(64).select(
        F.array_min(
            F.transform(
                F.sequence(F.lit(0), F.lit(7)),
                lambda i: F.md5(F.concat(i.cast("string"), F.lit(":w"))),
            )
        ).alias("m"),
        F.aggregate(
            F.sequence(F.lit(1), F.lit(8)),
            F.lit(0.0),
            lambda a, x: a + x * 0.5,
        ).alias("f"),
    ).groupBy("m").agg(F.sort_array(F.collect_list("f"))).count()

    timings: dict[str, float] = {}
    steady: dict[str, float] = {}
    spread: dict[str, float] = {}
    load1: dict[str, float] = {}
    total = 0.0
    for name, fn in QUERIES.items():
        if name in BENCH_SKIP:
            continue
        try:
            load1[name] = round(os.getloadavg()[0], 2)
        except OSError:
            pass
        runs = []
        # run 0 = cold; runs 1..k = warm re-plans of the same query
        for _ in range(3):
            t0 = time.perf_counter()
            df = fn(spark, SF_DIR)
            n = df.count()  # force full execution
            runs.append(time.perf_counter() - t0)
        warm = runs[1:]
        # warm pair disagrees badly -> one tie-breaking 3rd warm run,
        # so a single background-load spike cannot set the median
        if max(warm) - min(warm) > max(0.15, 0.5 * min(warm)):
            t0 = time.perf_counter()
            fn(spark, SF_DIR).count()
            warm.append(time.perf_counter() - t0)
        timings[name] = round(runs[0], 4)
        steady[name] = round(statistics.median(warm), 4)
        spread[name] = round(max(warm) - min(warm), 4)
        total += runs[0]
        # Dedup operators release their fat intermediates at source
        # now (operators/_util.eager_release), so this sweep only
        # evicts each query's small result cache — kept purely for
        # timing isolation: no query's number should depend on what
        # ran before it.
        spark.catalog.clearCache()
        # flush dirty pages NOW, in this query's accounting, instead
        # of letting the kernel's ~30 s writeback expiry fire mid-way
        # through a later query (observed: the same shuffle-heavy
        # query absorbing a reproducible ~16 s stall at the same loop
        # offset in consecutive runs — warehouse-writing view_*
        # queries run earlier in rotation order and leave dirty pages
        # behind)
        os.sync()
        print(
            f"# {name}: cold={runs[0]:.3f}s steady={steady[name]:.3f}s "
            f"spread={spread[name]:.3f}s rows={n}",
            file=sys.stderr,
        )
        # localCheckpoint blocks (graph/rank/dedup queries) free only
        # when a JVM GC lets ContextCleaner collect them; without this,
        # storage fills over the ~460 executions and later window-sort
        # queries spill (observed 5-8x degradation on text_winnowing /
        # dedup_exact_substring late in the run)
        if len(timings) % 16 == 0:
            gc.collect()
            spark.sparkContext._jvm.System.gc()

    streaming = _bench_streaming(spark)
    fp_end = _load_fingerprint(spark)

    payload = {
        "metric": "total_query_wall_sec",
        "value": round(total, 4),
        "unit": "sec",
        "queries": timings,
        "queries_steady": steady,
        "queries_spread": spread,
        "queries_loadavg1": load1,
        "total_steady_sec": round(sum(steady.values()), 4),
        "streaming": streaming,
        "load_fingerprint": {"start": fp_start, "end": fp_end},
        "bench_skip": sorted(BENCH_SKIP),
        "sf": _sf_from_dir(SF_DIR),
    }
    # compact separators keep the line ~40% shorter — BENCH_r02's
    # persisted copy truncated the head of the line, losing the first
    # ~39 per-query timings
    line = json.dumps(payload, separators=(",", ":"))
    print(line)
    # belt-and-braces local copy so every per-query number stays
    # readable even if the harness truncates captured stdout
    try:
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_full_local.json"),
            "w",
        ) as f:
            f.write(line + "\n")
    except OSError:
        pass
    spark.stop()


if __name__ == "__main__":
    main()
