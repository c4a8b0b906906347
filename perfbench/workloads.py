"""The benchmark's workloads. Each one builds its state in set-up, then
runs a closed loop with one client until ``ctx.seconds`` have passed
(the cycle in flight completes), checking every result it reads.

A workload returns its record: the set-up units it timed and the named
metrics of its own (update and read latencies, rows per second, ...).
"""

from __future__ import annotations

import gc
import math
import time
from dataclasses import dataclass, field

from perfbench import gen
from perfbench.maps import map_kv
from perfbench.trace import Recorder, Tracer, median, tail, tree_cpu_s, walk_store


@dataclass
class Context:
    spark: object
    root: str
    seed: int
    seconds: float
    tiny: bool
    rec: Recorder
    tracer: Tracer
    setup_units: "list[float]" = field(default_factory=list)
    input_bytes: int = 0  # changelog content bytes, whole run
    measured_input_bytes: int = 0  # the same, measured phase only
    warehouses: "list[str]" = field(default_factory=list)
    store_before: object = None
    store_after: object = None
    cpu_start: float = 0.0
    cpu_s: float = 0.0  # CPU seconds of the measured phase
    cycles: int = 0  # operation-mix rounds in the measured phase

    def begin(self) -> None:
        """Start the measured phase (warehouse snapshot when traced),
        after a garbage collection in the driver Python and the JVM."""
        if self.tracer.enabled:
            self.store_before = store_snapshot(self)
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()
        self.rec.start_measuring()
        self.cpu_start = tree_cpu_s()

    def end(self, cycles: int) -> None:
        self.cpu_s = tree_cpu_s() - self.cpu_start
        self.cycles = cycles
        self.rec.stop_measuring()
        if self.tracer.enabled:
            self.store_after = store_snapshot(self)

    def deadline_passed(self) -> bool:
        return time.time() >= self.rec.measure_start + self.seconds


def store_snapshot(ctx: Context):
    """Files (by inode) and directories of every warehouse of the run."""
    files, dirs = {}, set()
    for wh in ctx.warehouses:
        f, d = walk_store(wh)
        files.update(f)
        dirs |= d
    return files, dirs


def _same(got, want) -> bool:
    if isinstance(want, list):
        return isinstance(got, list) and len(got) == len(want) and all(
            _same(g, w) for g, w in zip(got, want)
        )
    if want is None or got is None:
        return got is want
    return float(got) == float(want)


def _engine(ctx: Context, warehouse: str, views: "dict[str, str | None]", **kw):
    from dat_archive_map_reduce_spark.engine import MapReduce

    db = MapReduce(ctx.spark, warehouse, **kw)
    for name, reduce in views.items():
        db.define(name, path=gen.DOC_PATH, map=map_kv, reduce=reduce)
    ctx.warehouses.append(warehouse)
    return db


def _append(ctx: Context, db, rows) -> None:
    with ctx.tracer.layer("engine", "append_changes"):
        db.append_changes(rows)
    n = gen.content_bytes(rows)
    ctx.input_bytes += n
    if ctx.rec.measuring:
        ctx.measured_input_bytes += n


def _drain(ctx: Context, db) -> None:
    """One watch availableNow run, from query start to termination."""
    from dat_archive_map_reduce_spark.streaming.watch import watch

    with ctx.tracer.layer("engine", "watch_drain"):
        with ctx.tracer.layer("watch", "start"):
            q = watch(db)
        q.awaitTermination()
    ctx.tracer.record_progress(q)


def _index(ctx: Context, db, origin: str) -> None:
    with ctx.tracer.layer("engine", "index"):
        db.index(origin)


def _get(ctx: Context, db, view: str, key, want, label: str) -> None:
    with ctx.rec.op(label), ctx.tracer.layer("engine", "get"):
        got = db.get(view, key)
    value = None if got is None else got["value"]
    ctx.rec.check(_same(value, want), f"{label} {view} {key}: {value} != {want}")


def _get_many(ctx: Context, db, view: str, keys, model: gen.ViewModel) -> None:
    with ctx.rec.op("get_many"), ctx.tracer.layer("engine", "get_many"):
        got = db.get_many(view, keys)
    want = {k: model.mapped(k) for k in keys if model.mapped(k) is not None}
    ok = set(got) == set(want) and all(_same(got[k], want[k]) for k in want)
    ctx.rec.check(ok, f"get_many {view} {keys[:2]}...")


def _list(ctx: Context, db, view: str, gte: str, limit: int, model) -> None:
    with ctx.rec.op("list"), ctx.tracer.layer("engine", "list"):
        got = db.list(view, gte=gte, limit=limit)
    want = model.count_range(gte, limit)
    ok = [r["key"] for r in got] == [k for k, _ in want] and all(
        _same(r["value"], c) for r, (_k, c) in zip(got, want)
    )
    ctx.rec.check(ok, f"list {view} gte={gte}")


# -- drip_serve ---------------------------------------------------------

DRIP_VIEWS = {"by_key": None, "counts": "count", "mins": "min"}


def drip_serve(ctx: Context) -> dict:
    """One hot origin with a backfill, kept by two identical warehouses:
    one only by index(origin), one only by watch availableNow drains.
    Each cycle applies one 8-file update to both (re-keying files that
    hold their key's minimum), then serves Zipf-drawn reads."""
    n_files, n_keys = (256, 32) if ctx.tiny else (4096, 512)
    g = gen.DripGenerator(ctx.seed, n_files, n_keys)
    backfill = g.backfill()
    origin = g.origin
    paths = {}

    def maintain(path: str) -> None:
        if path == "index":
            _index(ctx, paths[path], origin)
        else:
            _drain(ctx, paths[path])

    for path in ("index", "watch"):
        t0 = time.perf_counter()
        paths[path] = _engine(ctx, f"{ctx.root}/{path}", DRIP_VIEWS)
        _append(ctx, paths[path], backfill)
        maintain(path)
        ctx.setup_units.append(time.perf_counter() - t0)

    def apply(path: str, rows, probe: str, label: str) -> None:
        db = paths[path]
        with ctx.rec.op(label):
            _append(ctx, db, rows)
            maintain(path)
            with ctx.tracer.layer("engine", "get"):
                got = db.get("counts", probe)
        value = None if got is None else got["value"]
        want = g.model.count(probe)
        ctx.rec.check(_same(value, want), f"{label} {probe}: {value} != {want}")

    def cycle() -> None:
        rows = g.update()
        probe = g.last_fresh  # a key only this update can have made
        apply("index", rows, probe, "index_update")
        apply("watch", rows, probe, "watch_update")
        for db in (paths["index"], paths["watch"]) * 2:
            for view, want in (("counts", g.model.count), ("mins", g.model.min)):
                key = g.read_key()
                _get(ctx, db, view, key, want(key), "get")
            _get_many(ctx, db, "by_key", [g.read_key() for _ in range(8)], g.model)
            _list(ctx, db, "counts", g.read_key(), 16, g.model)

    # warm-up cycle: first-use planning and codegen of the update and
    # read paths belong to set-up, split evenly over the two units
    t0 = time.perf_counter()
    cycle()
    warm = (time.perf_counter() - t0) / 2
    ctx.setup_units = [u + warm for u in ctx.setup_units]

    ctx.begin()
    updates = 0
    while True:
        cycle()
        updates += 1
        if ctx.deadline_passed():
            break
    ctx.end(updates)
    s = ctx.rec.samples
    return {
        "updates": updates,
        "updates_applied": 2 * updates,
        "files_changed": 2 * updates * gen.UPDATE_FILES,
        "index_update_s": tail(s["index_update"]),
        "watch_update_s": tail(s["watch_update"]),
        "get_ms": _ms(tail(s["get"])),
        "get_many_ms": _ms(tail(s["get_many"])),
        "list_ms": _ms(tail(s["list"])),
    }


def _ms(t: dict) -> dict:
    return {
        k: (v * 1000 if k in ("p50", "value") and v is not None else v)
        for k, v in t.items()
    }


# -- bulk_index and fanout_index -----------------------------------------


def _drain_workload(ctx: Context, make_rows, views, reads, **engine_kw) -> dict:
    """Fresh warehouse per iteration: append the changelog, drain it with
    one watch availableNow run, then check sampled keys."""
    rows, model = make_rows(ctx.seed)
    it = [0]

    def iteration() -> None:
        it[0] += 1
        db = _engine(ctx, f"{ctx.root}/wh{it[0]}", views, **engine_kw)
        with ctx.rec.op("append"):
            _append(ctx, db, rows)
        with ctx.rec.op("drain"):
            _drain(ctx, db)
        reads(db, model)
        db.close()

    t0 = time.perf_counter()
    iteration()
    ctx.setup_units.append(time.perf_counter() - t0)
    ctx.begin()
    n = 0
    while True:
        iteration()
        n += 1
        if ctx.deadline_passed():
            break
    ctx.end(n)
    drains = ctx.rec.samples["drain"]
    out = {
        "drains": n,
        "updates_applied": n,
        "files_changed": n * len(rows),
        "rows_per_drain": len(rows),
        "index_rows_per_s": len(rows) / median(drains),
    }
    for cls in ("get_many", "list"):
        if cls in ctx.rec.samples:
            out[f"{cls}_ms"] = _ms(tail(ctx.rec.samples[cls]))
    return out


def bulk_index(ctx: Context) -> dict:
    """4 origins of many small JSON files, a mapped view plus its count
    twin (one shared entries store), drained by one watch run."""
    files = 64 if ctx.tiny else 2048

    def reads(db, model) -> None:
        keys = sorted(model.by_key)[:: max(1, len(model.by_key) // 8)][:8]
        _get_many(ctx, db, "by_key", keys, model)
        for k in keys[:2]:
            _get(ctx, db, "counts", k, model.count(k), "get")

    return _drain_workload(
        ctx,
        lambda seed: gen.bulk_rows(seed, 4, files, 512),
        {"by_key": None, "counts": "count"},
        reads,
    )


def fanout_index(ctx: Context) -> dict:
    """A few hundred origins with 2 files each and one mapped view,
    drained in the watch path's 64-file triggers, then read across
    origins with get_many and bounded list ranges."""
    n_origins = 16 if ctx.tiny else 256

    def reads(db, model) -> None:
        keys = sorted(model.by_key)
        for i in range(4):
            step = max(1, len(keys) // 8)
            _get_many(ctx, db, "by_key", keys[i::step][:8], model)
        for i in range(4):
            lo = keys[(i * 7919) % len(keys)]
            with ctx.rec.op("list"), ctx.tracer.layer("engine", "list"):
                got = db.list("by_key", gte=lo, limit=8)
            want = [(k, v) for k in keys if k >= lo for v in model.mapped(k)][:8]
            ok = [(r["key"], r["value"]) for r in got] == want
            ctx.rec.check(ok, f"list by_key gte={lo}")

    return _drain_workload(
        ctx,
        lambda seed: gen.fanout_rows(seed, n_origins, 2),
        {"by_key": None},
        reads,
        entries_buckets=4,
    )


# -- analytics ----------------------------------------------------------

ANALYTICS_QUERIES = [
    "q1_pricing_summary",  # no operator: TPC-H Q1 shape
    "view_map_udf_adapter",  # operators.map_reduce
    "join_asof",  # operators.joins
    "agg_salted_two_phase",  # operators.skew
    "events_mann_whitney",  # operators.ranking, operators._util
    "ann_lsh_portable_topk",  # operators.similarity
    "text_winnowing",  # operators.text
    "dedup_image_dhash",  # operators.multimodal, operators.dedup
    "graph_label_propagation",  # operators.graph
]
ANALYTICS_TINY = ["q1_pricing_summary", "agg_salted_two_phase", "text_winnowing"]


def _value_hash():
    """The registry's oracle-gate hash (tools/check_oracle.py): row
    order-insensitive, columns by name, cells in canonical text."""
    import importlib.util
    import os

    path = os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.value_hash


def frame_hash(pdf, value_hash) -> str:
    rows = [tuple(r) for r in pdf.itertuples(index=False)]
    return value_hash(rows, list(pdf.columns))


def _oracle_hashes(sf_dir: str, names, value_hash) -> "dict[str, str]":
    import duckdb

    from dat_archive_map_reduce_spark.queries import ORACLE

    con = duckdb.connect()
    try:
        for t in ("lineitem", "events", "documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        return {n: frame_hash(con.execute(ORACLE[n]).df(), value_hash) for n in names}
    finally:
        con.close()


def analytics(ctx: Context) -> dict:
    """A fixed registry subset over generated tables, timed in steady
    state after one warm-up pass. The view-engine layers do no work."""
    from dat_archive_map_reduce_spark.queries import QUERIES

    names = ANALYTICS_TINY if ctx.tiny else ANALYTICS_QUERIES
    spark, tracer = ctx.spark, ctx.tracer
    sf_dir = f"{ctx.root}/sf"
    t0 = time.perf_counter()
    gen.write_tables(gen.analytics_tables(ctx.seed), sf_dir)
    value_hash = _value_hash()
    oracle = _oracle_hashes(sf_dir, names, value_hash)
    phases: "dict[str, dict[str, list[float]]]" = {n: {} for n in names}

    def run(name: str) -> None:
        with ctx.rec.op(name):
            with tracer.layer("query", "build"):
                t1 = time.perf_counter()
                df = QUERIES[name](spark, sf_dir)
                build = time.perf_counter() - t1
            with tracer.layer("query", "action"):
                t1 = time.perf_counter()
                pdf = df.toPandas()
                action = time.perf_counter() - t1
        ok = frame_hash(pdf, value_hash) == oracle[name]
        ctx.rec.check(ok, f"{name}: oracle hash mismatch")
        if ctx.rec.measuring:
            p = phases[name]
            p.setdefault("build", []).append(build * 1000)
            p.setdefault("action", []).append(action * 1000)
            if tracer.enabled:
                p.setdefault("plan", []).append(_plan_ms(df))
        spark.catalog.clearCache()

    for name in names:
        run(name)
    ctx.setup_units.append(time.perf_counter() - t0)

    ctx.begin()
    passes = 0
    while True:
        for name in names:
            run(name)
        passes += 1
        if ctx.deadline_passed():
            break
    ctx.end(passes)
    steady = {n: median(ctx.rec.samples[n]) for n in names}
    return {
        "sf_dir": sf_dir,
        "passes": passes,
        "queries": names,
        "query_steady_s": steady,
        "query_steady_geomean_s": math.exp(
            sum(math.log(v) for v in steady.values()) / len(steady)
        ),
        "query_phases_ms": {
            n: {k: median(v) for k, v in p.items()} for n, p in phases.items()
        },
    }


def _plan_ms(df) -> float:
    """analysis + optimization + planning from the QueryExecution tracker."""
    tracker = df._jdf.queryExecution().tracker()
    total = 0.0
    for phase in ("analysis", "optimization", "planning"):
        opt = tracker.phases().get(phase)
        if opt.isDefined():
            total += opt.get().durationMs()
    return total


WORKLOADS = {
    "bulk_index": bulk_index,
    "fanout_index": fanout_index,
    "drip_serve": drip_serve,
    "analytics": analytics,
}
