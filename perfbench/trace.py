"""Measurement from outside the program.

``Recorder`` times every operation the benchmark issues (always on).
``Tracer`` is the traced run: it keeps spans in memory, wraps the public
methods of the ``plans.catalog`` table classes (and
``MapReduce.entries_df``), reads Spark's uncompressed event log after the
session stops, and reads the per-call lines the traced map function
writes. Nothing here changes the program's behaviour.
"""

from __future__ import annotations

import functools
import glob
import json
import math
import os
import statistics
import time
from contextlib import contextmanager


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def geomean(xs) -> float:
    xs = [x for x in xs if x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def tail(xs) -> dict:
    """Highest of p50/p90/p99/p999 with at least 10 samples beyond it."""
    xs = sorted(xs)
    out = {"n": len(xs), "p50": median(xs), "pct": None, "value": None}
    for pct in (99.9, 99.0, 90.0, 50.0):
        if len(xs) * (1 - pct / 100) >= 10:
            i = min(len(xs) - 1, math.ceil(len(xs) * pct / 100) - 1)
            out.update(pct=pct, value=xs[i])
            break
    return out


def _descendants(root: int) -> "list[int]":
    children: "dict[int, list[int]]" = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def tree_memory_mb() -> float:
    """Resident memory of this process and every live descendant: the
    driver Python and the JVM at their peak (VmHWM), the Python workers
    as PSS, so pages they share after forking count once."""
    kb = 0
    me = os.getpid()
    for pid in _descendants(me):
        try:
            with open(f"/proc/{pid}/comm") as f:
                peak = pid == me or f.read().strip() == "java"
            path, field = (
                (f"/proc/{pid}/status", "VmHWM:")
                if peak
                else (f"/proc/{pid}/smaps_rollup", "Pss:")
            )
            with open(path) as f:
                for line in f:
                    if line.startswith(field):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    live descendant, including the descendants they have reaped: the
    driver Python, the JVM and the Python workers."""
    ticks = 0
    for pid in _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


class Recorder:
    """Per-operation latencies, the correctness ledger, and peak memory
    sampled after every operation."""

    def __init__(self, tracer: "Tracer"):
        self.tracer = tracer
        self.measuring = False
        self.samples: "dict[str, list[float]]" = {}
        self.attempted = 0
        self.failed = 0
        self.failures: "list[str]" = []
        self.peak_rss_mb = 0.0
        self.measure_start = self.measure_end = None

    @contextmanager
    def op(self, cls: str):
        """Time one operation of class ``cls`` (seconds)."""
        t0, w0 = time.perf_counter(), time.time()
        try:
            yield
        finally:
            dt = time.perf_counter() - t0
            if self.measuring:
                self.samples.setdefault(cls, []).append(dt)
            self.tracer.span("op", cls, w0, w0 + dt)
            self.peak_rss_mb = max(self.peak_rss_mb, tree_memory_mb())

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.failures) < 20:
                self.failures.append(what)

    def start_measuring(self) -> None:
        """Flush policy: dirty pages are written out before timing."""
        os.sync()
        self.measuring = True
        self.measure_start = time.time()

    def stop_measuring(self) -> None:
        self.measuring = False
        self.measure_end = time.time()


# -- traced run --------------------------------------------------------

CATALOG_METHODS = {
    "BucketedEntriesTable": ("write_merged", "read_buckets", "read", "overwrite"),
    "BucketedMetaTable": ("upsert_rows", "overwrite_rows", "delete_rows", "read_rows"),
    "VersionedTable": ("overwrite", "append", "merge_upsert", "read", "read_rows"),
    "AppendOnlyLog": ("append", "read", "read_origin"),
}


class Tracer:
    def __init__(self, enabled: bool, out_dir: str):
        self.enabled = enabled
        self.out_dir = out_dir
        self.spans: "list[tuple[str, str, float, float]]" = []
        self.entries_df_seen: "list[object]" = []
        self.watch_progress: "list[dict]" = []
        self.event_log_dir = f"{out_dir}/eventlog"
        self.map_dir = f"{out_dir}/maptrace"

    # -- spans ---------------------------------------------------------
    def span(self, layer: str, name: str, t0: float, t1: float) -> None:
        if self.enabled:
            self.spans.append((layer, name, t0, t1))

    @contextmanager
    def layer(self, layer: str, name: str):
        """Span around one of the benchmark's own calls into a layer."""
        t0 = time.time()
        try:
            yield
        finally:
            self.span(layer, name, t0, time.time())

    def spark_conf_args(self) -> "list[str]":
        """Submit arguments that turn the event log on (traced runs)."""
        if not self.enabled:
            return []
        os.makedirs(self.event_log_dir, exist_ok=True)
        confs = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": f"file://{os.path.abspath(self.event_log_dir)}",
        }
        return [a for k, v in confs.items() for a in ("--conf", f"{k}={v}")]

    def map_env(self) -> None:
        if self.enabled:
            os.makedirs(self.map_dir, exist_ok=True)
            os.environ["PERFBENCH_MAP_TRACE"] = os.path.abspath(self.map_dir)

    def install(self) -> None:
        """Wrap catalog table methods and MapReduce.entries_df."""
        if not self.enabled:
            return
        from dat_archive_map_reduce_spark.engine import MapReduce
        from dat_archive_map_reduce_spark.plans import catalog

        for cls_name, methods in CATALOG_METHODS.items():
            cls = getattr(catalog, cls_name)
            for m in methods:
                if m in cls.__dict__:
                    setattr(cls, m, self._wrap("catalog", f"{cls_name}.{m}", cls.__dict__[m]))
        orig = MapReduce.entries_df
        tracer = self

        @functools.wraps(orig)
        def entries_df(engine, view, origins=None):
            t0 = time.time()
            df = orig(engine, view, origins)
            hit = any(df is seen for seen in tracer.entries_df_seen)
            if not hit:
                tracer.entries_df_seen.append(df)
            name = "entries_df_hit" if hit else "entries_df_miss"
            tracer.span("entries_df", name, t0, time.time())
            return df

        MapReduce.entries_df = entries_df

    def _wrap(self, layer: str, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            t0 = time.time()
            try:
                return fn(*a, **kw)
            finally:
                tracer.span(layer, name, t0, time.time())

        return wrapper

    def record_progress(self, query) -> None:
        if self.enabled:
            self.watch_progress.extend(query.recentProgress)

    # -- spark event log -----------------------------------------------
    def read_event_log(self) -> "tuple[list[dict], list[dict]]":
        """(jobs, tasks) from the event log; call after spark.stop()."""
        jobs: "dict[int, dict]" = {}
        tasks: "list[dict]" = []
        stages: "set[int]" = set()
        for path in glob.glob(f"{self.event_log_dir}/**", recursive=True):
            if not os.path.isfile(path):
                continue
            with open(path) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        jobs[ev["Job ID"]] = {
                            "start": ev["Submission Time"] / 1000.0,
                            "stages": ev.get("Stage IDs", []),
                        }
                    elif kind == "SparkListenerJobEnd":
                        if ev["Job ID"] in jobs:
                            jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                    elif kind == "SparkListenerStageCompleted":
                        stages.add(ev["Stage Info"]["Stage ID"])
                    elif kind == "SparkListenerTaskEnd":
                        info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                        launch, finish = info["Launch Time"], info["Finish Time"]
                        getting = info.get("Getting Result Time", 0)
                        run = m.get("Executor Run Time", 0)
                        busy = (
                            run
                            + m.get("Executor Deserialize Time", 0)
                            + m.get("Result Serialization Time", 0)
                            + (finish - getting if getting else 0)
                        )
                        sr = m.get("Shuffle Read Metrics", {})
                        sw = m.get("Shuffle Write Metrics", {})
                        tasks.append(
                            {
                                "start": launch / 1000.0,
                                "run_ms": run,
                                "cpu_ms": m.get("Executor CPU Time", 0) / 1e6,
                                "gc_ms": m.get("JVM GC Time", 0),
                                "sched_ms": max(0, finish - launch - busy),
                                "shuffle_read": sr.get("Remote Bytes Read", 0)
                                + sr.get("Local Bytes Read", 0),
                                "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                                "spill": m.get("Memory Bytes Spilled", 0)
                                + m.get("Disk Bytes Spilled", 0),
                            }
                        )
        job_list = [
            dict(j, n_stages=len([s for s in j["stages"] if s in stages]))
            for j in jobs.values()
            if "end" in j
        ]
        return job_list, tasks

    def read_map_trace(self) -> "list[tuple[float, int]]":
        """(epoch s, ns inside the map function) per traced map call."""
        out = []
        for path in glob.glob(f"{self.map_dir}/map-*.tsv"):
            with open(path) as f:
                for line in f:
                    _url, t, ns = line.rstrip("\n").split("\t")
                    out.append((float(t), int(ns)))
        return out

    def dump(self, name: str, extra: dict) -> str:
        """Write the spans kept in memory, once, at exit."""
        path = f"{self.out_dir}/spans-{name}.json"
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f)
        return path


def union_ms(intervals: "list[tuple[float, float]]") -> float:
    total, end = 0.0, -math.inf
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total * 1000.0


def clip(intervals, t0: float, t1: float):
    return [(max(a, t0), min(b, t1)) for a, b in intervals if b > t0 and a < t1]


def walk_store(root: str, skip: str = "changelog"):
    """({(dev, inode): size}, {dir path}) of everything under ``root``
    except the changelog. Keying files by inode counts a hardlinked file
    once."""
    files: "dict[tuple[int, int], int]" = {}
    dirs: "set[str]" = set()
    for dp, dns, fns in os.walk(root):
        dns[:] = [d for d in dns if d != skip]
        dirs.add(dp)
        for fn in fns:
            try:
                st = os.stat(os.path.join(dp, fn))
            except OSError:
                continue
            files[(st.st_dev, st.st_ino)] = st.st_size
    return files, dirs


def store_delta(before, after) -> dict:
    (f0, d0), (f1, d1) = before, after
    new = [k for k in f1 if k not in f0]
    return {
        "files": len(new),
        "dirs": len(d1 - d0),
        "bytes": sum(f1[k] for k in new),
    }


def _iso_epoch(ts: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


UPDATE_SPANS = ("append_changes", "index", "watch_drain")


def ledger(tracer: Tracer, rec: Recorder, result: dict, store: dict, query_names) -> dict:
    """The per-layer metrics of a traced run, over the measured phase."""
    t0, t1 = rec.measure_start, rec.measure_end

    def inside(s):
        return s[2] >= t0 and s[3] <= t1

    spans = [s for s in tracer.spans if inside(s)]

    def named(layer, *names):
        return [s for s in spans if s[0] == layer and s[1] in names]

    def iv(ss):
        return [(s[2], s[3]) for s in ss]

    def med_ms(ss):
        return median([(s[3] - s[2]) * 1000 for s in ss])

    jobs, tasks = tracer.read_event_log()
    jobs = [j for j in jobs if t0 <= j["start"] <= t1]
    tasks = [t for t in tasks if t0 <= t["start"] <= t1]
    job_iv = [(j["start"], j["end"]) for j in jobs]

    def jobs_in(ss) -> int:
        return sum(1 for j in jobs if any(a <= j["start"] <= b for a, b in iv(ss)))

    out: "dict[str, float]" = {}
    progress = [
        p for p in tracer.watch_progress if t0 <= _iso_epoch(p["timestamp"]) <= t1
    ]
    add = [p["durationMs"].get("addBatch", 0) for p in progress]
    trig = [p["durationMs"].get("triggerExecution", 0) for p in progress]
    out["watch.batches"] = len(progress)
    out["watch.rows_per_batch"] = (
        sum(p["numInputRows"] for p in progress) / len(progress) if progress else 0
    )
    out["watch.add_batch_ms"] = median(add)
    out["watch.trigger_overhead_ms"] = median([t - a for t, a in zip(trig, add)])
    out["watch.start_ms"] = med_ms(named("watch", "start"))

    for name in UPDATE_SPANS:
        out[f"engine.{name}_ms"] = med_ms(named("engine", name))
    edf = named("entries_df", "entries_df_hit", "entries_df_miss")
    out["engine.entries_df_ms"] = med_ms(edf)
    out["engine.entries_df_hit_ratio"] = (
        len([s for s in edf if s[1] == "entries_df_hit"]) / len(edf) if edf else 0
    )

    cat = [s for s in spans if s[0] == "catalog"]
    groups = {
        "write_merged": ("BucketedEntriesTable.write_merged",),
        "meta_upsert": tuple(
            f"BucketedMetaTable.{m}" for m in ("upsert_rows", "overwrite_rows", "delete_rows")
        ),
        "read_buckets": ("BucketedEntriesTable.read_buckets",),
    }
    for g, names in groups.items():
        ss = [s for s in cat if s[1] in names]
        out[f"catalog.{g}_calls"] = len(ss)
        out[f"catalog.{g}_ms"] = union_ms(iv(ss))
    out["catalog.log_append_ms"] = union_ms(iv([s for s in cat if s[1] == "AppendOnlyLog.append"]))
    delta = store or {"files": 0, "dirs": 0, "bytes": 0}
    out["catalog.files_written"] = delta["files"]
    out["catalog.dirs_created"] = delta["dirs"]
    in_bytes = result.get("measured_input_bytes", 0)
    out["catalog.bytes_written_per_input_byte"] = delta["bytes"] / in_bytes if in_bytes else 0

    # self time per layer: an engine call's wall not covered by catalog
    # calls or Spark jobs; a catalog call's wall not covered by jobs
    top = named("engine", *UPDATE_SPANS, "get", "get_many", "list")
    engine_self = catalog_self = 0.0
    for s in top:
        jobs_here = clip(job_iv, s[2], s[3])
        cat_here = clip(iv(cat), s[2], s[3])
        engine_self += (s[3] - s[2]) * 1000 - union_ms(jobs_here + cat_here)
        catalog_self += union_ms(jobs_here + cat_here) - union_ms(jobs_here)
    out["engine.self_ms"] = engine_self
    out["catalog.self_ms"] = catalog_self

    calls = [(t, ns) for t, ns in tracer.read_map_trace() if t0 <= t <= t1]
    files = result.get("files_changed", 0)
    out["map.udf_calls_per_update"] = len(calls) / files if files else 0
    out["map.udf_ms"] = sum(ns for _t, ns in calls) / 1e6

    ops = [s for s in spans if s[0] == "op"]
    out["spark.jobs"] = len(jobs)
    out["spark.stages"] = sum(j["n_stages"] for j in jobs)
    out["spark.tasks"] = len(tasks)
    updates = result.get("updates_applied", 0)
    out["spark.jobs_per_update"] = jobs_in(named("engine", *UPDATE_SPANS)) / updates if updates else 0
    gets = named("engine", "get")
    out["spark.jobs_per_get"] = jobs_in(gets) / len(gets) if gets else 0
    queries = [s for s in ops if s[1] in query_names]
    out["spark.jobs_per_query"] = jobs_in(queries) / len(queries) if queries else 0
    covered = sum(union_ms(clip(job_iv, s[2], s[3])) for s in ops)
    out["spark.job_ms"] = covered
    out["spark.driver_gap_ms"] = sum((s[3] - s[2]) * 1000 for s in ops) - covered
    for key, field_ in (
        ("scheduler_delay_ms", "sched_ms"),
        ("executor_run_ms", "run_ms"),
        ("executor_cpu_ms", "cpu_ms"),
        ("gc_ms", "gc_ms"),
        ("shuffle_read_bytes", "shuffle_read"),
        ("shuffle_write_bytes", "shuffle_write"),
        ("spill_bytes", "spill"),
    ):
        out[f"spark.{key}"] = sum(t[field_] for t in tasks)

    phases = result.get("query_phases_ms", {})
    for key in ("build", "action", "plan"):
        out[f"query.{key}_ms"] = sum(p.get(key, 0) for p in phases.values())
    steady = result.get("query_steady_s", {})
    for name in query_names:
        out[f"query.{name}_s"] = steady.get(name, 0)
    return out
