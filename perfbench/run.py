"""damr-spark benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload drip_serve --seed 1 --seconds 15 --trace 0

Run from the checkout root. Load comes from this one process with one
client thread, against ``local[$SPARK_GRAFT_CPUS]`` (default: nproc).
Everything the run writes stays under ``.perfbench_out/`` in the
checkout, and the run's warehouse is wiped at start and at exit.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
workload with tracing on and prints the per-layer metrics. Every run
prints two JSON lines on stdout: a record (host, workload figures,
failures, tracing overhead) and, last, the result line.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shlex
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

END_TO_END = {
    "setup_s": "s",
    "cpu_s_per_cycle": "s",
    "peak_rss_mb": "MB",
}


def per_layer_units() -> "dict[str, str]":
    from perfbench.workloads import ANALYTICS_QUERIES

    units = {
        "watch.batches": "count",
        "watch.rows_per_batch": "rows",
        "watch.add_batch_ms": "ms",
        "watch.trigger_overhead_ms": "ms",
        "watch.start_ms": "ms",
        "engine.append_changes_ms": "ms",
        "engine.index_ms": "ms",
        "engine.watch_drain_ms": "ms",
        "engine.entries_df_ms": "ms",
        "engine.entries_df_hit_ratio": "ratio",
        "engine.self_ms": "ms",
        "catalog.write_merged_calls": "count",
        "catalog.write_merged_ms": "ms",
        "catalog.meta_upsert_calls": "count",
        "catalog.meta_upsert_ms": "ms",
        "catalog.read_buckets_calls": "count",
        "catalog.read_buckets_ms": "ms",
        "catalog.log_append_ms": "ms",
        "catalog.files_written": "count",
        "catalog.dirs_created": "count",
        "catalog.bytes_written_per_input_byte": "ratio",
        "catalog.self_ms": "ms",
        "map.udf_calls_per_update": "ratio",
        "map.udf_ms": "ms",
        "spark.jobs": "count",
        "spark.stages": "count",
        "spark.tasks": "count",
        "spark.jobs_per_update": "ratio",
        "spark.jobs_per_get": "ratio",
        "spark.jobs_per_query": "ratio",
        "spark.job_ms": "ms",
        "spark.driver_gap_ms": "ms",
        "spark.scheduler_delay_ms": "ms",
        "spark.executor_run_ms": "ms",
        "spark.executor_cpu_ms": "ms",
        "spark.gc_ms": "ms",
        "spark.shuffle_read_bytes": "bytes",
        "spark.shuffle_write_bytes": "bytes",
        "spark.spill_bytes": "bytes",
        "query.build_ms": "ms",
        "query.action_ms": "ms",
        "query.plan_ms": "ms",
        "trace.op_geomean_ms": "ms",
    }
    units.update({f"query.{q}_s": "s" for q in ANALYTICS_QUERIES})
    return units


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _loadavg() -> "list[float]":
    return [round(x, 2) for x in os.getloadavg()]


def _cpu_ticks() -> "tuple[int, int]":
    """(steal, total) jiffies of the whole host CPU line of /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def _stop_spark(spark) -> None:
    """Stop the session, then end the JVM and wait for it."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def _overhead(out_dir: str, name: str, traced_ms: float) -> "dict | None":
    """Traced vs untraced op geomean, against this checkout's untraced
    runs of the same workload and size."""
    base = []
    for path in glob.glob(f"{out_dir}/result-{name}-s*-t0.json"):
        with open(path) as f:
            base.append(json.load(f)["metrics"]["op_geomean_ms"])
    if not base or not traced_ms:
        return None
    untraced = statistics.median(base)
    return {
        "untraced_op_geomean_ms": untraced,
        "traced_op_geomean_ms": traced_ms,
        "untraced_runs": len(base),
        "ratio": traced_ms / untraced - 1.0,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="small inputs (tests)")
    args = ap.parse_args(argv)

    try:
        import dat_archive_map_reduce_spark  # noqa: F401  the program under test
    except ImportError as e:
        print(f"perfbench: program not found in {ROOT}: {e}", file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    out_dir = f"{ROOT}/.perfbench_out"
    name = args.workload + ("-tiny" if args.tiny else "")
    tag = f"{name}-s{args.seed}-t{args.trace}"
    run_dir = f"{out_dir}/run-{tag}"
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "spark-local", "wh"):
        os.makedirs(f"{run_dir}/{d}")
    try:
        return _run(args, tag, out_dir, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, tag: str, out_dir: str, run_dir: str) -> int:
    from perfbench import trace as tr
    from perfbench.workloads import ANALYTICS_QUERIES, WORKLOADS, Context, store_snapshot

    os.environ.setdefault("SPARK_GRAFT_CPUS", str(_nproc()))
    # a small fixed heap: the inputs are small and the host is shared
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    os.environ["TMPDIR"] = f"{run_dir}/tmp"
    os.environ["SPARK_LOCAL_DIRS"] = f"{run_dir}/spark-local"
    tracer = tr.Tracer(bool(args.trace), run_dir)
    tracer.map_env()
    # JVM temp files stay in the run dir; no perf-data file in /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(
        [
            "--driver-java-options",
            f"-Djava.io.tmpdir={run_dir}/tmp -XX:-UsePerfData",
            "--conf",
            f"spark.sql.warehouse.dir={run_dir}/spark-warehouse",
            *tracer.spark_conf_args(),
            "pyspark-shell",
        ]
    )
    load_start, ticks_start = _loadavg(), _cpu_ticks()

    import pyarrow
    import pyspark

    from dat_archive_map_reduce_spark.session import get_spark

    rec = tr.Recorder(tracer)
    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    session_s = time.perf_counter() - t0
    host = {
        "nproc": _nproc(),
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "spark": spark.version,
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "loadavg_start": load_start,
    }
    tracer.install()
    ctx = Context(
        spark=spark,
        root=f"{run_dir}/wh",
        seed=args.seed,
        seconds=args.seconds,
        tiny=args.tiny,
        rec=rec,
        tracer=tracer,
    )
    try:
        result = WORKLOADS[args.workload](ctx)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        _stop_spark(spark)
    host["loadavg_end"] = _loadavg()
    (steal0, total0), (steal1, total1) = ticks_start, _cpu_ticks()
    # CPU time the hypervisor gave to other guests: a noisy-neighbour gauge
    host["cpu_steal_share"] = (steal1 - steal0) / max(total1 - total0, 1)
    if "sf_dir" in result:
        host["sf_dir"] = os.path.relpath(result.pop("sf_dir"), ROOT)

    samples = rec.samples
    metrics = {
        "setup_s": statistics.median(ctx.setup_units),
        "cpu_s_per_cycle": ctx.cpu_s / ctx.cycles,
        "peak_rss_mb": rec.peak_rss_mb,
        # wall-clock latency: reported, not gated (see README)
        "op_geomean_ms": tr.geomean([tr.median(v) for v in samples.values()]) * 1000,
    }
    files, _dirs = store_snapshot(ctx)
    result.update(
        measured_input_bytes=ctx.measured_input_bytes,
        store_bytes_per_input_byte=(
            sum(files.values()) / ctx.input_bytes if ctx.input_bytes else None
        ),
        error_rate=rec.failed / max(rec.attempted, 1),
        session_start_s=session_s,
        setup_units_s=ctx.setup_units,
        op_samples={k: len(v) for k, v in samples.items()},
        op_p50_ms={k: tr.median(v) * 1000 for k, v in samples.items()},
    )
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "host": host,
        "result": result,
        "failures": rec.failures,
        "end_to_end": metrics,
    }
    if args.trace:
        delta = None
        if ctx.store_before is not None:
            delta = tr.store_delta(ctx.store_before, ctx.store_after)
        layers = tr.ledger(tracer, rec, result, delta, ANALYTICS_QUERIES)
        layers["trace.op_geomean_ms"] = metrics["op_geomean_ms"]
        record["per_layer"] = layers
        name = args.workload + ("-tiny" if args.tiny else "")
        record["tracing_overhead"] = _overhead(out_dir, name, metrics["op_geomean_ms"])
        record["spans_file"] = os.path.relpath(tracer.dump(tag, {"record": record}), ROOT)
        units = per_layer_units()
        shown = {k: {"value": layers[k], "unit": u} for k, u in units.items()}
    else:
        shown = {k: {"value": metrics[k], "unit": u} for k, u in END_TO_END.items()}
    final = {
        "correct": rec.failed == 0 and rec.attempted > 0,
        "attempted": rec.attempted,
        "failed": rec.failed,
        "metrics": shown,
    }
    with open(f"{out_dir}/result-{tag}.json", "w") as f:
        json.dump(dict(final, record=record, metrics=metrics), f)
    print(json.dumps({"record": record}, default=str))
    print(json.dumps(final))
    return 0


if __name__ == "__main__":
    sys.exit(main())
