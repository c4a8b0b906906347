"""Profile the maintain-curve 8k point by maintenance phase, over
tools/maintain_point.py's three views (a mapped view and its count and
min twins on one shared entries store): every Spark
job of the maintenance cycle carries a ``maintain:<phase>`` description
(MapReduce._phase), so this reads the jobs of one watch drain from
Spark's status store and prints, per phase, the job count and the
summed job milliseconds, plus the Janino compiles the run paid for (a
codegen cache too small for one cycle shows up there as hundreds per
batch). Diagnostic only — not part of the bench contract.

Run: python tools/profile_maintain.py [n_rows]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dat_archive_map_reduce_spark.engine import MapReduce
from dat_archive_map_reduce_spark.session import get_spark
from dat_archive_map_reduce_spark.streaming.watch import watch as _watch


def jobs_by_phase(spark, after: int) -> "dict[str, list[float]]":
    """{description: [job ms, ...]} over the jobs with id > ``after``."""
    jobs = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
    out: "dict[str, list[float]]" = {}
    for i in range(jobs.size()):
        j = jobs.apply(i)
        if j.jobId() <= after:
            continue
        d = j.description()
        phase = " ".join(d.get().split()) if d.isDefined() else "(unnamed)"
        sub, end = j.submissionTime(), j.completionTime()
        ms = (
            end.get().getTime() - sub.get().getTime()
            if sub.isDefined() and end.isDefined()
            else 0.0
        )
        out.setdefault(phase, []).append(ms)
    return out


def max_job_id(spark) -> int:
    jobs = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
    return max([jobs.apply(i).jobId() for i in range(jobs.size())], default=-1)


def main() -> None:
    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 8192
    spark = get_spark("profile-maintain")
    # same warmup as bench.py's session steady-state
    spark.range(1000).count()
    n_origins = 4

    def map_first(content, meta, emit):
        obj = json.loads(content)
        emit(obj["first"], obj["n"])

    root = tempfile.mkdtemp(prefix="profile-maintain-")
    try:
        rows = [
            {
                "origin": f"dat://bench{i % n_origins}",
                "pathname": f"/docs/{i}.json",
                "version": 1,
                "content": json.dumps({"first": f"k{i % 512}", "n": i}),
            }
            for i in range(n_rows)
        ]
        db = MapReduce(spark, f"{root}/wh")
        db.define("by_key", path="/docs/*.json", map=map_first, key_schema=["string"])
        for name, reduce in (("counts", "count"), ("mins", "min")):
            db.define(
                name,
                path="/docs/*.json",
                map=map_first,
                reduce=reduce,
                key_schema=["string"],
            )
        compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        compiles0 = compiles.getCount()
        t0 = time.perf_counter()
        db.append_changes(rows)
        t_append = time.perf_counter() - t0
        j0 = max_job_id(spark)
        t0 = time.perf_counter()
        q = _watch(db)
        q.awaitTermination()
        wall = time.perf_counter() - t0
        n_compiles = compiles.getCount() - compiles0
        phases = jobs_by_phase(spark, j0)
        db.close()
    finally:
        shutil.rmtree(root, ignore_errors=True)
    print(f"append_changes: {t_append:.3f}s")
    print(f"watch wall: {wall:.3f}s  rows/s: {n_rows / wall:.0f}")
    print(f"  {'phase':32s} {'jobs':>5s} {'job ms':>9s}")
    for name, ms in sorted(phases.items(), key=lambda kv: -sum(kv[1])):
        print(f"  {name:32s} {len(ms):5d} {sum(ms):9.0f}")
    print(f"janino compiles (append + watch): {n_compiles}")
    spark.stop()


if __name__ == "__main__":
    main()
