"""Profile the maintain-curve 8k point: wrap the engine's per-batch
stages with timers and print a wall-clock breakdown, plus the Janino
compiles the run paid for (a codegen cache too small for one cycle
shows up there as hundreds per batch). Diagnostic only — not part of
the bench contract."""

from __future__ import annotations

import functools
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import dat_archive_map_reduce_spark.engine as _E
import dat_archive_map_reduce_spark.plans.catalog as _C
from dat_archive_map_reduce_spark.engine import MapReduce
from dat_archive_map_reduce_spark.plans.catalog import BucketedEntriesTable, VersionedTable
from dat_archive_map_reduce_spark.session import get_spark
from dat_archive_map_reduce_spark.streaming.watch import watch as _watch

TIMES: dict[str, list[float]] = {}


def timed(owner, name):
    """Wrap ``owner.name`` (a class or module attribute) with a timer."""
    orig = getattr(owner, name)
    label = f"{owner.__name__.rsplit('.', 1)[-1]}.{name}"

    @functools.wraps(orig)
    def wrap(*a, **k):
        t0 = time.perf_counter()
        try:
            return orig(*a, **k)
        finally:
            TIMES.setdefault(label, []).append(time.perf_counter() - t0)

    setattr(owner, name, wrap)


for m in (
    "_maintain_batch",
    "_probe_batch",
    "_apply_store_batch",
    "_merge_entries",
    "_reaggregate_exact_delta",
    "_key_bucket_ids",
    "_set_offsets",
):
    timed(MapReduce, m)
for m in ("write_merged", "read_buckets"):
    timed(BucketedEntriesTable, m)
for m in ("read_rows", "overwrite_rows"):
    timed(VersionedTable, m)
# the one bucketed writer: every entries merge and re-aggregation
# commit runs one Spark write job in it (the engine imports it by name)
timed(_C, "write_bucketed")
_E.write_bucketed = _C.write_bucketed


MARKS: list[tuple[str, float]] = []

# timeline marks: when does the first batch start/end relative to the
# stream's wall clock (startup + teardown are the untracked remainder)
import dat_archive_map_reduce_spark.streaming.watch as _W

_orig_watch = _W.watch


def _marked_watch(engine, **kw):
    MARKS.append(("watch_called", time.perf_counter()))
    return _orig_watch(engine, **kw)


_W.watch = _marked_watch

_orig_probe = MapReduce._probe_batch


def _marked_probe(self, *a, **k):
    MARKS.append(("first_probe_start", time.perf_counter()))
    return _orig_probe(self, *a, **k)


MapReduce._probe_batch = _marked_probe

_orig_offsets = MapReduce._set_offsets


def _marked_offsets(self, *a, **k):
    MARKS.append(("offsets_write", time.perf_counter()))
    return _orig_offsets(self, *a, **k)


MapReduce._set_offsets = _marked_offsets


def main() -> None:
    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 8192
    spark = get_spark("profile-maintain")
    # same warmup as bench.py's session steady-state
    spark.range(1000).count()
    n_origins = 4

    def map_first(content, meta, emit):
        obj = json.loads(content)
        emit(obj["first"], meta["url"])

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
        db.define(
            "counts",
            path="/docs/*.json",
            map=map_first,
            reduce="count",
            key_schema=["string"],
        )
        compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        compiles0 = compiles.getCount()
        t0 = time.perf_counter()
        db.append_changes(rows)
        t_append = time.perf_counter() - t0
        t0 = time.perf_counter()
        q = _watch(db)
        q.awaitTermination()
        wall = time.perf_counter() - t0
        n_compiles = compiles.getCount() - compiles0
        db.close()
    finally:
        shutil.rmtree(root, ignore_errors=True)
    print(f"append_changes: {t_append:.3f}s")
    print(f"watch wall: {wall:.3f}s  rows/s: {n_rows / wall:.0f}")
    if MARKS:
        t_base = MARKS[0][1]
        for name, t in MARKS:
            print(f"  mark {name}: +{t - t_base:.3f}s")
        print(f"  mark stream_done: +{(t0 + wall) - t_base:.3f}s")
    for k, v in sorted(TIMES.items(), key=lambda kv: -sum(kv[1])):
        print(f"  {k:50s} n={len(v):3d} total={sum(v):7.3f}s max={max(v):.3f}s")
    print(f"janino compiles (append + watch): {n_compiles}")
    spark.stop()


if __name__ == "__main__":
    main()
