"""One maintain-curve point, runnable against ANY repo checkout via
PYTHONPATH: bench.py's maintain scenario (4 origins, one availableNow
drain) over three views on one shared entries store — a mapped view,
its ``count`` twin and its ``min`` twin, so a run exercises the count
and the min/max delta folds — and prints ONE JSON line. Used by
tools/ab_maintain.py to interleave A/B runs across two commits — the
streaming twin of tools/ab_bench.py (r13 verdict #6).

PROTOCOL NOTE (r14 verdict #7): this is the A/B PROBE, not the
headline. Each invocation is a cold process (fresh JVM + session —
what makes interleaved A/B pairs fair), so its absolute wall runs
~2-3x bench.py's warm in-process maintain number on identical code.
Compare maintain_point outputs only against other maintain_point
outputs (paired, interleaved); the cross-round headline protocol is
bench.py's.

Run: PYTHONPATH=<tree> python tools/maintain_point.py [n_rows]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time


def main() -> None:
    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 8192
    # the engine tree under test comes from PYTHONPATH (ab_maintain
    # sets it per side); bare invocations fall back to this repo
    if "dat_archive_map_reduce_spark" not in sys.modules:
        try:
            import dat_archive_map_reduce_spark  # noqa: F401
        except ModuleNotFoundError:
            sys.path.insert(
                0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
            )
    from dat_archive_map_reduce_spark.engine import MapReduce
    from dat_archive_map_reduce_spark.session import get_spark
    from dat_archive_map_reduce_spark.streaming.watch import watch as _watch

    spark = get_spark("ab-maintain")
    spark.range(1000).count()  # session steady-state
    n_origins = 4

    def map_first(content, meta, emit):
        obj = json.loads(content)
        emit(obj["first"], obj["n"])

    root = tempfile.mkdtemp(prefix="ab-maintain-")
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
        db.append_changes(rows)
        t0 = time.perf_counter()
        q = _watch(db)
        q.awaitTermination()
        wall = time.perf_counter() - t0
        # steady drip on the SAME warehouse: 4 per-batch drains of 8
        # file updates each — the fixed-cost signal without stream
        # startup or backfill in it
        drips = []
        for b in range(4):
            db.append_changes(
                [
                    {
                        "origin": "dat://bench0",
                        "pathname": f"/docs/{b * 8 + j}.json",
                        "version": 2,
                        "content": json.dumps({"first": f"u{b}-{j}", "n": j}),
                    }
                    for j in range(8)
                ]
            )
            t0 = time.perf_counter()
            q = _watch(db)
            q.awaitTermination()
            drips.append(time.perf_counter() - t0)
        drips.sort()
        db.close()
    finally:
        shutil.rmtree(root, ignore_errors=True)
    print(
        json.dumps(
            {
                "rows": n_rows,
                "wall_sec": round(wall, 4),
                "rows_per_sec": round(n_rows / wall, 2),
                "drip_sec_per_batch": round(drips[len(drips) // 2], 4),
                "loadavg1": round(os.getloadavg()[0], 2),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
