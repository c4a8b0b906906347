"""Map functions of the benchmark's views.

They run inside Spark's Python workers, which import this module by
name, so it must stay importable from the checkout root. When the
environment variable ``PERFBENCH_MAP_TRACE`` names a directory (traced
runs only), every call appends one line ``<url>\\t<epoch s>\\t<ns>`` to a
per-process file there: the benchmark counts calls and sums time from
those files.
"""

from __future__ import annotations

import json
import os
import time

_trace_file = None


def _trace(url: str, ns: int) -> None:
    """Append one call record; the file stays open for the worker's life."""
    global _trace_file
    if _trace_file is None:
        path = f"{os.environ['PERFBENCH_MAP_TRACE']}/map-{os.getpid()}.tsv"
        _trace_file = open(path, "a", buffering=1)
    _trace_file.write(f"{url}\t{time.time():.6f}\t{ns}\n")


def map_kv(content, meta, emit):
    """emit(k, v) of a {"k": ..., "v": ...} JSON file."""
    if "PERFBENCH_MAP_TRACE" not in os.environ:
        obj = json.loads(content)
        emit(obj["k"], obj["v"])
        return
    t0 = time.perf_counter_ns()
    obj = json.loads(content)
    emit(obj["k"], obj["v"])
    _trace(meta["url"], time.perf_counter_ns() - t0)
