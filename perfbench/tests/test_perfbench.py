"""The benchmark's own tests: names, seeded inputs, and tiny runs.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen  # noqa: E402
from perfbench.run import END_TO_END, per_layer_units  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402


def _bench() -> dict:
    with open(f"{ROOT}/BENCHMARK.json") as f:
        return json.load(f)


def test_metric_names_match_benchmark_json():
    b = _bench()
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == per_layer_units()
    assert {w["name"] for w in b["workloads"]} <= set(WORKLOADS)


def _drip_bytes(seed: int) -> bytes:
    g = gen.DripGenerator(seed, 256, 32)
    rows = g.backfill()
    for _ in range(3):
        rows += g.update()
    rows += [{"read": g.read_key()} for _ in range(16)]
    return json.dumps(rows).encode()


def _tables_bytes(seed: int, d) -> bytes:
    gen.write_tables(gen.analytics_tables(seed), str(d))
    return b"".join(
        (d / f"{t}.parquet").read_bytes()
        for t in ("lineitem", "events", "documents", "embeddings")
    )


def test_fixed_seed_gives_byte_identical_inputs(tmp_path):
    assert _drip_bytes(7) == _drip_bytes(7)
    assert _drip_bytes(7) != _drip_bytes(8)
    assert gen.bulk_rows(7, 2, 16, 8) == gen.bulk_rows(7, 2, 16, 8)
    assert gen.fanout_rows(7, 4, 2)[0] == gen.fanout_rows(7, 4, 2)[0]
    a = _tables_bytes(7, tmp_path / "a")
    assert a == _tables_bytes(7, tmp_path / "b")
    assert a != _tables_bytes(8, tmp_path / "c")


def test_drip_updates_retract_current_minimums():
    g = gen.DripGenerator(3, 256, 32)
    g.backfill()
    holders = {g.model.min_holder(k) for k in g.model.by_key}
    rows = g.update()
    urls = {r["origin"] + r["pathname"] for r in rows}
    assert len(rows) == gen.UPDATE_FILES
    assert len(urls & holders) >= gen.UPDATE_FILES // 2


def _run(workload: str, trace: int) -> dict:
    p = subprocess.run(
        [
            sys.executable, "perfbench/run.py", "--workload", workload,
            "--seed", "5", "--seconds", "1", "--trace", str(trace), "--tiny",
        ],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_tiny_run_has_zero_error_rate(workload):
    out = _run(workload, 0)
    assert out["correct"] and out["failed"] == 0 and out["attempted"] > 0
    assert {k: v["unit"] for k, v in out["metrics"].items()} == END_TO_END
    assert all(v["value"] > 0 for v in out["metrics"].values())


def test_traced_run_prints_every_per_layer_metric():
    out = _run("drip_serve", 1)
    assert out["correct"] and out["failed"] == 0
    assert {k: v["unit"] for k, v in out["metrics"].items()} == per_layer_units()
    m = {k: v["value"] for k, v in out["metrics"].items()}
    for name in ("spark.jobs", "catalog.write_merged_calls", "watch.batches"):
        assert m[name] > 0, name
    assert m["map.udf_calls_per_update"] >= 1.0


def test_missing_program_fails_without_result(tmp_path):
    import shutil

    shutil.copytree(f"{ROOT}/perfbench", tmp_path / "perfbench")
    shutil.copy(f"{ROOT}/BENCHMARK.json", tmp_path)
    p = subprocess.run(
        [
            sys.executable, "perfbench/run.py", "--workload", "drip_serve",
            "--seed", "1", "--seconds", "1", "--trace", "0",
        ],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
