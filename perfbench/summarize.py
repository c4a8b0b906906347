"""Run one workload on several seeds and summarise each metric.

    python3 perfbench/summarize.py --workload drip_serve --seeds 1-10 \\
        --seconds 5 --out perfbench/results/drip_serve-4cpu.json

Each run is its own process, one after another. For every metric the
summary holds the values, their median, first and third quartiles
(``statistics.quantiles(values, n=4)``) and the spread: the distance
between the quartiles as a share of the median.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _seeds(spec: str) -> "list[int]":
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def summary(values: "list[float]") -> dict:
    med = statistics.median(values)
    q1, _q2, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med,) * 3
    return {
        "median": med,
        "q1": q1,
        "q3": q3,
        "spread": (q3 - q1) / med if med else None,
        "values": values,
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="1-10 or 1,4,9")
    ap.add_argument("--seconds", default="5")
    ap.add_argument("--trace", default="0")
    ap.add_argument("--out")
    args = ap.parse_args()

    runs = []
    for seed in _seeds(args.seeds):
        t0 = time.perf_counter()
        p = subprocess.run(
            [
                sys.executable, "perfbench/run.py", "--workload", args.workload,
                "--seed", str(seed), "--seconds", args.seconds, "--trace", args.trace,
            ],
            cwd=ROOT,
            capture_output=True,
            text=True,
        )
        wall = time.perf_counter() - t0
        if p.returncode != 0:
            print(p.stderr[-2000:], file=sys.stderr)
            return 1
        lines = p.stdout.strip().splitlines()
        final, record = json.loads(lines[-1]), json.loads(lines[-2])["record"]
        runs.append({"seed": seed, "wall_s": wall, "final": final, "record": record})
        print(f"seed {seed}: {wall:.1f} s, failed {final['failed']}", file=sys.stderr)

    names = list(runs[0]["final"]["metrics"])
    out = {
        "workload": args.workload,
        "trace": int(args.trace),
        "seconds": float(args.seconds),
        "host": runs[0]["record"]["host"],
        "attempted": sum(r["final"]["attempted"] for r in runs),
        "failed": sum(r["final"]["failed"] for r in runs),
        "wall_s": summary([r["wall_s"] for r in runs]),
        "metrics": {
            n: dict(
                summary([r["final"]["metrics"][n]["value"] for r in runs]),
                unit=runs[0]["final"]["metrics"][n]["unit"],
            )
            for n in names
        },
        "runs": [
            {"seed": r["seed"], "wall_s": r["wall_s"], "result": r["record"]["result"]}
            for r in runs
        ],
    }
    text = json.dumps(out, indent=1, default=str)
    if args.out:
        with open(args.out, "w") as f:
            f.write(text + "\n")
    for n, m in out["metrics"].items():
        spread = "n/a" if m["spread"] is None else f"{m['spread']:.3f}"
        print(f"{n:40s} median {m['median']:.4g} {m['unit']:6s} spread {spread}")
    print(f"wall median {out['wall_s']['median']:.1f} s, failed {out['failed']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
