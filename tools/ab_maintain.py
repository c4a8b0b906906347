"""Interleaved old-commit-vs-HEAD A/B of the STREAMING maintain path —
the ab_bench.py twin for watch-mode regressions (r13 verdict #6: the
r13 maintain fixed-cost regression shipped unflagged because only the
query side had an A/B arbiter).

Protocol mirrors ab_bench.py: the old commit is materialized with
``git archive`` into a temporary directory (no worktree is registered,
so it runs in any clone, and the directory is removed at exit) and
measurement processes ALTERNATE old/new, each round flipping which
side runs first (A B, B A, ...), a
fresh JVM + fresh warehouse per process, so slow host phases hit both
sides equally. Each process runs tools/maintain_point.py (shipped from
the NEW tree so both sides run the identical scenario; the engine
under test is selected via PYTHONPATH) and reports the backfill wall
plus the median steady-drip sec/batch. Verdict compares medians of
the per-process numbers.

Usage:
    python tools/ab_maintain.py <old_commit> [--rows N] [--rounds N]

Run SOLO (no concurrent Spark work), like bench.py.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUNNER = os.path.join(REPO, "tools", "maintain_point.py")


def run_side(tree: str, rows: int) -> dict:
    env = dict(os.environ, PYTHONPATH=tree)
    p = subprocess.run(
        [sys.executable, RUNNER, str(rows)],
        cwd=tree,
        env=env,
        capture_output=True,
        text=True,
        timeout=1800,
    )
    for line in p.stdout.splitlines():
        line = line.strip()
        if line.startswith("{") and '"wall_sec"' in line:
            return json.loads(line)
    raise RuntimeError(
        f"no result from {tree}: rc={p.returncode}\n{p.stderr[-2000:]}"
    )


def run_rounds(old_tree: str, rows: int, rounds: int) -> "dict[str, dict[str, list[float]]]":
    acc: dict[str, dict[str, list[float]]] = {
        "wall_sec": {"old": [], "new": []},
        "drip_sec_per_batch": {"old": [], "new": []},
    }
    for rnd in range(rounds):
        # alternate which side runs first, so a slow host phase hits
        # both sides equally
        sides = (("old", old_tree), ("new", REPO))
        for side, tree in sides if rnd % 2 == 0 else sides[::-1]:
            got = run_side(tree, rows)
            for k in acc:
                acc[k][side].append(got[k])
            print(json.dumps({"round": rnd, "side": side, **got}), flush=True)
    return acc


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("old_commit")
    ap.add_argument("--rows", type=int, default=8192)
    ap.add_argument("--rounds", type=int, default=3)
    args = ap.parse_args()

    wt = tempfile.mkdtemp(prefix=f"abm-{args.old_commit[:10]}-")
    try:
        archive = subprocess.run(
            ["git", "archive", args.old_commit],
            cwd=REPO,
            check=True,
            capture_output=True,
        ).stdout
        subprocess.run(["tar", "-x", "-C", wt], input=archive, check=True)
        acc = run_rounds(wt, args.rows, args.rounds)
    finally:
        shutil.rmtree(wt, ignore_errors=True)
    print("\n== verdict (median of per-process numbers) ==")
    for k, sides in acc.items():
        old = statistics.median(sides["old"])
        new = statistics.median(sides["new"])
        ratio = new / old if old else float("inf")
        call = (
            "IMPROVED"
            if ratio <= 0.8
            else "NOISE"
            if ratio < 1.25
            else ("REGRESSION" if ratio >= 1.5 else "GRAY")
        )
        print(f"{k}: old={old:.3f} new={new:.3f} ratio={ratio:.3f} -> {call}")


if __name__ == "__main__":
    main()
