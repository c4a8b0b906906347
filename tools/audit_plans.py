"""Physical-plan audit: extract scale-relevant plan properties for
every registered query and write PLANS.md.

For each query we record from the formatted physical plan:
- shuffles  (#Exchange — each is a full network repartition at scale)
- bcast     (#BroadcastExchange — dims shipped to executors, no shuffle)
- topk      (TakeOrderedAndProject — top-k without a global sort)
- pushdown  (whether any parquet scan pushes a real predicate)
- codegen   (#WholeStageCodegen spans — JVM-compiled pipelines)
- python    (#Arrow/Pandas UDF stages — the deliberate Python islands)

Usage: python tools/audit_plans.py [sf_dir]
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dat_archive_map_reduce_spark.queries import QUERIES
from dat_archive_map_reduce_spark.session import get_spark


def formatted_plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def audit(plan: str) -> dict:
    # "Exchange" nodes that are not broadcast = real shuffles
    shuffles = len(re.findall(r"^\(\d+\) Exchange", plan, re.M))
    bcast = len(re.findall(r"^\(\d+\) BroadcastExchange", plan, re.M))
    topk = bool(re.search(r"TakeOrderedAndProject", plan))
    pushed = bool(
        re.search(r"PushedFilters: \[(?!\])(?!IsNotNull[^,\]]*\])", plan)
    )  # at least one pushed predicate beyond a lone IsNotNull
    codegen = len(set(re.findall(r"\[codegen id : (\d+)\]", plan)))
    python = len(
        re.findall(r"MapInPandas|FlatMapGroupsInPandas|ArrowEvalPython|PythonMapInArrow", plan)
    )
    return {
        "shuffles": shuffles,
        "bcast": bcast,
        "topk": topk,
        "pushdown": pushed,
        "codegen": codegen,
        "python": python,
    }


HEADER = """# PLANS — physical-plan audit of every registered query

Generated by `python tools/audit_plans.py` (re-run after plan changes).
Columns: **shuffles** = `Exchange` nodes (each a cluster-wide
repartition at 100 TB — the number to minimize); **bcast** =
`BroadcastExchange` (small side shipped, no shuffle); **top-k** =
`TakeOrderedAndProject` (limit+order without global sort); **pushdown**
= at least one real predicate reached a parquet scan; **codegen** =
distinct WholeStageCodegen spans; **py** = Arrow/Pandas UDF stages
(deliberate Python islands: the map-UDF adapter and the
sketch/decode kernels).

Notes on expected shapes:
- TPC-H-style joins (q3/q5/q7/q10/q14/q18): dims broadcast, ONE
  shuffle for the fact aggregation, top-k via TakeOrderedAndProject.
- join_asof: exactly one shuffle (the key window) — the as-of union
  formulation's whole point.
- dedup/* and text_containment: shuffle count includes the
  inverted-index self-join; the shingle shuffle key is by design.
- view_* queries read the flagship `events` table with range filters
  pushed to the scan.
- window_ntile: the distributed exact-NTILE plan
  (operators/ranking.py) trades the global-window single-task sort
  over the FACT rows for parallel per-bucket ranking. One
  `Exchange SinglePartition` remains in the executed plan, but it
  carries the per-bucket COUNT table (<= num_buckets rows regardless
  of data size) for the offsets prefix sum — metadata, never fact
  rows. Same shape in corpus_pack_chunks / corpus_train_pipeline,
  which reuse the prefix-sum.
- dedup_simhash_portable / dedup_minhash_portable: signatures fold
  in ONE narrow native projection (no Python); the extra round-robin
  exchange is fan_out — it parallelizes single-file inputs AND is the
  materialization barrier that stops projection collapse from
  re-folding signatures inside every join side.
- dedup_embedding_ann_gemm: the registered prefilter->verify
  composition — sign-LSH candidate joins (broadcast, native), then the
  block-GEMM kernel (the 2 py stages) over the pruned set only.

| query | shuffles | bcast | top-k | pushdown | codegen | py |
|---|---|---|---|---|---|---|
"""


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("plan_audit")
    # AQE wraps the plan in AdaptiveSparkPlan(isFinalPlan=false), which
    # hides codegen ids until execution — audit the static plan instead
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    rows = []
    for name in sorted(QUERIES):
        try:
            df = QUERIES[name](spark, sf_dir)
            a = audit(formatted_plan(df))
        except Exception as e:  # pragma: no cover
            rows.append(f"| {name} | ERROR: {type(e).__name__} | | | | | |")
            continue
        rows.append(
            "| {name} | {shuffles} | {bcast} | {topk} | {pushdown} | {codegen} | {python} |".format(
                name=name,
                shuffles=a["shuffles"],
                bcast=a["bcast"],
                topk="✓" if a["topk"] else "",
                pushdown="✓" if a["pushdown"] else "",
                codegen=a["codegen"],
                python=a["python"],
            )
        )
    out = HEADER + "\n".join(rows) + "\n"
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "PLANS.md"), "w") as f:
        f.write(out)
    print(out)


if __name__ == "__main__":
    main()
