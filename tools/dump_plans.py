#!/usr/bin/env python
"""Generate PLANS.md: physical-plan evidence for the headline queries.

For each bench headline query, summarize the properties that matter at
100 TB straight from `.explain("formatted")`:

- join strategies used (broadcast-hash / shuffle-hash / sort-merge /
  BNLJ), with counts
- number of exchanges (shuffles) and whether AQE is in play
- parquet pushdown: PushedFilters present? ReadSchema column count vs
  the table's full width (pruning evidence)
- Python stages (ArrowEvalPython / FlatMapGroupsInPandas / MapInPandas)

Run: python tools/dump_plans.py   (writes PLANS.md at the repo root)
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE  # noqa: E402
from station_data_ingestion_spark.queries import QUERIES  # noqa: E402
from station_data_ingestion_spark.session import get_spark  # noqa: E402

SF = "/root/testdata/sf0.01"

_FULL_WIDTH = {
    "lineitem": 16, "orders": 9, "customer": 8, "part": 9, "supplier": 7,
    "nation": 4, "region": 3, "events": 6, "documents": 5, "embeddings": 3,
}


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


def summarize(plan: str) -> dict:
    def count(pat):
        return len(re.findall(pat, plan))

    reads = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        reads.append(m.group(1).count(":"))
    tables = re.findall(r"Location:.*?/(\w+)\.parquet", plan)
    pruned = []
    for t, ncols in zip(tables, reads):
        full = _FULL_WIDTH.get(t)
        if full:
            pruned.append(f"{t}:{ncols}/{full}")
    return {
        "broadcast_hash_joins": count(r"BroadcastHashJoin"),
        "sort_merge_joins": count(r"SortMergeJoin"),
        "shuffle_hash_joins": count(r"ShuffledHashJoin"),
        "bnl_joins": count(r"BroadcastNestedLoopJoin"),
        "exchanges": count(r"\bExchange\b"),
        "aqe": "AdaptiveSparkPlan" in plan,
        "pushed_filters": count(r"PushedFilters: \[[^\]]"),
        "scan_columns": ", ".join(pruned) if pruned else "-",
        # NOTE: no codegen column -- AQE's pre-execution explain doesn't
        # annotate WholeStageCodegen spans; JVM-vs-Python coverage is
        # evidenced by the python_stages count (everything else is
        # codegen-eligible built-in expressions, enforced by the no-UDF
        # plan audit)
        "python_stages": count(r"ArrowEvalPython|FlatMapGroupsInPandas|MapInPandas|EvalPython"),
    }


def main() -> None:
    spark = get_spark(app_name="dump_plans")
    rows = []
    for name in HEADLINE:
        if name.startswith("stream_"):
            rows.append((name, None))  # replays return a memory-sink scan
            continue
        try:
            rows.append((name, summarize(plan_of(QUERIES[name].fn(spark, SF)))))
        except Exception as e:  # noqa: BLE001
            rows.append((name, {"error": str(e)[:120]}))

    with open("PLANS.md", "w", encoding="utf-8") as f:
        f.write(
            "# PLANS — physical-plan evidence for the bench headline set\n\n"
            f"Generated by tools/dump_plans.py at {SF} (plan shapes are\n"
            "scale-independent; AQE may further coalesce at runtime).\n"
            "Scan columns shows read-width/full-width per parquet scan —\n"
            "pruning evidence. Python stages are Arrow-batched\n"
            "(mapInPandas/applyInPandas); there are no row-at-a-time UDFs.\n\n"
            "| query | BHJ | SMJ | SHJ | BNLJ | exch | pushed | scan cols | py |\n"
            "|---|---|---|---|---|---|---|---|---|\n"
        )
        for name, s in rows:
            if s is None:
                f.write(f"| {name} | — | — | — | — | — | — | streaming replay (memory-sink scan; see streaming_q.py) | — |\n")
            elif "error" in s:
                f.write(f"| {name} | error: {s['error']} |\n")
            else:
                f.write(
                    f"| {name} | {s['broadcast_hash_joins']} | {s['sort_merge_joins']} "
                    f"| {s['shuffle_hash_joins']} | {s['bnl_joins']} | {s['exchanges']} "
                    f"| {s['pushed_filters']} | {s['scan_columns']} "
                    f"| {s['python_stages']} |\n"
                )
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
