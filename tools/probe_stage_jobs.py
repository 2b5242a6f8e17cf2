#!/usr/bin/env python
"""Attribute Spark jobs + wall time to SnapshotTable/operator calls for
one or more registry queries — the measurement tool behind the r11
actions-per-commit work (spark_optimization_guide §1: measure first).

Monkeypatches the interesting methods with a (jobs-delta, wall) recorder
(nesting tracked so a parent's exclusive count excludes its children),
runs each named query once at --sf, and prints a per-call tree plus the
stage total.

Usage: python tools/probe_stage_jobs.py --sf /root/testdata/sf0.1 q1 q2
"""

from __future__ import annotations

import argparse
import functools
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from station_data_ingestion_spark.queries import QUERIES  # noqa: E402
from station_data_ingestion_spark.session import get_spark  # noqa: E402


def next_job_id(spark) -> int:
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


CALLS: list[dict] = []
DEPTH = [0]


def instrument(cls, names, spark):
    for nm in names:
        orig = getattr(cls, nm, None)
        if orig is None or getattr(orig, "_probe_wrapped", False):
            continue

        @functools.wraps(orig)
        def wrap(*a, _orig=orig, _nm=f"{cls.__name__}.{nm}", **kw):
            j0, t0, d = next_job_id(spark), time.perf_counter(), DEPTH[0]
            rec = {"name": _nm, "depth": d, "jobs": 0, "wall": 0.0}
            CALLS.append(rec)
            DEPTH[0] += 1
            try:
                return _orig(*a, **kw)
            finally:
                DEPTH[0] -= 1
                rec["jobs"] = next_job_id(spark) - j0
                rec["wall"] = time.perf_counter() - t0

        wrap._probe_wrapped = True
        setattr(cls, nm, wrap)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()
    spark = get_spark(app_name="probe_jobs")

    from station_data_ingestion_spark.plans import snapshot_store as ss

    instrument(
        ss.SnapshotTable,
        [
            "commit_overwrite_partitions", "_write_and_promote",
            "_file_stats", "_file_blooms", "_promote_staging",
            "_commit_entries", "_commit_file_replacement", "_write_changes",
            "update_where", "delete_where", "delete_where_dv",
            "update_where_dv", "merge_dv", "delete_where_eq",
            "materialize_eq_deletes", "materialize_deletes",
            "enable_row_tracking", "read", "read_change_feed",
            "recluster_partition", "rewrite_where", "fast_forward",
            "_read_manifest", "_stamp_sequence", "clone_to",
            "stats_min_max", "count_rows",
        ],
        spark,
    )
    # warmup (codegen + python worker pool)
    from bench import materialize

    materialize(QUERIES["q6_forecast_revenue"].fn(spark, args.sf))
    spark.range(0, 1000, 1, 32).mapInPandas(
        lambda it: it, "id long"
    ).write.format("noop").mode("overwrite").save()

    for qname in args.queries:
        CALLS.clear()
        j0, t0 = next_job_id(spark), time.perf_counter()
        materialize(QUERIES[qname].fn(spark, args.sf))
        wall, jobs = time.perf_counter() - t0, next_job_id(spark) - j0
        print(f"\n=== {qname}: {jobs} jobs, {wall:.2f}s ===")
        for rec in CALLS:
            pad = "  " * rec["depth"]
            print(
                f"{pad}{rec['name']:<42} jobs={rec['jobs']:<3} "
                f"wall={rec['wall']:.3f}s"
            )
        spark.catalog.clearCache()


if __name__ == "__main__":
    main()
