#!/usr/bin/env python
"""Isolated per-query timing with the bench's exact methodology (noop
sink materialization, guide §1.4) plus Spark job counts.

Usage: python tools/time_queries.py [--sf DIR] [--reps N] q1 q2 ...

One SparkSession for the whole run (like bench.py); each query is timed
end-to-end from a cold DataFrame build to noop materialization. Use on
an IDLE box for before/after comparisons of single optimizations —
bench.py stays the artifact of record. Each run of a query has its own
job group, and its jobs are counted with the public status tracker.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from station_data_ingestion_spark.queries import QUERIES  # noqa: E402
from station_data_ingestion_spark.session import get_spark  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--reps", type=int, default=1)
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()
    spark = get_spark(app_name="time_queries_r11")
    # one throwaway action to absorb session/codegen warmup
    spark.range(1000).count()
    out = {}
    sc = spark.sparkContext
    for q in args.queries:
        best, jobs = None, None
        for rep in range(args.reps):
            group = f"time:{q}:{rep}"
            sc.setJobGroup(group, f"time:{q}")
            t0 = time.perf_counter()
            df = QUERIES[q].fn(spark, args.sf)
            df.write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
            if best is None or dt < best:
                best, jobs = dt, n_jobs
        out[q] = {"sec": round(best, 3), "jobs": jobs}
        print(f"{best:8.3f}s  jobs={jobs:>3}  {q}", flush=True)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
