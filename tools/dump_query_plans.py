#!/usr/bin/env python
"""Dump .explain("formatted") for named registry queries to files.

Usage: python tools/dump_query_plans.py --sf DIR --out plans/r11 --suffix _before q1 q2 ...

Multi-action queries (snapshot gates) execute their internal commits when
invoked; the captured plan is the RETURNED DataFrame's — the stage the
bench's noop sink materializes. Job counts for the internal actions come
from tools/probe_stage_jobs.py and are recorded in OPTIMIZATION_r11.md.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from station_data_ingestion_spark.queries import QUERIES  # noqa: E402
from station_data_ingestion_spark.session import get_spark  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default="plans/r11")
    ap.add_argument("--suffix", default="_before")
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()
    spark = get_spark(app_name="dump_plans_r11")
    os.makedirs(args.out, exist_ok=True)
    for q in args.queries:
        df = QUERIES[q].fn(spark, args.sf)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain(mode="formatted")
        path = os.path.join(args.out, f"{q}{args.suffix}.txt")
        with open(path, "w", encoding="utf-8") as f:
            f.write(buf.getvalue())
        print(f"wrote {path}")
        spark.catalog.clearCache()


if __name__ == "__main__":
    main()
