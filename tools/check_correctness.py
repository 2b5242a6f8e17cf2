#!/usr/bin/env python
"""Local mirror of the driver's t2 correctness gate.

Runs every __spark_entry__.queries() entry on Spark and its oracle_sql()
twin on DuckDB over the same parquet tables, then compares:

- row count
- schema (column names, sorted; type families)
- order-insensitive value multiset (exact string canonicalization)

Usage: python tools/check_correctness.py [--sf DIR] [--only name1,name2]
                                         [--plain]
Exit code 1 if any query mismatches. --plain builds a bare unconfigured
SparkSession (as the external driver does) instead of the session.py
factory -- the strongest driver simulation.
"""

from __future__ import annotations

import argparse
import math
import os
import sys
import time
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

import __spark_entry__ as entry_mod  # noqa: E402
from station_data_ingestion_spark.session import get_spark  # noqa: E402

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def canon_value(v):
    """Canonicalize one cell for order-insensitive multiset comparison."""
    if v is None:
        return "<null>"
    if isinstance(v, float):
        if math.isnan(v):
            return "<nan>"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(v)
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_value(x) for x in v) + "]"
    return str(v)


def canon_rows(cols: list[str], rows: list[tuple]) -> Counter:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter("|".join(canon_value(r[i]) for i in order) for r in rows)


def complex_cols(cols: list[str], types: list[str]) -> list[str]:
    """Columns whose type the DRIVER's canonicalizer cannot hash.

    The external driver canonicalizes via pandas sort_values over all
    columns, which factorizes each column and raises "unhashable type"
    on numpy arrays / dicts (r3: scalar_map_functions). The mirror's
    per-cell canon (canon_value) happily stringifies lists, which is
    exactly how the r3 divergence slipped through — so reject complex
    output types outright, strictly harder than the driver.
    """
    bad = []
    for c, t in zip(cols, types):
        tl = str(t).lower()
        if any(k in tl for k in ("array", "map<", "map(", "struct", "list", "[]")):
            bad.append(f"{c}:{t}")
    return bad


def type_family(t: str) -> str:
    t = t.upper()
    for fam, names in {
        "int": ("TINYINT", "SMALLINT", "INTEGER", "INT", "BIGINT", "LONG", "HUGEINT", "UINTEGER", "UBIGINT"),
        "float": ("FLOAT", "REAL", "DOUBLE", "DECIMAL"),
        "str": ("VARCHAR", "STRING", "TEXT", "CHAR"),
        "bool": ("BOOL",),
        "ts": ("TIMESTAMP", "DATE"),
        "bin": ("BLOB", "BINARY"),
        "list": ("LIST", "ARRAY", "[]"),
    }.items():
        if any(n in t for n in names):
            return fam
    return t


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default=None)
    ap.add_argument("--plain", action="store_true")
    args = ap.parse_args()

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    names = list(queries)
    if args.only:
        names = [n for n in names if n in set(args.only.split(","))]

    if args.plain:
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[*]")
            .appName("check_correctness_plain")
            .getOrCreate()
        )
    else:
        spark = get_spark(app_name="check_correctness")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{args.sf}/{t}.parquet'")

    n_fail = 0
    for name in names:
        t0 = time.perf_counter()
        try:
            sdf = queries[name](spark, args.sf)
            s_cols = sdf.columns
            s_types = [f.dataType.simpleString() for f in sdf.schema.fields]
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL  {name}: spark error: {str(e).splitlines()[0][:160]}")
            n_fail += 1
            continue
        bad_s = complex_cols(s_cols, s_types)
        if bad_s:
            print(f"FAIL  {name}: complex-typed output columns {bad_s} "
                  "(driver canonicalizer cannot hash these; reduce with "
                  "array_join/element picks)")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"ok    {name}: rows-only ({len(s_rows)} rows, no oracle) "
                  f"[{time.perf_counter() - t0:.1f}s]")
            continue
        try:
            rel = con.sql(oracles[name])
            d_cols = list(rel.columns)
            d_types = [str(t) for t in rel.types]
            d_rows = rel.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {str(e).splitlines()[0][:160]}")
            n_fail += 1
            continue

        problems = []
        bad_d = complex_cols(d_cols, d_types)
        if bad_d:
            problems.append(f"oracle complex-typed columns {bad_d}")
        if sorted(s_cols) != sorted(d_cols):
            problems.append(f"columns {sorted(s_cols)} vs {sorted(d_cols)}")
        if len(s_rows) != len(d_rows):
            problems.append(f"rowcount {len(s_rows)} vs {len(d_rows)}")
        if not problems:
            sc = canon_rows(s_cols, s_rows)
            dc = canon_rows(d_cols, d_rows)
            if sc != dc:
                diff_s = list((sc - dc).items())[:3]
                diff_d = list((dc - sc).items())[:3]
                problems.append(f"values: spark-only={diff_s} duckdb-only={diff_d}")
        # soft type check (families)
        s_fam = {c: type_family(t) for c, t in zip(s_cols, s_types)}
        d_fam = {c: type_family(t) for c, t in zip(d_cols, d_types)}
        for c in set(s_fam) & set(d_fam):
            if s_fam[c] != d_fam[c]:
                problems.append(f"type[{c}]: {s_fam[c]} vs {d_fam[c]}")
        # hard typeof() audit: the external driver hashes DuckDB values
        # verbatim, so 128-bit / decimal oracle columns whose Spark twin is
        # a 64-bit type hash-mismatch even when values are equal (r1:
        # events_sessionization). Require the oracle SQL to CAST these.
        s_ty = dict(zip(s_cols, (t.lower() for t in s_types)))
        for c, t in zip(d_cols, d_types):
            tu = str(t).upper()
            if "HUGEINT" in tu:
                problems.append(
                    f"oracle-type[{c}]: {tu} (cast to BIGINT in oracle SQL)")
            elif tu.startswith("DECIMAL") and not s_ty.get(c, "").startswith(
                    "decimal"):
                problems.append(
                    f"oracle-type[{c}]: {tu} vs spark {s_ty.get(c)} "
                    f"(cast oracle to DOUBLE/BIGINT or align Spark side)")

        dt = time.perf_counter() - t0
        if problems:
            print(f"FAIL  {name}: " + "; ".join(problems) + f" [{dt:.1f}s]")
            n_fail += 1
        else:
            print(f"ok    {name}: {len(s_rows)} rows match [{dt:.1f}s]")

    print(f"\n{len(names) - n_fail}/{len(names)} queries ok")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
