"""Calls into the engine's public entry points, one per product-path step.

``ingest_op`` is what a user runs: ``run_job`` then ``read_table``.
``replay_layers`` sends the same inputs through each layer's public
function in turn, so a traced run can show each layer's time and Spark
work beside the fused ``run_job`` span.
"""

from __future__ import annotations

import json
import os
from datetime import date, timedelta

OBS_PARTITION = ("datatype", "period")


def templated_job(config_path: str, day: date | None):
    """JobSpec from a config file; with ``day``, the file is a cron
    template: ``%y/%m/%d`` become ``day`` and each item's window opens
    ``window_days - 1`` days earlier (an extra key the engine ignores)."""
    from station_data_ingestion_spark.plans.jobspec import JobSpec
    from station_data_ingestion_spark.plans.runner import template_dates

    with open(config_path, encoding="utf-8") as f:
        text = f.read()
    if day is None:
        return JobSpec.from_dict(json.loads(text))
    cfg = json.loads(template_dates(text, on=day))
    for item in cfg["data"]:
        back = int(item.get("window_days", 1)) - 1
        item["start_date"] = (date.fromisoformat(item["end_date"]) - timedelta(back)).isoformat()
    return JobSpec.from_dict(cfg)


def docs_transport(meta_dir: str):
    from station_data_ingestion_spark.operators.sinks import jsonl_dir_transport

    return lambda: jsonl_dir_transport(meta_dir)


def ingest_op(spark, tr, job, table: str, manifest: str | None, meta_dir: str, op: int) -> dict:
    """One product-path ingest: run_job, then read_table().count()."""
    from station_data_ingestion_spark import read_table, run_job

    with tr.span("runner.run_job", op) as rj:
        stats = run_job(spark, job, table, manifest, metadata_transport=docs_transport(meta_dir))
    with tr.span("snapshot.read_table", op) as rt:
        df = read_table(spark, table)
    if tr.enabled:
        rt["files"] = len(df.inputFiles())
    with tr.span("snapshot.count", op):
        rows = df.count()
    return {
        "created": sum(s.created for s in stats.values()),
        "replaced": sum(s.replaced for s in stats.values()),
        "rows": rows,
        "run_job_s": rj["end"] - rj["start"],
    }


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def replay_layers(spark, tr, job, table: str, meta_dir: str, op: int) -> dict:
    """The layers of one ``run_job`` call, one public function at a time,
    into ``table`` (a copy of the op's starting table)."""
    from station_data_ingestion_spark import read_table
    from station_data_ingestion_spark.operators.merge import merge_observed
    from station_data_ingestion_spark.operators.sinks import sparse_json_docs, write_docs
    from station_data_ingestion_spark.plans.snapshot_store import SnapshotTable
    from station_data_ingestion_spark.sources.wide_csv import (
        classify_headers,
        ingest_wide_csv,
        read_header,
    )

    out = {"created": 0, "replaced": 0, "cells_in": 0, "target_rows_read": 0}
    for item in job.data:
        for path in item.files:
            with tr.span("wide_csv.classify", op):
                columns = read_header(spark, path)
                _meta, date_cols = classify_headers(columns, item)
            with tr.span("wide_csv.parse", op):
                obs, meta = ingest_wide_csv(spark, path, item, job.location)
                noop(obs)
            with tr.span("sinks.write_docs", op):
                write_docs(
                    sparse_json_docs(meta, nodata=item.nodata),
                    docs_transport(meta_dir),
                    retries=job.retries,
                    max_parallelism=job.concurrency,
                )
            snap = SnapshotTable(spark, table, OBS_PARTITION)
            part = {"datatype": item.datatype, "period": item.period}

            def target():
                df = snap.read(partition=part) if snap.exists() else None
                return df if df is not None else spark.createDataFrame([], obs.schema)

            with tr.span("snapshot.read_slice", op):
                noop(target())
            out["target_rows_read"] += target().count()
            with tr.span("merge.observed", op):
                merged, finish = merge_observed(
                    target(), obs, item.key_fields, replace=item.replace_duplicates
                )
                noop(merged)
                stats = finish()
            out["created"] += stats.created
            out["replaced"] += stats.replaced
            with open(path, encoding="utf-8") as f:
                n_rows = sum(1 for _ in f) - 1
            out["cells_in"] += n_rows * len(date_cols)
            expected = snap.latest_version() or 0
            merged, _finish = merge_observed(
                target(), obs, item.key_fields, replace=item.replace_duplicates
            )
            with tr.span("snapshot.commit", op):
                snap.commit_overwrite_partitions(merged, expected_version=expected)
    with tr.span("snapshot.read_table", op):
        df = read_table(spark, table)
    out["rows"] = df.count()
    return out


def table_space(table: str) -> dict:
    """Parquet bytes and files on disk against those the live version lists."""
    snapdir = os.path.join(table, "_snapshots")
    versions = sorted(n for n in os.listdir(snapdir) if n.startswith("v") and n.endswith(".json"))
    with open(os.path.join(snapdir, versions[-1]), encoding="utf-8") as f:
        live = json.load(f)["files"]
    on_disk = {}
    for root, _dirs, files in os.walk(table):
        for n in files:
            if n.endswith(".parquet"):
                p = os.path.join(root, n)
                on_disk[os.path.relpath(p, table)] = os.path.getsize(p)
    live_bytes = sum(on_disk[os.path.join("data", e["path"])] for e in live)
    return {
        "versions": len(versions),
        "live_files": len(live),
        "files_on_disk": len(on_disk),
        "stored_bytes": sum(on_disk.values()),
        "live_bytes": live_bytes,
    }
