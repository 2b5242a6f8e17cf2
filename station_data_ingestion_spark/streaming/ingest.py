"""Structured Streaming ingestion: the idiomatic upgrade of the
reference's cron re-run loop [reference: utils/task.sh:1-16, README.md:41-43].

A file-source stream watches a directory for new wide station CSVs; each
micro-batch runs the SAME batch transform (sources.wide_csv) and merges
into the observation table via foreachBatch -- late/corrected data is
handled by merge idempotency exactly like the reference's re-ingestion
[SURVEY §2.8]. The streaming checkpoint replaces the byte-position state
file (resume contract X7).

Scale notes: file sources scale by listing; maxFilesPerTrigger bounds
per-batch work. The merge inside foreachBatch is the same single-shuffle
join program as batch -- no per-row state. Schema comes from one driver-
side header read (the stream needs a static schema).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from station_data_ingestion_spark.plans.jobspec import DataItemSpec
from station_data_ingestion_spark.plans.runner import _merge_into_table
from station_data_ingestion_spark.sources.wide_csv import (
    classify_headers,
    observations_from_wide,
    read_header,
)


def stream_wide_csv(
    spark: SparkSession,
    watch_dir: str,
    spec: DataItemSpec,
    header_file: str,
    max_files_per_trigger: int = 100,
) -> DataFrame:
    """Streaming DataFrame of long observations from a watched CSV dir.

    ``header_file`` provides the static schema (one cheap driver read);
    all files in the directory must share it, mirroring the reference's
    per-config homogeneous file lists [reference: src/driver.py:136-138].
    """
    columns = read_header(spark, header_file)
    if "SKN" not in columns and 0 <= spec.id_col < len(columns):
        # positional id_col fallback, same as the batch path
        # [reference: src/tapis_direct_driver.py:54-56]
        columns = list(columns)
        columns[spec.id_col] = "SKN"
    meta_renames, date_cols = classify_headers(columns, spec)
    schema = T.StructType([T.StructField(c, T.StringType(), True) for c in columns])
    raw = (
        spark.readStream.option("header", True)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .option("emptyValue", "")
        .schema(schema)
        .csv(watch_dir)
    )
    needed = list(meta_renames) + date_cols
    raw = raw.select(*[F.col(f"`{c}`") for c in needed])
    return observations_from_wide(raw, date_cols, spec)


def run_merge_stream(
    spark: SparkSession,
    watch_dir: str,
    spec: DataItemSpec,
    header_file: str,
    obs_table_path: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Start (and for availableNow, drain) the ingest->merge stream.

    Each micro-batch merges into the observation table with full
    create/replace/no-op semantics; replays after failure are safe
    because the merge key makes re-ingestion idempotent. A micro-batch
    whose files carry CONFLICTING rows for one composite key (e.g. an
    original and a corrected monthly file landing in the same trigger)
    fails fast with RecordKeyError rather than writing both -- exact
    duplicates across files dedup silently (merge_plan's update-side
    guard).
    """
    obs_stream = stream_wide_csv(spark, watch_dir, spec, header_file)

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.take(1):
            _merge_into_table(spark, batch_df, spec, obs_table_path)

    writer = (
        obs_stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(merge_batch)
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.start()
