"""Config-driven job runner: multi-file ingestion with resume manifest.

Re-expresses the reference's operational loop [reference:
src/driver.py:101-170, utils/task.sh:8-15, README.md:41-43]:

- per data_item, per commit group of work units: observations + metadata
- observations MERGE into the target parquet table (partitioned by
  datatype/period so date-range queries prune partitions)
- per-file commit manifest for resume: a file that completed is skipped on
  re-run; merge-key idempotency makes partial replays safe (the batch
  analog of the reference's byte-position state file)
- all_complete() equivalent: AND over the manifest's complete flags
  [reference: utils/all_complete.py:4-12]
- date templating of config text: %y/%m/%d -> concrete zero-padded dates
  [reference: utils/update_date_string_in_config.py:32-48]
"""

from __future__ import annotations

import json
import os
from concurrent.futures import ThreadPoolExecutor
from dataclasses import asdict
from datetime import date, timedelta
from functools import reduce

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from station_data_ingestion_spark.operators.merge import (
    _DUP_UPDATE_MSG,
    _MULTI_MATCH_MSG,
    MergeStats,
    RecordKeyError,
    merge_observed,
)
from station_data_ingestion_spark.operators.sinks import sparse_json_docs, write_docs
from station_data_ingestion_spark.plans.jobspec import DataItemSpec, JobSpec
from station_data_ingestion_spark.sources.remote import stage_if_remote
from station_data_ingestion_spark.sources.wide_csv import (
    classify_headers,
    ingest_wide_csv,
    metadata_from_wide,
    plan_wide_units,
    read_wide_units,
    scan_wide_csv,
)

OBS_PARTITION_COLS = ("datatype", "period")
_MAX_MERGE_REDO_ATTEMPTS = 5


def template_dates(config_text: str, on: date | None = None) -> str:
    """Replace %y/%m/%d tokens with a concrete (default: yesterday's) date."""
    d = on or (date.today() - timedelta(days=1))
    return (
        config_text.replace("%y", f"{d.year:04d}")
        .replace("%m", f"{d.month:02d}")
        .replace("%d", f"{d.day:02d}")
    )


class Manifest:
    """Per-file commit log for resume (JSON file, driver-side)."""

    def __init__(self, path: str):
        self.path = path
        self.state: dict[str, dict] = {}
        if os.path.exists(path):
            with open(path, encoding="utf-8") as f:
                self.state = json.load(f)

    def is_complete(self, file: str) -> bool:
        return self.state.get(file, {}).get("complete", False)

    def mark_complete(self, file: str, stats: MergeStats) -> None:
        entry = self.state.get(file, {})
        entry.update({"complete": True, **asdict(stats)})
        self.state[file] = entry
        self._save()

    def mark_batch_complete(self, files: list[str], stats: MergeStats) -> None:
        """One merged batch of files done: stats recorded ONCE, under the
        reserved "__batches__" key; per-file entries carry only completion
        + a batch pointer, so manifest sums stay additive."""
        import uuid

        bid = uuid.uuid4().hex[:12]
        batches = self.state.setdefault("__batches__", {})
        batches[bid] = {"files": list(files), **asdict(stats)}
        for f in files:
            self.state[f] = {"complete": True, "batch_id": bid}
        self._save()

    # -- mid-file resume granularity [reference: README.md:41-43] --------

    def range_state(self, file: str) -> dict:
        """{"split_bytes", "ranges" (completed keys), running stat sums}."""
        e = self.state.get(file, {})
        return {
            "split_bytes": e.get("split_bytes"),
            "ranges": set(e.get("ranges", [])),
            "created": e.get("created", 0),
            "replaced": e.get("replaced", 0),
        }

    def mark_ranges_complete(
        self,
        file: str,
        range_keys: list[str],
        stats: MergeStats,
        split_bytes: int,
        complete: bool,
    ) -> None:
        """One commit's worth of ranges done; stat sums stay ADDITIVE --
        stats attach to the commit (group), never invented per range.
        ``complete`` marks the file's last group (same write, no window)."""
        entry = self.state.setdefault(file, {"complete": False})
        entry["complete"] = complete
        entry["split_bytes"] = split_bytes
        done = set(entry.get("ranges", []))
        done.update(range_keys)
        entry["ranges"] = sorted(done)
        entry["created"] = entry.get("created", 0) + stats.created
        entry["replaced"] = entry.get("replaced", 0) + stats.replaced
        self._save()

    def _save(self) -> None:
        os.makedirs(os.path.dirname(self.path) or ".", exist_ok=True)
        tmp = self.path + ".tmp"
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump(self.state, f, indent=2)
        os.replace(tmp, self.path)

    def all_complete(self, files: list[str]) -> bool:
        return all(self.is_complete(f) for f in files)


def _table_has_parquet(spark: SparkSession, table_path: str) -> bool:
    """True iff the path holds a plain-layout table (any FS): >=1 parquet
    file under a ``datatype=`` partition dir. Files a snapshot commit
    promoted into ``data/`` before a crash cut its first publish do not
    count -- the re-run must bootstrap the snapshot table, not read them."""
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(table_path)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(path):
        return False
    for st in fs.listStatus(path):
        if not st.getPath().getName().startswith(f"{OBS_PARTITION_COLS[0]}="):
            continue
        it = fs.listFiles(st.getPath(), True)
        while it.hasNext():
            if it.next().getPath().getName().endswith(".parquet"):
                return True
    return False


def read_obs_table(spark: SparkSession, table_path: str, spec: DataItemSpec) -> DataFrame:
    """Read the observation target, pruned to the spec's merge slice.

    Partition pruning on (datatype, period) bounds the target scan -- the
    scale-critical move: a 100 TB observation table is never fully read to
    merge one month of one datatype. Snapshot-layout tables (the default
    sink, see plans.snapshot_store) prune driver-side from the manifest;
    plain-layout tables prune via directory partition discovery.
    """
    from station_data_ingestion_spark.plans.snapshot_store import SnapshotTable

    snap = SnapshotTable(spark, table_path, OBS_PARTITION_COLS)
    if snap.exists():
        df = snap.read(
            partition={"datatype": spec.datatype, "period": spec.period}
        )
        if df is not None:
            return df
    # A previous zero-row run leaves a dir with no parquet footers, so an
    # existence check alone isn't enough. The Hadoop FileSystem API (not
    # os.path) keeps an hdfs:// or s3a:// target from reading as empty,
    # which would let the dynamic partition overwrite wipe the real slice.
    if snap.exists() or not _table_has_parquet(spark, table_path):
        schema = "station_id string, date string, value double, " + ", ".join(
            f"{k} string" for k in spec.static_properties
        )
        return spark.createDataFrame([], schema)
    # Partition-column type inference would read a numeric-looking
    # partition value (datatype='850') back as int; the merge would then
    # compare/rewrite it as a number and create a duplicate slice
    # ('datatype=850.0') the overwrite never replaces. Keys are strings.
    conf_key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    prev = spark.conf.get(conf_key, "true")
    spark.conf.set(conf_key, "false")
    try:
        df = spark.read.parquet(table_path)
    finally:
        spark.conf.set(conf_key, prev)
    return df.filter(
        (F.col("datatype") == spec.datatype) & (F.col("period") == spec.period)
    )


def _merge_into_table(
    spark: SparkSession,
    obs: DataFrame,
    item: DataItemSpec,
    obs_table_path: str,
) -> MergeStats:
    """Read the pruned target, align schemas, merge, overwrite the slice.

    The single merge sequence of ``run_job`` and the streaming ingest;
    key-integrity failures surface as RecordKeyError.

    Concurrency: MERGE is read-merge-write, so snapshot targets publish
    with compare-and-swap (``expected_version`` = the version the merge
    read); a CAS loss re-reads the NEW snapshot and redoes the whole
    merge -- serializable isolation, never a lost update. Retries are
    bounded: pathological contention fails loudly rather than spins.
    """
    from station_data_ingestion_spark.plans.snapshot_store import (
        ConcurrentCommitError,
        SnapshotTable,
    )

    obs_in = obs
    last_conflict: Exception | None = None
    for _attempt in range(_MAX_MERGE_REDO_ATTEMPTS):
        snap = SnapshotTable(spark, obs_table_path, OBS_PARTITION_COLS)
        expected = snap.latest_version() or 0
        target = read_obs_table(spark, obs_table_path, item)
        obs, target = _align_union_columns(obs_in, target)
        merged, finish = merge_observed(
            target, obs, item.key_fields, replace=item.replace_duplicates
        )
        try:
            _overwrite_slice(merged, obs_table_path, expected_version=expected)
        except ConcurrentCommitError as e:
            last_conflict = e
            continue
        except Exception as e:
            for msg in (_MULTI_MATCH_MSG, _DUP_UPDATE_MSG):
                if msg in str(e):
                    raise RecordKeyError(msg) from e
            raise
        return finish()
    raise ConcurrentCommitError(
        f"merge into {obs_table_path} lost the serialization race "
        f"{_MAX_MERGE_REDO_ATTEMPTS} times"
    ) from last_conflict


def _align_union_columns(obs: DataFrame, target: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Null-extend both frames to the union of their columns (same order).

    Missing columns are per-job additional properties -- always strings
    [reference: src/tapis_direct_driver.py:159-161].
    """
    all_cols = list(dict.fromkeys([*obs.columns, *target.columns]))
    for c in all_cols:
        if c not in obs.columns:
            obs = obs.withColumn(c, F.lit(None).cast("string"))
        if c not in target.columns:
            target = target.withColumn(c, F.lit(None).cast("string"))
    return obs.select(*all_cols), target.select(*all_cols)


def run_job(
    spark: SparkSession,
    job: JobSpec,
    obs_table_path: str,
    manifest_path: str | None = None,
    staging_dir: str = "staging",
    metadata_transport=None,
    batch_files: bool = False,
    resume_ranges_bytes: int | None = None,
    ranges_per_commit: int | None = None,
) -> dict[str, MergeStats]:
    """Run every data_item/file, merging observations into the obs table.

    One loop: each data item's pending files are planned into byte-range
    work units (:func:`plan_wide_units`), and each commit group of units is
    parsed once (:func:`read_wide_units`), merged once
    (:func:`_merge_into_table`, CAS redo included), published once, and
    recorded once in the manifest. The modes only choose the groups:

    - default: one group per file (a per-file manifest entry);
    - ``batch_files``: one group for all of an item's pending files. The
      returned stats repeat the batch totals per file; the manifest
      records them once (under "__batches__") so its sums stay additive.
      Files must be key-disjoint (e.g. distinct months), else the merge
      raises RecordKeyError;
    - ``resume_ranges_bytes`` (with a manifest): mid-file resume
      [reference: README.md:41-43]. A local file LARGER than this is
      tiled into newline-aligned ranges of ~this size (pinned in the
      manifest on first contact); each group of ``ranges_per_commit``
      pending ranges (default: the session's parallelism) commits and
      records its ranges, so a crash resumes at the first unfinished
      range. Returned stats cover this run's ranges only.

    Files already complete in the manifest are skipped (resume contract);
    merge-key idempotency makes a replayed group safe. A group of no
    units (no in-range dates or no rows) publishes nothing but is still
    recorded. http(s) files are staged locally [reference:
    src/tapis_direct_driver.py:103-107] just before their group (a batch:
    all up front), keeping the URL as manifest key. Paths the driver
    cannot open (globs, hdfs:// URIs) take the declarative parse.

    ``metadata_transport``: optional zero-arg factory returning a sink
    transport (see operators.sinks). When given, the station metadata of
    each group's files (one union for a batch; a ranged file's only on
    its first contact) is written through it as sparse JSON docs (nodata
    fields dropped [reference: src/driver.py:144-152]) on a background
    thread, side by side with the group's parse, merge and publish, and
    joined before the file's manifest record. The observation publish does
    not wait for the docs: if the metadata write fails, the merge may be
    published but the file is not recorded, so a re-run replays the
    (idempotent) merge and rewrites the docs. A failure on either side is
    raised (the merge's, if both fail), and only once no metadata write is
    running.
    """
    manifest = Manifest(manifest_path) if manifest_path else None
    group_size = ranges_per_commit or spark.sparkContext.defaultParallelism
    results: dict[str, MergeStats] = {}
    # Station metadata is written on this one background thread while the
    # calling thread merges. The thread runs only the docs query, whose CSV
    # scan is resolved on the calling thread: it must never call
    # read_obs_table or SnapshotTable._read_entry_files, which flip
    # partitionColumnTypeInference session-wide.
    docs_pool = ThreadPoolExecutor(max_workers=1, thread_name_prefix="station-docs")
    try:
        for item in job.data:
            pending = [f for f in item.files if not (manifest and manifest.is_complete(f))]
            staged = {f: stage_if_remote(f, staging_dir) for f in pending} if batch_files else {}
            batch = bool(staged) and all(os.path.isfile(p) for p in staged.values())
            for files in [pending] if batch else [[f] for f in pending]:
                paths = [staged.get(f) or stage_if_remote(f, staging_dir) for f in files]
                split, done = None, set()
                if (
                    resume_ranges_bytes and manifest and not batch
                    and os.path.isfile(paths[0])
                    and os.path.getsize(paths[0]) > resume_ranges_bytes
                ):
                    prior = manifest.range_state(files[0])
                    split, done = prior["split_bytes"] or resume_ranges_bytes, prior["ranges"]
                if os.path.isfile(paths[0]):
                    units, layouts = plan_wide_units(spark, paths, item, split)
                    units = [u for u in units if f"{u[1]}-{u[2]}" not in done]
                    size = group_size if split else max(1, len(units))
                    groups = [units[i : i + size] for i in range(0, len(units), size)]
                    metas = (
                        metadata_from_wide(
                            scan_wide_csv(spark, p, layouts[p].columns),
                            classify_headers(layouts[p].columns, item)[0],
                            job.location,
                        )
                        for p in paths
                    )
                else:  # glob / hdfs:// path: the declarative parse, one group
                    obs, meta = ingest_wide_csv(spark, paths[0], item, job.location)
                    groups, metas = [None], [meta]
                docs = None
                if metadata_transport is not None and not done:
                    meta = reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), metas)
                    docs = docs_pool.submit(
                        inheritable_thread_target(spark)(write_docs),
                        sparse_json_docs(meta, nodata=item.nodata),
                        metadata_transport,
                        retries=job.retries,
                        max_parallelism=job.concurrency,
                    )
                total = MergeStats(created=0, replaced=0)
                for i, group in enumerate(groups):
                    if group is not None:
                        obs = read_wide_units(spark, group, layouts, item)
                    stats = _merge_into_table(spark, obs, item, obs_table_path)
                    total = MergeStats(
                        created=total.created + stats.created,
                        replaced=total.replaced + stats.replaced,
                    )
                    if split:
                        if docs:
                            docs.result()
                        manifest.mark_ranges_complete(
                            files[0], [f"{s}-{e}" for _p, s, e in group], stats, split,
                            complete=i == len(groups) - 1,
                        )
                if docs:
                    docs.result()
                # a group with no units merges nothing but is still recorded
                if split and not groups:
                    manifest.mark_ranges_complete(files[0], [], total, split, complete=True)
                elif manifest and batch:
                    manifest.mark_batch_complete(files, total)
                elif manifest and not split:
                    manifest.mark_complete(files[0], total)
                results.update({f: total for f in files})
    finally:
        # on error: drop a queued write, wait out a running one
        docs_pool.shutdown(wait=True, cancel_futures=True)
    return results


def _overwrite_slice(
    merged: DataFrame,
    table_path: str,
    expected_version: int | None = None,
) -> None:
    """Overwrite only the merged (datatype, period) partition slice.

    Layout auto-detects from what's on disk:

    - a new table, or an existing snapshot table: transactional
      versioned-snapshot commit (plans.snapshot_store) -- new files +
      atomic manifest publish, so readers always see a complete version
      and a crash mid-commit leaves the previous one intact (also on
      object stores). Read it back with
      :func:`station_data_ingestion_spark.read_table`.
    - an existing plain parquet table keeps its layout: Spark dynamic
      partition overwrite. One local/HDFS writer only: the merged plan
      reads the same path it rewrites, and a reader listing the
      directory mid-swap can see a torn state.
    """
    from station_data_ingestion_spark.plans.snapshot_store import SnapshotTable

    spark = merged.sparkSession
    snap = SnapshotTable(spark, table_path, OBS_PARTITION_COLS)
    if snap.exists() or not _table_has_parquet(spark, table_path):
        # NOT clustered: repartitionByRange samples its child plan, which
        # would evaluate the merge plan (and its created/replaced stat
        # aggregation) twice. Zone-map stats still record; a maintenance
        # pass can re-cluster slices offline when date pruning matters.
        snap.commit_overwrite_partitions(merged, expected_version=expected_version)
        return
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (
            merged.write.mode("overwrite")
            .partitionBy(*OBS_PARTITION_COLS)
            .parquet(table_path)
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
