"""Config-driven job runner: multi-file ingestion with resume manifest.

Re-expresses the reference's operational loop [reference:
src/driver.py:101-170, utils/task.sh:8-15, README.md:41-43]:

- per data_item, per commit group of work units: observations + metadata
- observations MERGE into the observation snapshot table
  (plans.snapshot_store), partitioned by datatype, period and a hidden
  ``year`` derived from ``date``: a merge reads and rewrites only the
  years of its data item's window in its (datatype, period) slice, and
  refuses observations dated outside that window. The first merge into
  a slice of the older (datatype, period) layout reads the whole slice
  and rewrites it in the year layout in the same commit; an old plain
  parquet table converts once with :func:`convert_plain_table`
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

from station_data_ingestion_spark.functions.dates import to_iso
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

# The layout every merge writes: (datatype, period) slices, each split by
# the hidden year of its observations' date ('YYYY-MM-DD' or 'YYYY-MM').
# Readers open the table with the spec its manifest records.
OBS_PARTITION_COLS = ("datatype", "period", "year")
OBS_PARTITION_TRANSFORMS = {"year": ("year", "date")}
# the layout of a plain parquet table, and of snapshot tables before the year
_SLICE_COLS = ("datatype", "period")
_MAX_MERGE_REDO_ATTEMPTS = 5
_OUT_OF_WINDOW_MSG = "observation dated outside its data item's window"


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


def _plain_slice_dirs(spark: SparkSession, table_path: str) -> list[str]:
    """The top-level ``datatype=`` directories of a plain-layout table
    (any FS, through the Hadoop FS API). Files a snapshot commit promoted
    into ``data/`` before a crash cut its publish are not among them."""
    from station_data_ingestion_spark.plans.snapshot_store import _fs

    fs, path, _ = _fs(spark, table_path)
    if not fs.exists(path):
        return []
    return [
        st.getPath().toString()
        for st in fs.listStatus(path)
        if st.isDirectory()
        and st.getPath().getName().startswith(f"{_SLICE_COLS[0]}=")
    ]


def convert_plain_table(spark: SparkSession, table_path: str) -> int:
    """Convert a plain hive-partitioned parquet table (``datatype=X/
    period=Y/*.parquet``, the layout older versions merged into) in place
    into a snapshot table, the one-shot analog of Delta's CONVERT TO
    DELTA. Returns the table's snapshot version.

    Only the top-level ``datatype=`` directories are read, with string
    partition columns, and published as v1 in one commit, written in
    the year layout every merge writes; then they are deleted. A
    conversion cut after its publish is finished by a re-run, which only
    deletes the leftover directories; one cut before its publish redoes
    the commit and never reads the files it promoted under ``data/``
    (vacuum reaps those).
    """
    from pyspark.sql import types as T

    from station_data_ingestion_spark.plans.snapshot_store import _fs

    snap = _obs_table(spark, table_path)
    dirs = _plain_slice_dirs(spark, table_path)
    if not snap.exists():
        if not dirs:
            raise FileNotFoundError(f"no plain parquet table at {table_path}")
        inferred = (
            spark.read.option("basePath", table_path)
            .option("mergeSchema", "true").parquet(*dirs).schema
        )
        schema = T.StructType(
            [f for f in inferred.fields if f.name not in _SLICE_COLS]
            + [T.StructField(c, T.StringType()) for c in _SLICE_COLS]
        )
        plain = spark.read.option("basePath", table_path).schema(schema).parquet(*dirs)
        snap.commit_overwrite_partitions(plain, expected_version=0, op="convert")
    for d in dirs:
        fs, path, _ = _fs(spark, d)
        fs.delete(path, True)
    return snap.latest_version()


def _obs_table(spark: SparkSession, table_path: str):
    """A handle on the observation table that writes its layout (a merge
    or a conversion); readers open the table with its recorded spec."""
    from station_data_ingestion_spark.plans.snapshot_store import SnapshotTable

    return SnapshotTable(
        spark, table_path, OBS_PARTITION_COLS,
        partition_transforms=OBS_PARTITION_TRANSFORMS,
    )


def _window(item: DataItemSpec) -> tuple[str, str]:
    """The item's [start_date, end_date] as the ISO text of its dates."""
    r = item.date_range
    return to_iso(r.start, item.period), to_iso(r.end, item.period)


def _merge_target(snap, version: int | None, item: DataItemSpec):
    """The item's merge target at ``version`` and the partitions of the
    older layout its commit must retire: (rows or None, [partition]).

    Pruned by partition value only, to the years of the item's window in
    its (datatype, period) slice. Zone maps are not applied: the commit
    drops every file of a year it replaces, so a file skipped on its
    date stats would be lost. A slice that still holds files of the
    (datatype, period) layout is read whole (those files span every
    year), and its commit retires them.
    """
    if not version:
        return None, []
    slice_ = {"datatype": item.datatype, "period": item.period}
    manifest = snap._read_manifest(version)
    if any(e["partition"] == slice_ for e in manifest["files"]):
        return snap.read(partition=slice_, version=version, _manifest=manifest), [slice_]
    lo, hi = _window(item)
    years = [f"{y:04d}" for y in range(int(lo[:4]), int(hi[:4]) + 1)]
    target = snap.read(partition={**slice_, "year": years}, version=version, _manifest=manifest)
    return target, []


def _empty_obs(spark: SparkSession, spec: DataItemSpec) -> DataFrame:
    schema = "station_id string, date string, value double, " + ", ".join(
        f"{k} string" for k in spec.static_properties
    )
    return spark.createDataFrame([], schema)


def read_obs_table(spark: SparkSession, table_path: str, spec: DataItemSpec) -> DataFrame:
    """Read the observation target of a merge of ``spec``: the years of
    its window in its (datatype, period) slice (see :func:`_merge_target`).

    Partition pruning bounds the target scan -- the scale-critical move:
    a 100 TB observation table is never fully read to merge one day of
    one datatype. The snapshot manifest prunes files driver-side; a
    table with no snapshot (or no files in the slice) reads as an empty
    frame of the observation columns.
    """
    from station_data_ingestion_spark.plans.snapshot_store import SnapshotTable

    snap = SnapshotTable(spark, table_path)
    df, _retire = _merge_target(snap, snap.latest_version(), spec)
    return df if df is not None else _empty_obs(spark, spec)


def _guard_window(obs: DataFrame, item: DataItemSpec) -> DataFrame:
    """Fail the write that consumes ``obs`` on a row dated outside the
    item's window (or undated): the merge reads only the window's years,
    so such a row would replace a year it never read."""
    lo, hi = _window(item)
    d = F.col("date")
    msg = f"{_OUT_OF_WINDOW_MSG} [{lo}, {hi}] ({item.datatype}/{item.period})"
    return obs.filter(
        F.when(d.isNull() | (d < lo) | (d > hi), F.raise_error(F.lit(msg)).cast("boolean"))
        .otherwise(F.lit(True))
    )


def _merge_into_table(
    spark: SparkSession,
    obs: DataFrame,
    item: DataItemSpec,
    obs_table_path: str,
) -> MergeStats:
    """Read the pruned target, align schemas, merge, overwrite its years.

    The single merge sequence of ``run_job`` and the streaming ingest;
    key-integrity failures surface as RecordKeyError, an observation
    dated outside the item's window as ValueError, both before anything
    is published. The target is a snapshot table (created on the first
    merge); a plain parquet table raises ValueError untouched until
    :func:`convert_plain_table` ran.

    Concurrency: MERGE is read-merge-write, so the years publish with
    compare-and-swap (``expected_version`` = the version the merge
    read); a CAS loss re-reads the NEW snapshot and redoes the whole
    merge -- serializable isolation, never a lost update. Retries are
    bounded: pathological contention fails loudly rather than spins.
    """
    from station_data_ingestion_spark.plans.snapshot_store import ConcurrentCommitError

    obs_in = _guard_window(obs, item)
    last_conflict: Exception | None = None
    for _attempt in range(_MAX_MERGE_REDO_ATTEMPTS):
        snap = _obs_table(spark, obs_table_path)
        expected = snap.latest_version()
        if expected is None and _plain_slice_dirs(spark, obs_table_path):
            raise ValueError(
                f"{obs_table_path} is a plain parquet table; convert it once "
                "with plans.runner.convert_plain_table(spark, path)"
            )
        target, retire = _merge_target(snap, expected, item)
        if target is None:
            target = _empty_obs(spark, item)
        obs, target = _align_union_columns(obs_in, target)
        merged, finish = merge_observed(
            target, obs, item.key_fields, replace=item.replace_duplicates
        )
        try:
            # NOT clustered: repartitionByRange samples its child plan,
            # which would evaluate the merge plan (and its created/replaced
            # stat aggregation) twice. Zone-map stats still record;
            # SnapshotTable.recluster_partition re-clusters a slice offline
            # when date pruning matters.
            snap.commit_overwrite_partitions(
                merged, expected_version=expected or 0, also_replace=retire
            )
        except ConcurrentCommitError as e:
            last_conflict = e
            continue
        except Exception as e:
            for msg in (_MULTI_MATCH_MSG, _DUP_UPDATE_MSG):
                if msg in str(e):
                    raise RecordKeyError(msg) from e
            if _OUT_OF_WINDOW_MSG in str(e):
                raise ValueError(
                    f"{_OUT_OF_WINDOW_MSG} [{', '.join(_window(item))}]"
                ) from e
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

    A cron-sized group is parsed on the driver (see
    :func:`read_wide_units`), so a cold run starts no Python worker.

    ``metadata_transport``: optional zero-arg factory returning a sink
    transport (see operators.sinks). When given, the station metadata of
    each group's files (one union for a batch; a ranged file's only on
    its first contact) is planned (the metadata CSV scan) and written
    through it as sparse JSON docs (nodata fields dropped [reference:
    src/driver.py:144-152]) on a background thread, side by side with the
    group's parse, merge and publish, and joined before the file's
    manifest record. The observation publish does
    not wait for the docs: if the metadata write fails, the merge may be
    published but the file is not recorded, so a re-run replays the
    (idempotent) merge and rewrites the docs. A failure on either side is
    raised (the merge's, if both fail), and only once no metadata write is
    running.
    """
    manifest = Manifest(manifest_path) if manifest_path else None
    group_size = ranges_per_commit or spark.sparkContext.defaultParallelism
    results: dict[str, MergeStats] = {}
    # Station metadata is planned and written on this one background thread
    # while the calling thread parses and merges.
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

                    def metas(paths=paths, layouts=layouts, item=item):
                        return [
                            metadata_from_wide(
                                scan_wide_csv(spark, p, layouts[p].columns),
                                classify_headers(layouts[p].columns, item)[0],
                                job.location,
                            )
                            for p in paths
                        ]
                else:  # glob / hdfs:// path: the declarative parse, one group
                    obs, meta = ingest_wide_csv(spark, paths[0], item, job.location)
                    groups, metas = [None], lambda meta=meta: [meta]
                docs = None
                if metadata_transport is not None and not done:

                    def write_metadata(metas=metas, item=item):
                        # planned here, on the docs thread: a cold plan of
                        # the metadata scan takes about a second, and must
                        # not hold up the parse and merge
                        meta = reduce(
                            lambda a, b: a.unionByName(b, allowMissingColumns=True), metas()
                        )
                        write_docs(
                            sparse_json_docs(meta, nodata=item.nodata),
                            metadata_transport,
                            retries=job.retries,
                            max_parallelism=job.concurrency,
                        )

                    docs = docs_pool.submit(inheritable_thread_target(spark)(write_metadata))
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
