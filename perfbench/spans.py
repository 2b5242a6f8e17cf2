"""Spans around the benchmark's calls into the engine, and Spark's own
counts for each span.

A :class:`Tracer` keeps spans in memory (name, start, end, parent, op id)
and gives every span its own Spark job group, so jobs are counted per
span with the public ``statusTracker().getJobIdsForGroup``. With tracing
off it still times spans but touches no Spark state.

:func:`read_event_log` reads an uncompressed Spark event log and sums,
per job group, bytes scanned, written and shuffled, rows and files
written, and the rows MapInPandas nodes emitted.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager


class Tracer:
    """In-memory spans of one process; job groups only when enabled."""

    def __init__(self, enabled: bool, prefix: str = "pb"):
        self.enabled = enabled
        self.prefix = f"{prefix}{os.getpid()}"
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._sc = None

    def attach(self, spark) -> None:
        """Start assigning job groups on this session (tracing only)."""
        if self.enabled:
            self._sc = spark.sparkContext

    @contextmanager
    def span(self, name: str, op: int | None = None):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": op if op is not None else (parent["op"] if parent else None),
            "group": f"{self.prefix}-{len(self.spans)}",
            "start": time.perf_counter(),
            "end": None,
            "jobs": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        sc = self._sc
        if sc is not None:
            sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if sc is not None:
                rec["jobs"] = len(sc.statusTracker().getJobIdsForGroup(rec["group"]))
                if self._stack:
                    sc.setJobGroup(self._stack[-1]["group"], self._stack[-1]["name"])
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)


def span_s(rec: dict) -> float:
    return rec["end"] - rec["start"]


def self_time(spans: list[dict], rec: dict) -> float:
    """A span's duration minus what its direct children cover."""
    kids = sum(span_s(s) for s in spans if s["parent"] == rec["id"])
    return span_s(rec) - kids


_TASK_SUMS = {
    "internal.metrics.input.bytesRead": "bytes_read",
    "internal.metrics.input.recordsRead": "records_read",
    "internal.metrics.output.bytesWritten": "bytes_written",
    "internal.metrics.output.recordsWritten": "records_written",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_bytes",
}
_FIELDS = ("jobs", "stages", *_TASK_SUMS.values(), "files_written", "mip_rows")


def _plan_metrics(info: dict, out: dict[int, tuple[str, str]]) -> None:
    """accumulator id -> (plan node name, metric name), whole plan tree."""
    for m in info.get("metrics", []):
        out[int(m["accumulatorId"])] = (info.get("nodeName", ""), m["name"])
    for child in info.get("children", []):
        _plan_metrics(child, out)


def read_event_log(path: str) -> dict[str, dict[str, int]]:
    """Per job group: jobs, stages and the sums named in ``_FIELDS``.

    Stage figures come from each completed stage's accumulables. SQL
    metrics are cumulative per accumulator, so for those the largest
    value seen is the total; written-file counts arrive as driver
    accumulator updates keyed by SQL execution id.
    """
    groups: dict[str, dict[str, int]] = {}
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    acc_name: dict[int, tuple[str, str]] = {}
    sql_max: dict[int, tuple[str, int]] = {}

    def bucket(g: str) -> dict[str, int]:
        return groups.setdefault(g, dict.fromkeys(_FIELDS, 0))

    with open(path, encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                g = props.get("spark.jobGroup.id") or ""
                bucket(g)["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(int(sid), g)
                eid = props.get("spark.sql.execution.id")
                if eid is not None:
                    exec_group.setdefault(int(eid), g)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                g = stage_group.get(int(info["Stage ID"]), "")
                b = bucket(g)
                b["stages"] += 1
                for acc in info.get("Accumulables", []):
                    name = acc.get("Name", "")
                    if name in _TASK_SUMS:
                        b[_TASK_SUMS[name]] += int(acc.get("Value") or 0)
                        continue
                    aid = int(acc["ID"])
                    node, metric = acc_name.get(aid, ("", ""))
                    if node == "MapInPandas" and metric == "number of output rows":
                        v = int(acc.get("Value") or 0)
                        if v > sql_max.get(aid, ("", -1))[1]:
                            sql_max[aid] = (g, v)
            elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                _plan_metrics(ev.get("sparkPlanInfo", {}), acc_name)
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                g = exec_group.get(int(ev["executionId"]), "")
                for aid, value in ev.get("accumUpdates", []):
                    if acc_name.get(int(aid), ("", ""))[1] == "number of written files":
                        bucket(g)["files_written"] += int(value)
    for g, v in sql_max.values():
        bucket(g)["mip_rows"] += v
    return groups


def event_log_file(log_dir: str) -> str:
    """The single finished event log a stopped session left in log_dir."""
    names = [n for n in os.listdir(log_dir) if not n.endswith(".inprogress")]
    if len(names) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {names}")
    return os.path.join(log_dir, names[0])


def eventlog_conf(log_dir: str) -> dict[str, str]:
    """Session settings for an uncompressed event log in log_dir."""
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }
