"""A fresh driver process, the way a cron container runs one ingest.

Usage: python perfbench/proc.py REQUEST.json

The request names a config file (a cron template when ``day`` is set),
the table, a resume-manifest path and a metadata directory. The process
imports the engine, starts a session, runs ``run_job`` and counts the
table with ``read_table``. Before stopping Spark it reads the peak RSS
(``VmHWM``) of itself and of its JVM. Its last stdout line is a JSON
result.

With ``"replay"`` set (traced runs only) the process then replays the
same day, now warm, against copies of the starting table: a warm
``run_job``, then :func:`layers.replay_layers`.
"""

from __future__ import annotations

import time

# before the imports: a cron op pays for importing the engine
T_START = time.perf_counter()

import json  # noqa: E402
import os  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from datetime import date  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from spans import Tracer, eventlog_conf  # noqa: E402


def vmhwm_mb(pid: int | str = "self") -> float:
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid  # noqa: SLF001


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to end. The JVM exits when
    its stdin closes; pyspark only does that when Python exits."""
    proc = spark.sparkContext._gateway.proc  # noqa: SLF001
    spark.stop()
    from pyspark import SparkContext

    SparkContext._gateway.shutdown()  # noqa: SLF001
    SparkContext._gateway = None  # noqa: SLF001
    SparkContext._jvm = None  # noqa: SLF001
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def job_overhead_ms(spark, n: int = 5) -> float:
    """Median wall time of a trivial one-partition job: the machine's
    per-Spark-job constant."""
    ts = []
    for _ in range(n):
        t0 = time.perf_counter()
        spark.range(1000).count()
        ts.append((time.perf_counter() - t0) * 1000)
    return sorted(ts)[n // 2]


def main(request_path: str) -> dict:
    with open(request_path, encoding="utf-8") as f:
        req = json.load(f)
    trace = bool(req.get("trace"))
    tr = Tracer(trace, prefix="cron")
    with tr.span("session.import"):
        from station_data_ingestion_spark import get_spark, run_job

        import layers
    with tr.span("session.get_spark"):
        extra = eventlog_conf(req["eventlog_dir"]) if trace else None
        spark = get_spark(extra_conf=extra)
    try:
        spark.sparkContext.setLogLevel("ERROR")
        tr.attach(spark)
        day = date.fromisoformat(req["day"]) if req.get("day") else None
        job = layers.templated_job(req["config"], day)
        op = int(req.get("op", 0))
        out = layers.ingest_op(spark, tr, job, req["table"], req.get("manifest"), req["meta_dir"], op)
        out["op_inner_s"] = time.perf_counter() - T_START
        if req.get("job_overhead"):
            out["job_overhead_ms_end"] = job_overhead_ms(spark)
        replay = req.get("replay")
        if replay:
            # the same day again, now warm, on copies of the starting table
            with tr.span("runner.run_job_warm", op):
                run_job(spark, job, replay["warm"], None,
                        metadata_transport=layers.docs_transport(replay["warm"] + ".docs"))
            with tr.span("replay", op):
                out["replay"] = layers.replay_layers(
                    spark, tr, job, replay["layers"], replay["layers"] + ".docs", op
                )
            out["job_overhead_ms_end"] = job_overhead_ms(spark)
        out["rss_mb"] = vmhwm_mb() + vmhwm_mb(jvm_pid(spark))
    finally:
        stop_spark(spark)
    out["spans"] = tr.spans
    return out


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    result = main(sys.argv[1])
    sys.stdout.write("\n" + json.dumps(result) + "\n")
