#!/usr/bin/env python
"""Build the class-data-sharing archive that ``get_spark`` starts its
driver JVM from (README "Cold start").

Usage: python tools/build_cds_archive.py

Run it once per host, or at container-image build time with
``XDG_CACHE_HOME`` set to a directory inside the image (and the same
``XDG_CACHE_HOME`` at run time). It starts a driver and runs a small
cron day: a wide station CSV merged into a snapshot table, then revised
and merged again (created and replaced rows, metadata docs), the table
read back and aggregated. Its JVM then dumps the classes it loaded. The
archive path is printed. An archive that exists is kept: delete the
``cds/`` directory to rebuild. Exits 1 when the dump failed (nothing is
published then) and 2 when no archive can be used here.
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
# the Python workers of the ingest import this checkout too
os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [sys.path[0], os.environ.get("PYTHONPATH")]))

from station_data_ingestion_spark import JobSpec, read_table, run_job  # noqa: E402
from station_data_ingestion_spark.operators.sinks import jsonl_dir_transport  # noqa: E402
from station_data_ingestion_spark.session import build_cds_archive  # noqa: E402

HEADER = "SKN,Station.Name,Observer,Network,Island,ELEV.m.,LAT,LON,NCEI.id"
DAYS = [f"2024.01.{d:02d}" for d in range(1, 8)]


def write_day_file(path: str, revision: int) -> None:
    """40 stations by 7 days; a later revision changes the last day only,
    so merging it replaces rows and creates none."""
    lines = [HEADER + "," + ",".join(f"X{d}" for d in DAYS)]
    for s in range(40):
        last = len(DAYS) - 1
        cells = ["NA" if (s + k) % 9 == 0 else f"{(s * 7 + k * 3 + revision * (k == last)) % 50}.{s % 10}"
                 for k in range(len(DAYS))]
        lines.append(f"{1000 + s:04d},Station {s},obs,NWS,Oahu,{10 + s},21.3,-157.8,NA," + ",".join(cells))
    with open(path, "w", encoding="utf-8") as f:
        f.write("\n".join(lines) + "\n")


def cron_day(spark) -> None:
    with tempfile.TemporaryDirectory() as work:
        csv = os.path.join(work, "24_01.csv")
        job = JobSpec.from_dict({"location": "hawaii", "data": [{
            "files": [csv], "datatype": "rainfall", "period": "day", "fill": "raw",
            "start_date": "2024-01-01", "end_date": "2024-01-07"}]})
        table = os.path.join(work, "table")
        for revision in (0, 1):
            write_day_file(csv, revision)
            run_job(spark, job, table, os.path.join(work, f"manifest{revision}.json"),
                    staging_dir=os.path.join(work, "staging"),
                    metadata_transport=lambda: jsonl_dir_transport(os.path.join(work, "docs")))
        df = read_table(spark, table)
        df.count()
        df.groupBy("station_id").count().collect()


def main() -> int:
    try:
        archive = build_cds_archive(cron_day)
    except RuntimeError as e:
        print(f"no archive: {e}", file=sys.stderr)
        return 1
    if archive is None:
        print("no archive can be used here: a Spark context or gateway is attached, "
              "the Spark conf directory holds a real file, or no JDK was found", file=sys.stderr)
        return 2
    print(archive)
    return 0


if __name__ == "__main__":
    sys.exit(main())
