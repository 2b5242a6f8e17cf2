"""Wide station-matrix CSV source -> long observation / metadata DataFrames.

The reference's whole dataflow essence [reference: src/driver.py:136-170,
src/tapis_direct_driver.py:84-184]:

    header classify (driver-side, on names only) -> prune date columns
    -> unpivot (wide->long) -> filter(value != nodata)
    -> strict cast to double -> attach literal columns

One ingestion path runs it for every file the driver can open:
:func:`plan_wide_units` (driver) parses each header once and cuts files
into ``(path, start, end)`` byte-range work units (also the runner's unit
of resume); :func:`read_wide_units` parses them with pyarrow's C++ CSV
parser: on the driver for a group as small as a cron day (no Python
worker to start), in executor tasks otherwise. The declarative
:func:`observations_from_wide` is the streaming transform, the test
reference, and the fallback for paths the driver cannot open (globs,
directories, hdfs:// URIs).

Semantic traps handled (SURVEY §7):
- nodata is a STRING sentinel compared post-read, never null
  [src/driver.py:141 keep_default_na=False] -> we read with an all-string
  schema, emptyValue="" and nullValue unset so "NA" survives literally.
- station IDs stay strings [src/driver.py:141 dtype={"SKN": str}].
- cast failure must RAISE, not null [src/tapis_direct_driver.py:145] ->
  raise_error guard on (cast IS NULL AND raw != nodata AND raw != '').
- inclusive-both-ends date range [src/driver.py:54-55,115].
- unknown header columns dropped [src/driver.py:46-57].
"""

from __future__ import annotations

import csv
import os
from collections import Counter
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from station_data_ingestion_spark.functions.dates import header_to_iso, is_date_header
from station_data_ingestion_spark.plans.jobspec import (
    METADATA_COL_TRANSLATIONS,
    DataItemSpec,
)


def _c(name: str) -> F.Column:
    """Column ref for raw header names, which may contain dots (ELEV.m.)."""
    return F.col(f"`{name}`")


def read_header(spark: SparkSession, path: str) -> list[str]:
    """Read just the header row of a CSV (driver-side, one small read)."""
    return spark.read.option("header", True).csv(path).columns


def classify_headers(
    columns: list[str], spec: DataItemSpec
) -> tuple[dict[str, str], list[str]]:
    """Classify header columns -> (metadata renames, in-range date columns).

    Anything else is dropped. Runs on the driver over column names only.
    Replicates the clean (pandas-path) semantics of the reference's
    filter_cols [reference: src/driver.py:44-76]; the streaming path's
    range_start quirk [src/tapis_direct_driver.py:128-129] is intentionally
    not replicated (SURVEY §7 trap 7).
    """
    rng = spec.date_range
    meta: dict[str, str] = {}
    dates: list[str] = []
    for i, c in enumerate(columns):
        if c in METADATA_COL_TRANSLATIONS:
            meta[c] = METADATA_COL_TRANSLATIONS[c]
        elif (
            i >= spec.data_col_start
            and is_date_header(c, spec.period)
            and rng.contains_header(c)
        ):
            # positional contract: a date-SHAPED header before
            # data_col_start is not data [reference:
            # src/tapis_direct_driver.py:128-129 range_start slicing]
            dates.append(c)
    return meta, dates


def scan_wide_csv(spark: SparkSession, path: str, columns: list[str]) -> DataFrame:
    """All-string CSV scan preserving sentinel strings exactly.

    inferSchema stays OFF so numeric-looking station IDs (e.g. "39.20")
    keep their text form; no nullValue so "NA" is a real string.
    """
    schema = T.StructType([T.StructField(c, T.StringType(), True) for c in columns])
    return (
        spark.read.option("header", True)
        .option("mode", "PERMISSIVE")
        .option("emptyValue", "")
        .schema(schema)
        .csv(path)
    )


def observations_from_wide(df: DataFrame, date_cols: list[str], spec: DataItemSpec) -> DataFrame:
    """Wide matrix -> long observation table.

    Output schema: station_id string, date string (ISO), value double,
    datatype/period/fill strings, + per-job additional property columns.
    """
    id_col = "SKN"
    if id_col not in df.columns:
        raise ValueError("wide matrix is missing the SKN station-id column")
    if not date_cols:
        # No in-range dates -> empty long table with the right schema,
        # derived FROM df (not createDataFrame) so a streaming input
        # stays a streaming DataFrame (writeStream-able empty stream).
        base = df.select(
            _c(id_col).alias("station_id"),
            F.lit(None).cast("string").alias("date"),
            F.lit(None).cast("double").alias("value"),
        ).filter(F.lit(False))
    else:
        # Unpivot via explode(map_from_arrays(iso_dates, value_cols)):
        # semantically identical to DataFrame.unpivot, but one array build
        # per input row instead of an Expand with |date_cols| projection
        # branches -- for station matrices with hundreds of date columns
        # the Expand's generated code blows past codegen limits and runs
        # ~3x slower than the explode form.
        iso_dates = F.array(
            *[F.lit(header_to_iso(c, spec.period)) for c in date_cols]
        )
        long_df = df.select(
            _c(id_col).alias("station_id"),
            F.explode(
                F.map_from_arrays(iso_dates, F.array(*[_c(c) for c in date_cols]))
            ).alias("date", "raw_value"),
        )
        # Row guards: skip empty/short rows (null station or null cell)
        # [reference: src/tapis_direct_driver.py:134-136] then the nodata
        # string filter [src/driver.py:162]. The != '' guard is the
        # documented drop-empty-cells divergence -- see
        # _parse_wide_csv_bytes for the rationale (shared semantics).
        filtered = long_df.filter(
            F.col("station_id").isNotNull()
            & F.col("raw_value").isNotNull()
            & (F.col("raw_value") != F.lit(""))
            & (F.col("raw_value") != F.lit(spec.nodata))
        )
        # Strict cast: the reference raises on a non-numeric non-nodata cell
        # [src/tapis_direct_driver.py:145]. try_cast nulls the garbage, then
        # the raise_error guard surfaces the domain error inside the same
        # expression (no extra pass; ANSI-mode-independent).
        value = F.col("raw_value").try_cast("double")
        base = filtered.select(
            "station_id",
            "date",
            F.when(
                value.isNull(),
                F.raise_error(
                    F.concat(
                        F.lit("non-numeric observation value: "), F.col("raw_value")
                    )
                ).cast("double"),
            )
            .otherwise(value)
            .alias("value"),
        )
    for k, v in spec.static_properties.items():
        base = base.withColumn(k, F.lit(v).cast("string"))
    return base


def _parse_wide_csv_bytes(
    buf: bytes,
    cols: list[str],
    dcols: list[str],
    iso_dates: list[str],
    nodata: str,
):
    """Arrow parse core of the unit reader: wide-CSV bytes -> long Arrow table.

    pyarrow.csv C++ parse with all-string columns (no null coercion, so
    the nodata sentinel survives literally), column-major unpivot as an
    Arrow column-stack, sentinel/empty filter, and the strict
    raise-on-garbage cast. Rows whose field count differs from the
    header (truncated tails, stub rows) are pad/truncated to the header
    width, matching Spark's PERMISSIVE CSV mode and the reference's
    partial-row zip [reference: src/tapis_direct_driver.py:134-139] --
    their present in-range cells ARE ingested.

    DOCUMENTED DIVERGENCE (both engine paths, deliberately): an EMPTY
    in-range cell is dropped as missing, where the reference raises
    (float('') [src/tapis_direct_driver.py:145]); raising would contradict
    the pad/truncate contract, whose padded cells are ''. Whitespace-only
    cells still raise on both paths (they fail the numeric cast).
    Runs on the driver or inside executors; returns None when nothing
    survives.
    """
    import io

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.csv as pacsv

    include = ["SKN"] + list(dcols)
    cols = list(cols)
    invalid_lines: list[str] = []

    def _keep_invalid(row):
        invalid_lines.append(row.text)
        return "skip"

    tbl = pacsv.read_csv(
        io.BytesIO(buf),
        read_options=pacsv.ReadOptions(column_names=cols),
        parse_options=pacsv.ParseOptions(invalid_row_handler=_keep_invalid),
        convert_options=pacsv.ConvertOptions(
            column_types={c: pa.string() for c in include},
            include_columns=include,
            null_values=[],  # "NA" stays a literal string, like the JVM path
            strings_can_be_null=False,
        ),
    )
    if invalid_lines:
        # Rare path: re-parse the handful of wrong-width rows, padded to
        # the header width (missing -> "", extras truncated).
        padded = []
        for line in invalid_lines:
            if not line:
                continue
            fields = next(csv.reader([line]))
            padded.append((fields + [""] * len(cols))[: len(cols)])
        if padded:
            extra = pa.table(
                {
                    c: pa.array([r[cols.index(c)] for r in padded], type=pa.string())
                    for c in include
                }
            )
            tbl = pa.concat_tables([tbl, extra])
    n = tbl.num_rows
    if n == 0:
        return None
    ids = tbl.column("SKN").combine_chunks()
    # Column-major unpivot: every row's value for date column j, then
    # j+1, ... Order is irrelevant to the (unordered) result.
    value_raw = pa.chunked_array([tbl.column(c).combine_chunks() for c in dcols])
    station = pa.chunked_array([ids] * len(dcols))
    date_col = pa.chunked_array(
        [pa.array([iso] * n, type=pa.string()) for iso in iso_dates]
    )
    # blank station id drops the row, like the JVM path's isNotNull guard
    # (Spark's default nullValue turns the empty field into null there)
    keep = pc.and_(
        pc.and_(pc.not_equal(value_raw, ""), pc.not_equal(value_raw, nodata)),
        pc.not_equal(station, ""),
    )
    # trim before the cast: Arrow's string->double rejects ' 1.5' while
    # the declarative path's try_cast (and the reference's float()) trims
    # and accepts -- the two paths must agree on the same file
    vals = pc.utf8_trim_whitespace(value_raw.filter(keep))
    try:
        cast = pc.cast(vals, pa.float64())
    except pa.ArrowInvalid as e:
        raise ValueError(f"non-numeric observation value: {e}") from None
    return pa.table(
        {
            "station_id": station.filter(keep),
            "date": date_col.filter(keep),
            "value": cast,
        }
    )


def plan_file_ranges(path: str, split_bytes: int) -> list[tuple[int, int]]:
    """Tile a CSV file into newline-aligned byte ranges after the header.

    The distributed analog of the reference's in-file byte-position resume
    cursor [reference: README.md:41-43]: each range is a unit of resume
    (and of parallelism). Ranges are contiguous, start at the first data
    byte, and end just after a ``\\n``: whole lines, one seek each.
    """
    size = os.path.getsize(path)
    ranges: list[tuple[int, int]] = []
    with open(path, "rb") as f:
        f.readline()  # header
        start = f.tell()
        while start < size:
            target = start + split_bytes
            if target >= size:
                end = size
            else:
                f.seek(target)
                f.readline()  # advance to the next line boundary
                end = f.tell()
            ranges.append((start, end))
            start = end
    return ranges


# Bytes of whole lines one reader task parses at a time: ~4k rows of a
# 365-column matrix, under a 10k-line Arrow batch of the same file.
_READ_CHUNK_BYTES = 8 << 20
# Largest group the driver parses itself, in estimated output cells (data
# lines x in-range date columns): a cron day is ~600. Below this, starting
# a Python worker (seconds, in a cold process) costs more than the parse;
# above it, the driver's single-threaded parse loses to the executors'.
_DRIVER_PARSE_CELLS = 10_000
# The unit reader's output, as a StructType rather than DDL text: a cold
# JVM's first DDL parse takes ~0.5 s.
_UNIT_SCHEMA = T.StructType(
    [
        T.StructField("station_id", T.StringType()),
        T.StructField("date", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)


class WideLayout(NamedTuple):
    """One file's header, parsed once on the driver."""

    header_line: str
    columns: list[str]
    date_cols: list[str]
    iso_dates: list[str]


def classify_header_line(header_line: str, spec: DataItemSpec) -> WideLayout:
    """One header line -> its :class:`WideLayout` (in-range date columns).

    Applies the positional id_col -> SKN rename when the literal header
    is absent [reference: src/tapis_direct_driver.py:54-56]. Raises
    ValueError when there is no station-id column, or when a column that
    is read (SKN, metadata, in-range date) repeats: Spark's reader would
    silently rename both copies out of the date range. Blank or repeated
    names of unread columns become ``_c<index>``, as in Spark's reader.
    """
    cols = next(csv.reader([header_line]), [])
    if "SKN" not in cols and 0 <= spec.id_col < len(cols):
        cols = list(cols)
        cols[spec.id_col] = "SKN"
    if "SKN" not in cols:
        raise ValueError("wide matrix is missing the SKN station-id column")
    meta, date_cols = classify_headers(cols, spec)
    read = {"SKN", *meta, *date_cols}
    counts = Counter(cols)
    repeated = sorted(c for c in read if counts[c] > 1)
    if repeated:
        raise ValueError(f"wide matrix header repeats column(s) {repeated}")
    cols = [c if c and counts[c] == 1 else f"_c{i}" for i, c in enumerate(cols)]
    iso = [header_to_iso(c, spec.period) for c in date_cols]
    return WideLayout(header_line, cols, date_cols, iso)


def plan_wide_units(
    spark: SparkSession,
    paths: list[str],
    spec: DataItemSpec,
    split_bytes: int | None = None,
) -> tuple[list[tuple[str, int, int]], dict[str, WideLayout]]:
    """Driver-side planner: local files -> ``(path, start, end)`` work units.

    Reads each header with ``open()`` (no Spark job) and tiles each body
    with :func:`plan_file_ranges`: into ``split_bytes`` ranges when given
    (the manifest-pinned resume tiling, never moved by a conf), else into
    ranges of at most ``spark.sql.files.maxPartitionBytes``, each cut into
    ``defaultParallelism`` ranges when the file has more than 50 in-range
    date columns (spreads the few wide rows before the ~|date_cols|x
    fan-out). A file with no in-range date columns gets no units.
    """
    parallelism = spark.sparkContext.defaultParallelism
    max_bytes = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    units: list[tuple[str, int, int]] = []
    layouts: dict[str, WideLayout] = {}
    for path in paths:
        with open(path, "rb") as f:
            header_line = f.readline().decode("utf-8", errors="replace").rstrip("\r\n")
        try:
            layouts[path] = layout = classify_header_line(header_line, spec)
        except ValueError as e:
            raise ValueError(f"{e}: {path}") from None
        if not layout.date_cols:
            continue
        split = split_bytes
        if split is None:
            split = min(os.path.getsize(path), max_bytes)
            if len(layout.date_cols) > 50:
                split = -(-split // parallelism)
        units += [(path, s, e) for s, e in plan_file_ranges(path, split)]
    return units, layouts


def _read_chunks(path: str, start: int, end: int, chunk: int):
    """Whole-line chunks of about ``chunk`` bytes of one unit's range."""
    # units end just after a newline (or at EOF), so completing the last
    # line of a chunk with readline never reads past ``end``
    with open(path, "rb") as f:
        f.seek(start)
        while f.tell() < end:
            raw = f.read(min(chunk, end - f.tell()))
            yield (raw + f.readline()) if f.tell() < end else raw


def _data_lines(raw: bytes, layout: WideLayout) -> list[str]:
    """A chunk's lines, less any repeat of its file's header line."""
    return [
        ln for ln in raw.decode("utf-8", errors="replace").splitlines()
        if ln != layout.header_line
    ]


def _parse_lines(lines: list[str], layout: WideLayout, nodata: str):
    """Parse one chunk's data lines; an Arrow table, or None when empty."""
    if not lines:
        return None
    buf = ("\n".join(lines) + "\n").encode("utf-8")
    return _parse_wide_csv_bytes(
        buf, layout.columns, layout.date_cols, layout.iso_dates, nodata
    )


def _parse_on_driver(units, layouts, nodata: str):
    """The group's long Arrow table, parsed here, or None when the group
    is over the driver bounds: more bytes than one ``_READ_CHUNK_BYTES``
    read, or more than ``_DRIVER_PARSE_CELLS`` estimated output cells."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if sum(e - s for _p, s, e in units) > _READ_CHUNK_BYTES:
        return None
    chunks = [
        (_data_lines(raw, layouts[p]), layouts[p])
        for p, s, e in units
        for raw in _read_chunks(p, s, e, _READ_CHUNK_BYTES)
    ]
    if sum(len(ln) * len(lay.date_cols) for ln, lay in chunks) > _DRIVER_PARSE_CELLS:
        return None
    tables = [t for ln, lay in chunks if (t := _parse_lines(ln, lay, nodata)) is not None]
    return pa.concat_tables(tables) if tables else to_arrow_schema(_UNIT_SCHEMA).empty_table()


def read_wide_units(
    spark: SparkSession,
    units: list[tuple[str, int, int]],
    layouts: dict[str, WideLayout],
    spec: DataItemSpec,
) -> DataFrame:
    """Unit reader: parse one group of byte-range units into long observations.

    Same output schema and semantics as :func:`observations_from_wide`
    (nodata/empty filter, strict raise-on-garbage cast, PERMISSIVE-style
    pad/truncate of wrong-width rows, static property columns) with one
    documented divergence: a mid-file line identical to the header is
    dropped rather than a strict-cast error (the concatenated-files case).

    Placement. A group whose bytes fit in one ``_READ_CHUNK_BYTES`` read
    and whose estimated output (data lines x in-range date columns) is at
    most ``_DRIVER_PARSE_CELLS`` -- a cron day -- is parsed right here on
    the driver and handed to Spark as an Arrow table: no Python worker
    starts (in a cold process that start, not the parse, was the cron's
    critical path) and the plan has no Python stage. If that parse
    raises, the group goes to the executor reader below, so a bad cell
    still fails lazily, when the plan runs, with the same message.

    Larger groups are read in executors: units are addressed by id from
    a ``spark.range`` (one row per unit, at most ``defaultParallelism``
    partitions, no Exchange); each task seeks into its file and runs
    pyarrow.csv's C++ parse (:func:`_parse_wide_csv_bytes`) on whole-line
    chunks of about ``_READ_CHUNK_BYTES``, so its memory is bounded
    whatever the unit size. Paths must be readable from executors
    (shared FS). Quoted embedded newlines are not supported (nor by the
    reference's line-streamed HTTP scan [src/tapis_direct_driver.py:104-107]).
    """
    layouts = {p: layouts[p] for p, _s, _e in units}
    nodata, chunk = spec.nodata, _READ_CHUNK_BYTES
    try:
        parsed = _parse_on_driver(units, layouts, nodata)
    except Exception:  # surfaces, lazily, from the executor reader
        parsed = None
    if parsed is not None:
        base = spark.createDataFrame(parsed, _UNIT_SCHEMA)
    else:

        def parse_units(batches):
            for pdf in batches:
                for uid in pdf["id"]:
                    path, start, end = units[uid]
                    layout = layouts[path]
                    for raw in _read_chunks(path, start, end, chunk):
                        out = _parse_lines(_data_lines(raw, layout), layout, nodata)
                        if out is not None:
                            yield out.to_pandas()

        n = len(units)
        ids = spark.range(
            n, numPartitions=max(1, min(n, spark.sparkContext.defaultParallelism))
        )
        base = ids.mapInPandas(parse_units, _UNIT_SCHEMA)
    for k, v in spec.static_properties.items():
        base = base.withColumn(k, F.lit(v).cast("string"))
    return base


def metadata_from_wide(df: DataFrame, meta_renames: dict[str, str], location: str) -> DataFrame:
    """Station metadata branch [reference: src/driver.py:144-151].

    Injects id_field="skn" and station_group=f"{location}_climate_primary".
    nodata-valued fields are NOT dropped here (a DataFrame has fixed
    schema); the sparse per-record drop happens at serialization time in
    sinks.sparse_json_docs.
    """
    cols = [_c(src).alias(dst) for src, dst in meta_renames.items()]
    return df.select(*cols).withColumns(
        {
            "id_field": F.lit("skn"),
            "station_group": F.lit(f"{location}_climate_primary"),
        }
    )


def ingest_wide_csv(
    spark: SparkSession,
    path: str,
    spec: DataItemSpec,
    location: str = "hawaii",
    fast: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Full ingestion program for one wide CSV: (observations, metadata).

    The station-id column is found by name (SKN, the pandas-path spec);
    if absent, the config's positional ``id_col`` designates it
    [reference: src/tapis_direct_driver.py:54-56, README.md:36] and that
    column is treated as SKN.

    A file the driver can ``open()`` is planned with
    :func:`plan_wide_units` and, with ``fast`` (default), parsed by
    :func:`read_wide_units`. Other paths (globs, directories, hdfs:// URIs)
    and ``fast=False`` use the declarative :func:`observations_from_wide`.
    The metadata branch always reads via the JVM CSV scan, which Catalyst
    prunes to just the metadata columns.
    """
    local = os.path.isfile(path)
    if local:
        units, layouts = plan_wide_units(spark, [path], spec)
        columns = layouts[path].columns
    else:
        columns = read_header(spark, path)
        if "SKN" not in columns and 0 <= spec.id_col < len(columns):
            columns = list(columns)
            columns[spec.id_col] = "SKN"
    meta_renames, date_cols = classify_headers(columns, spec)
    df = scan_wide_csv(spark, path, columns)
    meta = metadata_from_wide(df, meta_renames, location)
    if local and fast:
        return read_wide_units(spark, units, layouts, spec), meta
    df = df.select(*[_c(c) for c in list(meta_renames) + date_cols])
    # One small CSV = one input split, but the unpivot fans each wide row
    # out ~|date_cols| times: spread the few wide rows BEFORE the expansion
    # (many files already give enough splits; AQE coalesces the exchange).
    parallelism = spark.sparkContext.defaultParallelism
    if len(date_cols) > 50 and df.rdd.getNumPartitions() < parallelism:
        df = df.repartition(parallelism)
    return observations_from_wide(df, date_cols, spec), meta
