"""Versioned-snapshot parquet table: transactional partition overwrite.

This is the one layout of the observation merge target. Rewriting
partition directories in place (Spark's dynamic partition overwrite) is
safe for one local/HDFS writer only: concurrent readers can list a
half-swapped directory, and object stores have no atomic directory
rename. This module gives the merge target Delta-style semantics with
nothing but parquet + JSON (an old plain ``datatype=/period=`` table
converts once with ``plans.runner.convert_plain_table``):

- data files are immutable and live in ONE hive-partitioned tree
  ``<table>/data/datatype=X/period=Y/<commit>-part-*.parquet``; a commit
  never deletes or rewrites a data file
- each commit writes its files to a private staging dir, renames them into
  the tree (file renames: metadata ops on HDFS, single-object copies on
  S3 -- the same shape as Spark's own commit protocols), then atomically
  publishes ``_snapshots/v{N}.json`` listing every live file
- the publish is an atomic rename-without-overwrite: two racing writers
  cannot both create v{N}; the loser re-reads the new latest manifest,
  rebases its (purely declarative) file-list edit, and retries -- giving
  optimistic concurrency WITHOUT rewriting any data
- readers resolve the latest manifest once and scan an explicit file
  list, so a snapshot stays readable forever: a concurrent commit, or a
  crash between staging and publish, can never make a reader see a
  half-written table (crash leaves unreferenced files; ``vacuum`` reaps)

At 100 TB the manifest also beats directory listing: `read(partition=...)`
prunes FILES driver-side before Spark ever lists anything, which on an
object store saves the LIST storm that plain partition discovery pays.

This is the operational contract of the reference's safely-rerunnable
ingestion loop [reference: README.md:41-43] made concurrent-reader-safe.
"""

from __future__ import annotations

import json
import os
import re
import uuid
import weakref

from pyspark.sql import DataFrame, SparkSession

_SNAPDIR = "_snapshots"
_REFS = "_refs"
_BRANCHES = "_branches"
_STAGING = "_staging"
_PENDING = "_pending"
_CHANGES = "_changes"
_DELETES = "_deletes"

# column-mask policy kinds accepted by SnapshotTable.set_column_mask
_MASK_KINDS = ("hash", "partial", "nullify", "bucket")

# Lossless numeric type widenings (Delta type-widening table):
# metadata-only promotion, existing files cast after scan.
_WIDENINGS = {
    ("tinyint", "smallint"), ("tinyint", "int"), ("tinyint", "bigint"),
    ("smallint", "int"), ("smallint", "bigint"),
    ("int", "bigint"),
    ("float", "double"),
    ("tinyint", "double"), ("smallint", "double"), ("int", "double"),
}
_MAX_COMMIT_ATTEMPTS = 20


class ConcurrentCommitError(RuntimeError):
    """Raised when a commit loses the publish race too many times."""


class ChangeFeedUnavailableError(RuntimeError):
    """Raised when read_change_feed covers a commit whose row-level
    changes were neither recorded at write time nor derivable
    structurally (e.g. restore, recluster without the cdf marker)."""


def _fs(spark: SparkSession, path_str: str):
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(path_str)
    return path.getFileSystem(spark._jsc.hadoopConfiguration()), path, jvm


_ROOT_KEYS: "weakref.WeakKeyDictionary[SparkSession, dict[str, str]]" = (
    weakref.WeakKeyDictionary()
)


def _root_key(spark: SparkSession, path_str: str) -> str:
    """Identity key for data-root comparisons (clone bases, DV roots).

    Hadoop's makeQualified resolves scheme + authority (file:/x,
    s3a://bucket/x) and absolutizes bare local paths against the
    filesystem's working directory, so equality works for object-store
    URIs and does not depend on the Python process CWD —
    ``os.path.abspath`` would join an s3:// URI onto the CWD and break
    both properties. Root sets are tiny but the comparisons run once
    per manifest entry, so resolved keys are memoized.

    Memoized per (session, path): a raw relative path resolves against
    the filesystem working directory at call time, and fs.defaultFS can
    differ between sessions — a process-global cache keyed on the raw
    string could serve a stale root across a CWD change or a second
    session and mis-classify clone/DV roots, so relative paths are
    never cached and absolute ones are keyed under their session."""
    is_abs = "://" in path_str or path_str.startswith(("/", "file:"))
    cache = None
    if is_abs:
        cache = _ROOT_KEYS.setdefault(spark, {})
        key = cache.get(path_str)
        if key is not None:
            return key
    fs, path, _ = _fs(spark, path_str)
    key = fs.makeQualified(path).toString().rstrip("/")
    if cache is not None:
        cache[path_str] = key
    return key


def _path_part(spark: SparkSession, path_str: str) -> str:
    """Scheme-stripped absolute path of a root — the substring a parquet
    scan's ``_metadata.file_path`` URI contains regardless of how the
    reader renders the scheme (``file:/x`` vs ``file:///x``)."""
    fs, path, _ = _fs(spark, path_str)
    return fs.makeQualified(path).toUri().getPath().rstrip("/")


def _list_parquet_rel(spark: SparkSession, root: str) -> list[str]:
    """Recursively list parquet files under root, as root-relative paths."""
    fs, path, _ = _fs(spark, root)
    if not fs.exists(path):
        return []
    out = []
    it = fs.listFiles(path, True)
    prefix = fs.makeQualified(path).toString().rstrip("/") + "/"
    while it.hasNext():
        p = it.next().getPath().toString()
        if p.endswith(".parquet"):
            out.append(p.removeprefix(prefix))
    return out


# Footer-stats fast path: per-file min/max read from parquet FOOTERS
# instead of re-scanning staged data with a Spark job (Iceberg collects
# the same stats writer-side; the footer already holds them). The fast
# path is correctness-gated per column type: anything whose footer
# bounds could diverge from an exact scan falls back to the scan —
#  - FLOAT/DOUBLE: parquet writers EXCLUDE NaN from min/max while a
#    Spark scan orders NaN above +inf, so a footer bound could wrongly
#    prune a file whose NaN rows match a range;
#  - DECIMAL / INT96 / unsigned ints: representation mismatch risk;
#  - long BINARY values: parquet-mr drops stats past ~4 KB
#    (has_min_max=False), which the gate below treats as "fall back".
# Values that survive the gate are bit-identical to what the scan path
# collects (str/int/bool/date), so pruning semantics are unchanged.
_FOOTER_DISTRIBUTED_THRESHOLD = 256


def _footer_one_file(abs_path: str, cols: list[str]) -> dict | None:
    """Min/max/null-safe stats for ONE parquet file, from its footer.
    Returns {col: [mn, mx], "__rows": n} or None = "cannot certify,
    use the exact scan". Runs driver-side or inside an executor task."""
    import pyarrow.parquet as _pq

    p = abs_path
    if p.startswith("file:"):
        from urllib.parse import unquote, urlparse

        p = unquote(urlparse(p).path)
    try:
        md = _pq.ParquetFile(p).metadata
    except Exception:  # noqa: BLE001 -- unreadable footer => exact scan
        return None
    # column name -> list of (statistics, rg_rows) across row groups
    per_col: dict[str, list] = {c: [] for c in cols}
    for g in range(md.num_row_groups):
        rg = md.row_group(g)
        seen = set()
        for i in range(rg.num_columns):
            c = rg.column(i)
            name = c.path_in_schema
            if name in per_col:
                per_col[name].append((c, rg.num_rows))
                seen.add(name)
        for name in cols:
            if name not in seen:
                per_col[name].append((None, rg.num_rows))
    out: dict = {"__rows": int(md.num_rows)}
    for name in cols:
        mn = mx = None
        for c, rg_rows in per_col[name]:
            if c is None:
                return None  # column absent from a row group
            ok, lo_v, hi_v = _footer_rg_bounds(c, rg_rows)
            if not ok:
                return None
            if lo_v is not None and (mn is None or lo_v < mn):
                mn = lo_v
            if hi_v is not None and (mx is None or hi_v > mx):
                mx = hi_v
        out[name] = [mn, mx]
    return out


# Footer-SCHEMA cache: merged-schema reads (schema evolution) used to
# run Spark's mergeSchema inference, which opens EVERY live footer on
# EVERY read of an evolved table — O(files) work per read at 100-TB
# scale. Data files in this store are immutable (commits only ever add
# new paths), so each footer's schema is read ONCE per process, cached
# by (path, size, mtime), merged driver-side, and handed to the reader
# as an explicit .schema(...) — Spark then skips footer inference
# entirely; missing columns null-fill exactly as mergeSchema does
# (VERDICT r10 item #2). Correctness gate mirrors the footer-stats one:
# any arrow type outside the unambiguous allowlist (timestamps, INT96,
# decimals, unsigned ints, ...) or any same-name type conflict falls
# back to mergeSchema, byte-for-byte the old behavior.
# ``SPARK_GRAFT_FOOTER_SCHEMA=0`` force-disables the fast path.
_FOOTER_SCHEMA_CACHE: dict[tuple, object] = {}


def _local_path(abs_path: str) -> str:
    p = abs_path
    if p.startswith("file:"):
        from urllib.parse import unquote, urlparse

        p = unquote(urlparse(p).path)
    return p


def _footer_schema_key(p: str) -> tuple:
    try:
        st = os.stat(p)
        return (p, st.st_size, st.st_mtime_ns)
    except OSError:
        # non-stat-able storage: immutability makes path-only identity
        # sound (a manifest path is never rewritten in place)
        return (p,)


def _read_footer_schema(abs_path: str):
    """Arrow schema of one parquet file, or None if unreadable."""
    import pyarrow.parquet as _pq

    try:
        return _pq.ParquetFile(_local_path(abs_path)).schema_arrow
    except Exception:  # noqa: BLE001 -- unreadable footer => fall back
        return None


def _footer_schemas_distributed(spark, abs_paths: list[str]) -> list:
    """Footer-schema reads fanned out as ONE job over the FILE LIST,
    same shape as _footer_stats_distributed: each task opens footers
    only, ships schemas back as serialized Arrow IPC."""
    import base64

    import pandas as pd
    import pyarrow as pa

    def read_batch(it):
        for pdf in it:
            out = []
            for p in pdf["p"]:
                s = _read_footer_schema(p)
                out.append(
                    None
                    if s is None
                    else base64.b64encode(
                        s.serialize().to_pybytes()
                    ).decode()
                )
            yield pd.DataFrame({"i": pdf["i"], "schema": out})

    n = len(abs_paths)
    src = spark.createDataFrame(
        [(i, p) for i, p in enumerate(abs_paths)], "i int, p string"
    ).repartition(min(n, 64))
    rows = src.mapInPandas(read_batch, "i int, schema string").collect()
    out: list = [None] * n
    for r in rows:
        if r["schema"] is not None:
            out[r["i"]] = pa.ipc.read_schema(
                pa.BufferReader(base64.b64decode(r["schema"]))
            )
    return out


def _spark_type_of_arrow(t):
    """Arrow type -> Spark type for the unambiguous subset; None =
    cannot certify, caller falls back to mergeSchema inference."""
    import pyarrow as pa
    from pyspark.sql import types as T

    if pa.types.is_boolean(t):
        return T.BooleanType()
    if pa.types.is_int8(t):
        return T.ByteType()
    if pa.types.is_int16(t):
        return T.ShortType()
    if pa.types.is_int32(t):
        return T.IntegerType()
    if pa.types.is_int64(t):
        return T.LongType()
    if pa.types.is_float32(t):
        return T.FloatType()
    if pa.types.is_float64(t):
        return T.DoubleType()
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return T.StringType()
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return T.BinaryType()
    if pa.types.is_date32(t):
        return T.DateType()
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        elem = _spark_type_of_arrow(t.value_type)
        return None if elem is None else T.ArrayType(elem)
    if pa.types.is_struct(t):
        fields = []
        for i in range(t.num_fields):
            f = t.field(i)
            ft = _spark_type_of_arrow(f.type)
            if ft is None:
                return None
            fields.append(T.StructField(f.name, ft))
        return T.StructType(fields)
    return None  # timestamps, INT96, decimal, unsigned, dict, ...


def _merged_footer_schema(spark, abs_paths: list[str]):
    """Explicit Spark schema for a group of immutable parquet files, or
    None => use mergeSchema. First-seen field order over the group's
    path order matches mergeSchema's in-order fold; same-name fields
    must agree EXACTLY on arrow type (widen groups already split
    int32/int64, so a conflict here means "not certifiable")."""
    from pyspark.sql import types as T

    if os.environ.get("SPARK_GRAFT_FOOTER_SCHEMA", "1") == "0":
        return None
    keys = [_footer_schema_key(_local_path(p)) for p in abs_paths]
    missing = [
        (i, p)
        for i, (p, k) in enumerate(zip(abs_paths, keys))
        if k not in _FOOTER_SCHEMA_CACHE
    ]
    if missing:
        if len(missing) <= _FOOTER_DISTRIBUTED_THRESHOLD:
            fetched = [_read_footer_schema(p) for _, p in missing]
        else:
            fetched = _footer_schemas_distributed(
                spark, [p for _, p in missing]
            )
        for (i, _), s in zip(missing, fetched):
            if s is None:
                return None
            _FOOTER_SCHEMA_CACHE[keys[i]] = s
    order: list[str] = []
    types: dict[str, object] = {}
    for k in keys:
        s = _FOOTER_SCHEMA_CACHE[k]
        for f in s:
            if f.name not in types:
                order.append(f.name)
                types[f.name] = f.type
            elif not types[f.name].equals(f.type):
                return None  # same-name type conflict: fall back
    fields = []
    for name in order:
        st = _spark_type_of_arrow(types[name])
        if st is None:
            return None
        fields.append(T.StructField(name, st))
    return T.StructType(fields)


def _footer_rg_bounds(col_md, rg_rows: int):
    """(ok, min, max) for one column chunk; ok=False => fall back."""
    st = col_md.statistics
    if rg_rows == 0:
        # an empty row group (pyarrow writes empty tables as one 0-row
        # group with no statistics) trivially has no bounds
        return True, None, None
    if st is None:
        return False, None, None
    if not st.has_min_max:
        # an all-null chunk legitimately has no bounds; anything else
        # (e.g. >4 KB binary values) is a dropped-stats case
        if st.null_count is not None and st.null_count == rg_rows:
            return True, None, None
        return False, None, None
    pt = col_md.physical_type
    lt = getattr(st.logical_type, "type", "NONE")
    if pt == "BYTE_ARRAY" and lt == "STRING":
        pass
    elif pt in ("INT32", "INT64") and lt in ("NONE", "DATE"):
        pass
    elif pt in ("INT32", "INT64") and lt == "INT":
        if not getattr(st.logical_type, "is_signed", False):
            return False, None, None
    elif pt == "BOOLEAN" and lt == "NONE":
        pass
    else:  # FLOAT/DOUBLE (NaN), DECIMAL, INT96, UUID, ...
        return False, None, None
    return True, st.min, st.max


def _footer_stats_distributed(
    spark: SparkSession, abs_paths: list[str], cols: list[str]
) -> list[dict | None]:
    """The same footer read fanned out as ONE Spark job over the FILE
    LIST (not the data): at 100 TB a commit stages thousands of files
    and the footer reads are the parallel part — each task opens only
    footers, never row data."""
    import pandas as pd

    cols_b = list(cols)

    def read_batch(it):
        for pdf in it:
            yield pd.DataFrame(
                {
                    "i": pdf["i"],
                    "stats": [
                        json.dumps(
                            _footer_one_file(p, cols_b), default=str
                        )
                        for p in pdf["p"]
                    ],
                }
            )

    n = len(abs_paths)
    src = spark.createDataFrame(
        [(i, p) for i, p in enumerate(abs_paths)], "i int, p string"
    ).repartition(min(n, 64))
    rows = src.mapInPandas(read_batch, "i int, stats string").collect()
    out: list[dict | None] = [None] * n
    for r in rows:
        out[r["i"]] = json.loads(r["stats"])
    return out


def _json_safe_stat(v, lo: bool):
    """Coerce a collected stat value to a JSON-serializable primitive.

    Without this, DATE/TIMESTAMP/DECIMAL stat columns come back from
    collect() as datetime/Decimal objects and json.dumps in
    _write_manifest_exclusive raises TypeError, failing the whole commit.

    Ordering must survive the coercion or pruning turns lossy:
    - date/datetime -> ISO strings (fixed-width prefix => lexicographic
      order == chronological order)
    - Decimal -> float, nudged OUTWARD (min down, max up) so a value that
      rounds across the boundary can never be wrongly pruned
    - anything else non-primitive -> dropped (None = "no stats, keep file")
    """
    import datetime as _dt
    import math as _math
    from decimal import Decimal as _Dec

    if v is None or isinstance(v, (int, float, str, bool)):
        return v
    if isinstance(v, (_dt.datetime, _dt.date)):
        return v.isoformat()
    if isinstance(v, _Dec):
        f = float(v)
        return _math.nextafter(f, -_math.inf if lo else _math.inf)
    return None


def _unescape_pv(name: str) -> str:
    """Decode a Hive-escaped partition directory value (``%3A`` -> ``:``)."""
    out, i = [], 0
    while i < len(name):
        if name[i] == "%" and len(name) - i >= 3:
            try:
                out.append(chr(int(name[i + 1 : i + 3], 16)))
                i += 3
                continue
            except ValueError:
                pass
        out.append(name[i])
        i += 1
    return "".join(out)


def _partition_of(rel_path: str, partition_cols: tuple[str, ...]) -> dict:
    """Extract {col: value} from hive-style ``k=v`` segments of a path."""
    values: dict[str, str | None] = {}
    for seg in rel_path.split("/")[:-1]:
        if "=" in seg:
            k, _, v = seg.partition("=")
            if k in partition_cols:
                values[k] = (
                    None if v == "__HIVE_DEFAULT_PARTITION__" else _unescape_pv(v)
                )
    return values


def _partition_matches(e: dict, partition: dict) -> bool:
    """True iff the entry's recorded partition has every filtered column
    at the given value, or at one of the values of a list/tuple/set."""
    for k, want in partition.items():
        got = e["partition"].get(k)
        if isinstance(want, (list, tuple, set, frozenset)):
            if got not in want:
                return False
        elif got != want:
            return False
    return True


def _norm_uri_rel(uri: str, data_prefix: str) -> str:
    """input_file_name() URI -> manifest-relative path (unquote once,
    then strip everything through the table's data dir)."""
    from urllib.parse import unquote

    return unquote(uri).split(data_prefix, 1)[-1]


def _entry_key(e: dict) -> tuple:
    """Identity of a manifest entry: (data root, relative path). Normal
    entries have no "base" (their root is this table's data dir);
    shallow-clone entries carry the SOURCE table's absolute data root,
    so two entries with equal relative paths under different roots never
    alias."""
    return (e.get("base"), e["path"])


# characters a Hadoop Path/URI never percent-encodes: when every entry
# path matches, the scan's _metadata.file_path suffix IS the manifest
# path byte-for-byte and the per-row url_decode can be skipped
_URI_SAFE_RE = re.compile(r"[A-Za-z0-9/=._-]*")


def _rel_path_expr(entries: list[dict]):
    """Per-row expression mapping a scan's ``_dv_file`` URI to the
    manifest-relative path (the suffix after the LAST "/data/").
    ``substring_index`` instead of regex split (no pattern engine, no
    array allocation per row), and ``url_decode`` only when some entry
    path actually contains a character a URI would percent-encode —
    the common all-safe manifest pays plain byte scanning only."""
    from pyspark.sql import functions as F

    rel = F.substring_index(F.col("_dv_file"), "/data/", -1)
    if any(not _URI_SAFE_RE.fullmatch(e["path"]) for e in entries):
        rel = F.url_decode(rel)
    return rel


# Schema/governance metadata that must ride EVERY commit unchanged
# unless the committing op overrides its own key. Centralized so a new
# key cannot be silently dropped by one of the nine manifest-building
# sites — the exact bug class of r7's "widened lost by add_column".
# "deletes" (deletion vectors) is deliberately NOT here: several ops
# rewrite or clear it with op-specific semantics, so each site carries
# it explicitly.
# "eq_deletes" carries like schema metadata: every commit inherits the
# pending equality deletes unless the committing op overrides the key
# (delete_where_eq appends, materialize_eq_deletes clears, fast_forward
# re-roots).
_CARRY_KEYS = (
    "renames", "dropped", "widened", "added", "masks", "generated",
    "eq_deletes", "row_tracking", "features", "row_filters",
)

# Reader feature protocol (Delta's minReaderVersion idea, spelled as
# named feature flags): a manifest lists the features a correct read
# REQUIRES; a reader that does not know one must refuse rather than
# silently return wrong rows (an old reader ignoring eq_deletes would
# resurrect deleted keys). This build understands:
_READER_FEATURES = frozenset({"eq-deletes", "row-tracking"})


def _carry_meta(manifest: dict, src: dict | None) -> dict:
    """Copy every truthy _CARRY_KEYS value from src into manifest,
    skipping keys the caller already set (a DDL op that owns a key sets
    it before calling this)."""
    for k in _CARRY_KEYS:
        if k in manifest:
            continue
        v = (src or {}).get(k)
        if v:
            manifest[k] = v
    return manifest


class SnapshotTable:
    """Parquet table with manifest-listed files and atomic commits."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        partition_cols: tuple[str, ...] | None = None,
        stat_cols: tuple[str, ...] = ("date",),
        bloom_cols: tuple[str, ...] = (),
        bloom_bits: int = 1 << 14,
        bloom_k: int = 4,
        constraints: dict[str, str] | None = None,
        partition_transforms: dict[str, tuple] | None = None,
    ):
        self.spark = spark
        self.path = path.rstrip("/")
        # The PARTITION SPEC (partition_cols + partition_transforms) is
        # recorded in every manifest. A spec left unset here is taken
        # from the table's latest manifest (default ("datatype",
        # "period") and no transforms for a new table); transforms left
        # unset are the recorded ones, their columns appended to a
        # passed partition_cols that lacks them -- a hidden column is
        # layout the caller need not name. See _resolve_spec.
        self._partition_cols = (
            None if partition_cols is None else tuple(partition_cols)
        )
        self._partition_transforms = (
            None if partition_transforms is None
            else {k: tuple(v) for k, v in partition_transforms.items()}
        )
        self._recorded_spec: tuple | None = None
        # columns whose per-FILE min/max land in the manifest: zone-map
        # data skipping for non-partition columns. At 100 TB this prunes
        # files driver-side before Spark lists anything -- the same idea
        # as Delta/Iceberg file stats. Columns absent from a commit's
        # schema are skipped silently.
        self.stat_cols = tuple(stat_cols)
        # columns with a per-FILE Bloom filter in the manifest: POINT
        # lookups skip files whose bloom rejects the probed value. This
        # is the case zone maps cannot serve -- a column orthogonal to
        # the clustering order, where every file's min/max spans the
        # whole key range but each file holds only its slice's values
        # (Delta's bloom filter index / Iceberg's value-set filters).
        # bloom_bits defaults to 2^14 (2 KiB/words per file-column):
        # ~2% false-keep per file at ~2k distinct values per file.
        # Probing hashes a LITERAL of the caller's value with the same
        # xxhash64 used at build time, so the probed Python value must
        # carry the column's Spark type (int->long, str->string, ...).
        self.bloom_cols = tuple(bloom_cols)
        self.bloom_bits = int(bloom_bits)
        self.bloom_k = int(bloom_k)
        # CHECK constraints enforced ON WRITE ({name: SQL predicate}):
        # a violating row fails the commit before anything is published
        # (the staging write aborts; the table keeps its prior version).
        # SQL CHECK semantics: a NULL predicate result PASSES. Enforced
        # as a raise_error filter riding the write itself — zero extra
        # passes over the data.
        self.constraints = dict(constraints or {})
        # HIDDEN PARTITIONING (Iceberg partition transforms): partition
        # columns DERIVED from a source column at write time and hidden
        # from reads -- users query the source column, never the layout.
        # {pcol: ("day"|"month"|"year", src)} | {pcol: ("bucket", n, src)}
        # | {pcol: ("truncate", n, src)}. Ranged reads on the source
        # column prune partitions through the transform (monotone
        # transforms: day/month/year/truncate); point reads prune bucket
        # partitions too.
        for pcol in self._partition_transforms or {}:
            if self._partition_cols is not None and pcol not in self._partition_cols:
                raise ValueError(
                    f"transform column '{pcol}' must be in partition_cols"
                )

    def _resolve_spec(self) -> tuple[tuple[str, ...], dict[str, tuple]]:
        """(partition_cols, partition_transforms) of this handle: the
        passed ones, else the latest manifest's. Cached once a manifest
        was read; a table with no manifest yet gets the defaults."""
        cols, transforms = self._partition_cols, self._partition_transforms
        if cols is not None and transforms is not None:
            return cols, transforms
        if self._recorded_spec is None:
            v = self.latest_version()
            if v is None:
                return (
                    ("datatype", "period") if cols is None else cols,
                    transforms or {},
                )
            m = self._read_manifest(v)
            self._recorded_spec = (
                tuple(m.get("partition_cols", ("datatype", "period"))),
                {k: tuple(s) for k, s in (m.get("partition_transforms") or {}).items()},
            )
        rec_cols, rec_transforms = self._recorded_spec
        if cols is None:
            return rec_cols, rec_transforms if transforms is None else transforms
        if transforms is None:
            transforms = rec_transforms
            cols = cols + tuple(c for c in transforms if c not in cols)
        return cols, transforms

    @property
    def partition_cols(self) -> tuple[str, ...]:
        return self._resolve_spec()[0]

    @property
    def partition_transforms(self) -> dict[str, tuple]:
        return self._resolve_spec()[1]

    def _spec_doc(self) -> dict:
        """The partition spec as a manifest records it."""
        cols, transforms = self._resolve_spec()
        doc: dict = {"partition_cols": list(cols)}
        if transforms:
            doc["partition_transforms"] = {k: list(s) for k, s in transforms.items()}
        return doc

    # -- manifest plumbing -------------------------------------------------

    def _snap_path(self, version: int) -> str:
        return f"{self.path}/{_SNAPDIR}/v{version:012d}.json"

    def latest_version(self) -> int | None:
        fs, path, _ = _fs(self.spark, f"{self.path}/{_SNAPDIR}")
        if not fs.exists(path):
            return None
        best = None
        for st in fs.listStatus(path):
            name = st.getPath().getName()
            if name.startswith("v") and name.endswith(".json"):
                try:
                    n = int(name[1:-5])
                except ValueError:
                    continue
                best = n if best is None else max(best, n)
        return best

    def exists(self) -> bool:
        return self.latest_version() is not None

    def versions(self) -> list[tuple[int, float]]:
        """Surviving (version, commit_epoch_seconds) pairs, ascending.
        Commit time is the manifest file's modification time — the same
        source Delta uses for timestamp time travel, with the same
        caveat (a filesystem-level copy can rewrite it)."""
        fs, path, _ = _fs(self.spark, f"{self.path}/{_SNAPDIR}")
        if not fs.exists(path):
            return []
        out = []
        for st in fs.listStatus(path):
            name = st.getPath().getName()
            if name.startswith("v") and name.endswith(".json"):
                try:
                    out.append((int(name[1:-5]), st.getModificationTime() / 1000.0))
                except ValueError:
                    continue
        return sorted(out)

    def history(self) -> list[dict]:
        """DESCRIBE HISTORY: one dict per surviving version, ascending —
        version, commit timestamp, file/partition counts, and flags for
        rename-chain presence and shallow-clone (external) entries.
        Driver-side manifest reads only; no data I/O."""
        out = []
        for v, ts in self.versions():
            m = self._read_manifest(v)
            files = m["files"]
            out.append(
                {
                    "version": v,
                    "timestamp": ts,
                    "n_files": len(files),
                    "n_partitions": len(
                        {tuple(sorted(e["partition"].items())) for e in files}
                    ),
                    "op": m.get("op"),
                    "has_renames": bool(m.get("renames")),
                    "n_external_files": sum(1 for e in files if e.get("base")),
                }
            )
        return out

    def version_as_of(self, timestamp: float) -> int:
        """Newest surviving version committed at or before ``timestamp``
        (epoch seconds) — Delta's TIMESTAMP AS OF resolution."""
        best = None
        for v, ts in self.versions():
            if ts <= timestamp:
                best = v
        if best is None:
            raise ValueError(
                f"no snapshot of {self.path} existed at epoch {timestamp} "
                "(before the first surviving commit — earlier versions may "
                "have been vacuumed)"
            )
        return best

    def clone_to(
        self, dst_path: str, version: int | None = None
    ) -> "SnapshotTable":
        """Zero-copy shallow clone (Delta SHALLOW CLONE): the clone's v1
        manifest references this table's CURRENT data files (or the
        given ``version``'s — callers that recorded a fork point must
        clone exactly it, not whatever is latest by the time the clone
        runs) in place —
        no data is copied, and from then on the two tables diverge
        independently. Clone-side appends/merges write into the clone's
        own tree; DELETE/UPDATE copy-on-write rewrites land locally
        while untouched source files stay shared; clone-side vacuum
        never deletes source files (external entries are not in its
        local live set). Caveat, same as Delta's: vacuuming the SOURCE
        past the clone's creation can reap files the clone still
        references — clones are for short-lived branches/experiments,
        or pair them with source retention."""
        import os as _os

        src_v = self.latest_version() if version is None else int(version)
        if src_v is None:
            raise ValueError(f"no table to clone at {self.path}")
        dst = SnapshotTable(
            self.spark,
            dst_path,
            self.partition_cols,
            self.stat_cols,
            bloom_cols=self.bloom_cols,
            constraints=self.constraints,
            partition_transforms=self.partition_transforms,
        )
        if dst.exists():
            raise ValueError(f"clone destination {dst_path} already exists")
        m = self._read_manifest(src_v)
        # entries that are themselves clone references keep their
        # original root (clone-of-clone still points at the real file)
        src_root = f"{_root_key(self.spark, self.path)}/data"
        files = [
            {**e, "base": e.get("base") or src_root} for e in m["files"]
        ]
        manifest = {
            "version": 1,
            **self._spec_doc(),
            "files": files,
            "op": "clone",
        }
        if m.get("seq_hwm"):
            # the clone continues the SOURCE's data-sequence numbering:
            # inherited equality deletes carry source sequence numbers,
            # so clone-side appends must land strictly above them
            manifest["seq_hwm"] = m["seq_hwm"]
        _carry_meta(manifest, m)
        if m.get("deletes"):
            # the clone inherits the source's deletion vectors in place;
            # pin each token to the root that owns it (clone-of-clone
            # keeps the original root, like file entries' base)
            manifest["deletes"] = [
                {**d, "root": d.get("root") or _root_key(self.spark, self.path)}
                for d in m["deletes"]
            ]
        if m.get("eq_deletes"):
            # equality deletes inherit in place too (key files hold key
            # VALUES, not file coordinates, so a root pin is all a clone
            # needs; entry seq values copy verbatim with the entries)
            manifest["eq_deletes"] = [
                {**d, "root": d.get("root") or _root_key(self.spark, self.path)}
                for d in m["eq_deletes"]
            ]
        if not dst._write_manifest_exclusive(1, manifest):
            raise ConcurrentCommitError(
                f"lost the publish race for v1 at {dst_path}"
            )
        return dst

    # -- refs: tags and branches (Iceberg references) ------------------------

    def _ref_path(self, name: str) -> str:
        if "/" in name or name.startswith("."):
            raise ValueError(f"invalid ref name {name!r}")
        return f"{self.path}/{_REFS}/{name}.json"

    def _read_ref(self, name: str) -> dict | None:
        fs, p, jvm = _fs(self.spark, self._ref_path(name))
        if not fs.exists(p):
            return None
        stream = fs.open(p)
        try:
            text = jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
        finally:
            stream.close()
        return json.loads(text)

    def _write_ref_exclusive(self, name: str, doc: dict) -> bool:
        fs, dest, jvm = _fs(self.spark, self._ref_path(name))
        fs.mkdirs(dest.getParent())
        if fs.exists(dest):
            return False
        tmp = jvm.org.apache.hadoop.fs.Path(
            f"{self.path}/{_REFS}/.tmp-{uuid.uuid4().hex}.json"
        )
        out = fs.create(tmp, False)
        try:
            out.write(json.dumps(doc, indent=1).encode("utf-8"))
        finally:
            out.close()
        ok = fs.rename(tmp, dest)
        if not ok:
            fs.delete(tmp, False)
        return bool(ok)

    def _refs(self) -> dict[str, dict]:
        fs, root, _ = _fs(self.spark, f"{self.path}/{_REFS}")
        if not fs.exists(root):
            return {}
        out = {}
        for st in fs.listStatus(root):
            name = st.getPath().getName()
            if name.endswith(".json") and not name.startswith("."):
                doc = self._read_ref(name[:-5])
                if doc is not None:
                    out[name[:-5]] = doc
        return out

    def tag(self, name: str, version: int | None = None) -> int:
        """Named immutable reference to a snapshot version (Iceberg
        tag): ``read(ref=name)`` resolves it forever, and ``vacuum``
        keeps the tagged manifest AND its data/DV/change files live
        regardless of retention — an audit pin that survives any amount
        of table churn. Tags are create-once (delete then re-tag to
        move); the exclusive ref write makes racing taggers safe."""
        v = self.latest_version() if version is None else int(version)
        if v is None:
            raise ValueError(f"no table at {self.path}")
        fs, mpath, _ = _fs(self.spark, self._snap_path(v))
        if not fs.exists(mpath):
            raise FileNotFoundError(f"version {v} does not exist")
        if not self._write_ref_exclusive(name, {"type": "tag", "version": v}):
            raise ValueError(f"ref {name!r} already exists")
        return v

    def tags(self) -> dict[str, int]:
        return {
            n: int(d["version"])
            for n, d in self._refs().items()
            if d.get("type") == "tag"
        }

    def delete_tag(self, name: str) -> None:
        doc = self._read_ref(name)
        if doc is None or doc.get("type") != "tag":
            raise ValueError(f"no tag {name!r} at {self.path}")
        fs, p, _ = _fs(self.spark, self._ref_path(name))
        fs.delete(p, False)

    def resolve_ref(self, name: str) -> int:
        """Version a tag (or a branch's FORK POINT) resolves to."""
        doc = self._read_ref(name)
        if doc is None:
            raise ValueError(f"no ref {name!r} at {self.path}")
        return int(
            doc["version"] if doc["type"] == "tag" else doc["fork_version"]
        )

    def _branch_path(self, name: str) -> str:
        self._ref_path(name)  # name validation
        return f"{self.path}/{_BRANCHES}/{name}"

    def create_branch(self, name: str) -> "SnapshotTable":
        """Iceberg-style BRANCH: a zero-copy shallow clone of the
        current version living under the table's own tree
        (``_branches/<name>``), plus a ref recording the fork point.
        Branch commits are ordinary SnapshotTable commits on the clone —
        fully isolated from main readers — and ``fast_forward`` later
        publishes the branch head back as main's next version
        (metadata + file renames, no data copy). Main's ``vacuum``
        treats files referenced by live branch heads as live, so a
        branch can outlive main's retention window (unlike a detached
        ``clone_to``)."""
        src_v = self.latest_version()
        if src_v is None:
            raise ValueError(f"no table at {self.path}")
        if not self._write_ref_exclusive(
            name, {"type": "branch", "fork_version": src_v}
        ):
            raise ValueError(f"ref {name!r} already exists")
        # clone EXACTLY the recorded fork version: a rival commit
        # landing between the ref write and the clone must not make the
        # branch content disagree with its fork point
        return self.clone_to(self._branch_path(name), version=src_v)

    def branch(self, name: str) -> "SnapshotTable":
        """The branch's table handle (commit/read it like any table)."""
        doc = self._read_ref(name)
        if doc is None or doc.get("type") != "branch":
            raise ValueError(f"no branch {name!r} at {self.path}")
        return SnapshotTable(
            self.spark,
            self._branch_path(name),
            self.partition_cols,
            self.stat_cols,
            bloom_cols=self.bloom_cols,
            constraints=self.constraints,
            partition_transforms=self.partition_transforms,
        )

    def branches(self) -> dict[str, int]:
        """Live branches -> fork version."""
        return {
            n: int(d["fork_version"])
            for n, d in self._refs().items()
            if d.get("type") == "branch"
        }

    def delete_branch(self, name: str) -> None:
        """Abandon a branch: drop its ref and its whole tree (branch-
        local files only — shared main files are never under it)."""
        doc = self._read_ref(name)
        if doc is None or doc.get("type") != "branch":
            raise ValueError(f"no branch {name!r} at {self.path}")
        fs, p, jvm = _fs(self.spark, self._ref_path(name))
        fs.delete(p, False)
        HPath = jvm.org.apache.hadoop.fs.Path
        fs.delete(HPath(self._branch_path(name)), True)

    def fast_forward(self, name: str) -> int:
        """Publish branch head as main's next version and consume the
        branch (Iceberg fast-forward + drop). Requires main to be
        UNCHANGED since the fork point — a diverged main raises
        ConcurrentCommitError (rebase by re-branching). Branch-local
        files (appends, COW rewrites) are RENAMED into main's data tree
        — a metadata move, no bytes copied; entries that still point at
        main's own files become plain local entries again. Branch-local
        deletion vectors are REWRITTEN into main with their file URIs
        remapped (a renamed data file invalidates branch-rooted DV
        coordinates). Change feeds: a pure-append
        branch synthesizes inserts naturally on main; a branch that
        rewrote files leaves main's feed underivable across this commit
        (ChangeFeedUnavailableError — the Delta restore contract)."""
        doc = self._read_ref(name)
        if doc is None or doc.get("type") != "branch":
            raise ValueError(f"no branch {name!r} at {self.path}")
        fork_v = int(doc["fork_version"])
        br_probe = self.branch(name)
        bv_probe = br_probe.latest_version()
        if bv_probe is not None:
            bm_probe = br_probe._read_manifest(bv_probe)
            if any(
                not d.get("root")
                for d in bm_probe.get("eq_deletes", [])
            ):
                # branch-LOCAL equality deletes carry branch-relative
                # sequence numbers that are not coherent with main's
                # after the rehome; fold them in on the branch first
                raise RuntimeError(
                    f"branch {name!r} has pending branch-local equality "
                    "deletes: run branch('" + name + "')."
                    "materialize_eq_deletes() before fast_forward"
                )
        cur = self.latest_version()
        if cur != fork_v:
            raise ConcurrentCommitError(
                f"main advanced v{fork_v} -> v{cur} since branch "
                f"{name!r} forked; fast-forward requires an unchanged "
                "main (re-branch and replay)"
            )
        br = self.branch(name)
        bv = br.latest_version()
        bm = br._read_manifest(bv)
        fs, _, jvm = _fs(self.spark, self.path)
        HPath = jvm.org.apache.hadoop.fs.Path
        main_data_key = _root_key(self.spark, f"{self.path}/data")
        br_key = _root_key(self.spark, br.path)
        self_key = _root_key(self.spark, self.path)
        entries = []
        moved: list[tuple] = []  # (src, dst) pairs for rollback
        created: list = []  # main-side DV rewrites to delete on rollback

        def _rollback_moves():
            # restore the branch exactly; a failed un-rename is loud
            for dv_p in created:
                fs.delete(dv_p, True)
            for src_p, dst_p in moved:
                fs.mkdirs(src_p.getParent())
                if not fs.rename(dst_p, src_p):
                    raise RuntimeError(
                        f"fast-forward rollback could not return "
                        f"{dst_p} to branch {name!r} — manual repair "
                        "needed"
                    )

        try:
            for e in bm["files"]:
                e = dict(e)
                base = e.get("base")
                if base is None:
                    # branch-local file: rehome into main's data tree
                    src = HPath(f"{br.path}/data/{e['path']}")
                    dst = HPath(f"{self.path}/data/{e['path']}")
                    fs.mkdirs(dst.getParent())
                    if not fs.rename(src, dst):
                        raise RuntimeError(
                            f"could not move {e['path']} from branch "
                            f"{name!r}"
                        )
                    moved.append((src, dst))
                elif _root_key(self.spark, base) == main_data_key:
                    del e["base"]  # main's own file, shared since fork
                # else: clone-of-clone external root — keep as-is
                entries.append(e)
            deletes = []
            # Branch-local DVs can reference branch-local data files by
            # their PRE-MOVE URIs; renaming those files into main's data
            # tree (above) invalidates the coordinates and the read-path
            # anti-join would silently resurrect the deleted rows. So a
            # moved DV is REWRITTEN (read -> remap URI prefix -> write
            # under main), not renamed: `_dv_file` values under the
            # branch data root get the prefix swapped for main's. The
            # scheme-stripped path fragment matches however the scan
            # rendered the scheme (file:/x vs file:///x); coordinates on
            # main's own files contain no branch fragment and pass
            # through unchanged. The branch's own DV file stays in place
            # so a lost publish race leaves the branch whole.
            br_frag = f"{_path_part(self.spark, br.path)}/data/"
            main_frag = f"{_path_part(self.spark, self.path)}/data/"
            for d in bm.get("deletes", []):
                d = dict(d)
                root = d.get("root")
                if root is None or _root_key(self.spark, root) == br_key:
                    src = HPath(f"{br.path}/{_DELETES}/{d['token']}")
                    if fs.exists(src):
                        from pyspark.sql import functions as F

                        dst = HPath(
                            f"{self.path}/{_DELETES}/{d['token']}"
                        )
                        dv = self.spark.read.parquet(str(src)).select(
                            F.replace(
                                "_dv_file",
                                F.lit(br_frag),
                                F.lit(main_frag),
                            ).alias("_dv_file"),
                            "_dv_row",
                        )
                        dv.write.mode("overwrite").parquet(str(dst))
                        created.append(dst)
                    d.pop("root", None)
                elif _root_key(self.spark, root) == self_key:
                    d.pop("root", None)
                deletes.append(d)
        except BaseException:
            # a mid-move failure must not strand already-rehomed files
            # as vacuum-bait orphans while the branch manifest still
            # references them
            _rollback_moves()
            raise
        manifest = {
            "version": fork_v + 1,
            **self._spec_doc(),
            "files": entries,
            "op": "fast-forward",
        }
        _carry_meta(manifest, bm)
        if deletes:
            manifest["deletes"] = deletes
        eq_list = []
        for d in bm.get("eq_deletes", []):
            d = dict(d)
            root = d.get("root")
            # branch-local eq deletes were rejected up front; main-rooted
            # ones become plain local entries again, foreign roots keep
            if root is not None and _root_key(self.spark, root) == self_key:
                d.pop("root", None)
            eq_list.append(d)
        if eq_list:
            manifest["eq_deletes"] = eq_list
        if not self._write_manifest_exclusive(fork_v + 1, manifest):
            # a rival claimed the version between the fork check and the
            # CAS: move every rehomed file BACK so the branch stays
            # whole and retryable — without this the advertised
            # 're-branch and replay' is impossible (branch manifests
            # would point at files that left its tree)
            _rollback_moves()
            raise ConcurrentCommitError(
                f"lost the fast-forward publish race for v{fork_v + 1}; "
                f"branch {name!r} left intact — re-branch and replay"
            )
        self.delete_branch(name)
        return fork_v + 1

    def _read_manifest(self, version: int) -> dict:
        fs, path, jvm = _fs(self.spark, self._snap_path(version))
        stream = fs.open(path)
        try:
            # full read JVM-side (py4j can't fill a Python buffer in
            # place); commons-io ships on Spark's classpath
            text = jvm.org.apache.commons.io.IOUtils.toString(
                stream, "UTF-8"
            )
        finally:
            stream.close()
        return json.loads(text)

    def _read_published_manifest(self, version: int) -> dict:
        """:meth:`_read_manifest` of a version the caller named, which
        may never have been published or may have been vacuumed."""
        fs, mpath, _ = _fs(self.spark, self._snap_path(version))
        if not fs.exists(mpath):
            raise FileNotFoundError(
                f"snapshot version {version} of {self.path} does not "
                "exist (never published, or vacuumed)"
            )
        return self._read_manifest(version)

    def _stamp_sequence(self, version: int, manifest: dict) -> None:
        """Assign the manifest's DATA SEQUENCE NUMBER (Iceberg v2) and
        stamp it onto entries new to this manifest. ``seq_hwm`` is a
        table-level high-water mark that strictly exceeds every entry's
        ``seq`` — equality deletes compare their own commit's sequence
        against per-file sequences to decide which files they apply to
        (a file appended AFTER a DELETE ... WHERE key=k must keep its
        k-rows). Centralized at the single publish choke point so no
        manifest-building site can forget it (the _CARRY_KEYS lesson);
        sites that inherit entries (clone, restore, fast-forward) keep
        the entries' original seq values, and legacy entries without one
        read as seq 0 — conservatively subject to every later delete."""
        prev = None
        if version > 1:
            try:
                prev = self._read_manifest(version - 1)
            except Exception:
                prev = None  # vacuumed/absent parent: stamp from entries
        if "seq_hwm" not in manifest:
            prev_hwm = int((prev or {}).get("seq_hwm") or 0)
            max_entry = max(
                (int(e.get("seq") or 0) for e in manifest.get("files", [])),
                default=0,
            )
            manifest["seq_hwm"] = max(prev_hwm, max_entry) + 1
        hwm = int(manifest["seq_hwm"])
        prev_keys = {_entry_key(e) for e in (prev or {}).get("files", [])}
        new_entries = [
            e
            for e in manifest.get("files", [])
            if _entry_key(e) not in prev_keys
        ]
        for e in new_entries:
            if "seq" not in e:
                e["seq"] = hwm
        # ROW TRACKING (Delta-style stable row ids): allocate each new
        # file a contiguous [row_base, row_base + rows) id range from the
        # table-level row high-water mark. A row's id is row_base +
        # parquet row_index unless the file carries a MATERIALIZED
        # physical _row_id column (rewrites preserve ids that way; their
        # fresh entries still consume hwm — wasted ids are harmless,
        # reused ids never happen). Sorted iteration makes the
        # assignment deterministic for a deterministic file layout.
        if manifest.get("row_tracking") and "row_hwm" not in manifest:
            base = int((prev or {}).get("row_hwm") or 0)
            for e in sorted(new_entries, key=lambda e: e["path"]):
                if "row_base" in e:
                    continue
                n = (e.get("stats") or {}).get("__rows")
                if n is None:
                    raise RuntimeError(
                        "row tracking needs per-file row counts; entry "
                        f"{e['path']} has no __rows stat"
                    )
                e["row_base"] = base
                base += int(n)
            manifest["row_hwm"] = base

    def _write_manifest_exclusive(self, version: int, manifest: dict) -> bool:
        """Publish v{version}.json atomically; False if it already exists.

        Writes to a uniquely-named temp file then renames. Hadoop rename
        does not overwrite an existing destination, so exactly one of two
        racing writers wins a given version number.
        """
        fs, dest, jvm = _fs(self.spark, self._snap_path(version))
        fs.mkdirs(dest.getParent())
        if fs.exists(dest):
            return False
        self._stamp_sequence(version, manifest)
        tmp = jvm.org.apache.hadoop.fs.Path(
            f"{self.path}/{_SNAPDIR}/.tmp-{uuid.uuid4().hex}.json"
        )
        out = fs.create(tmp, False)
        try:
            out.write(json.dumps(manifest, indent=1).encode("utf-8"))
        finally:
            out.close()
        ok = fs.rename(tmp, dest)
        if not ok:
            fs.delete(tmp, False)
        return bool(ok)

    # -- read --------------------------------------------------------------

    def read(
        self,
        partition: dict | None = None,
        ranges: dict[str, tuple] | None = None,
        version: int | None = None,
        point: dict | None = None,
        as_of: float | None = None,
        ref: str | None = None,
        with_row_ids: bool = False,
        _lineage: bool = False,
        _skip_eq: bool = False,
        _manifest: dict | None = None,
    ) -> DataFrame | None:
        """DataFrame over a snapshot's files; None if no table.

        ``ref``: read at a named TAG (``tag()``) — resolves to its
        pinned version; mutually exclusive with version/as_of.

        ``version``: time travel — read snapshot v{version} instead of
        the latest (manifests are immutable and data files are never
        rewritten, so any un-vacuumed version stays exactly readable;
        raises FileNotFoundError if that manifest was vacuumed away).
        ``as_of``: timestamp time travel (epoch seconds) — resolves to
        the newest version committed at or before that instant
        (:meth:`version_as_of`); mutually exclusive with ``version``.
        ``partition``: optional {col: value} filter applied DRIVER-SIDE to
        the manifest, so pruned files are never even listed by Spark. A
        list/tuple/set value keeps any of its values. Unlike ``ranges``
        this is exact: a file is read iff its recorded partition matches.
        ``ranges``: optional {col: (lo, hi)} inclusive bounds matched
        against the manifest's per-file min/max stats (zone maps): a
        file is skipped iff its recorded range cannot intersect the
        query range. Files without stats for a column are always kept
        (pruning is an optimization, never a filter -- callers still
        apply the real predicate). The returned plan holds an explicit
        file list -- immune to concurrent commits for its whole lifetime.
        ``point``: optional {col: value} EQUALITY probes matched against
        the manifest's per-file Bloom filters (bloom_cols): a file is
        skipped iff its bloom says the value cannot be present — the
        data-skipping case zone maps cannot serve (a column orthogonal
        to the clustering order). No false negatives; false positives
        only keep extra files. The probed value must carry the column's
        Spark literal type (see __init__ note). Files without a bloom
        for the column are always kept.
        ``_manifest``: the manifest of ``version``, already read by the
        caller (no existence check, no second read).
        """
        if ref is not None:
            if version is not None or as_of is not None:
                raise ValueError("pass only one of ref/version/as_of")
            version = self.resolve_ref(ref)
        if as_of is not None:
            if version is not None:
                raise ValueError("pass either version or as_of, not both")
            version = self.version_as_of(as_of)
        v = self.latest_version() if version is None else version
        if v is None:
            return None
        if _manifest is not None:
            manifest = _manifest
        elif version is not None:
            manifest = self._read_published_manifest(version)
        else:
            manifest = self._read_manifest(v)
        unknown = set(manifest.get("features", [])) - _READER_FEATURES
        if unknown:
            raise RuntimeError(
                f"table {self.path} requires reader features "
                f"{sorted(unknown)} this engine build does not know — "
                "refusing a read that could silently be wrong"
            )
        entries = manifest["files"]
        if partition:
            entries = [e for e in entries if _partition_matches(e, partition)]
        # the transforms of the version read (a handle that passed none
        # needs no second manifest read to resolve them)
        transforms = (
            self._partition_transforms
            if self._partition_transforms is not None
            else {k: tuple(s) for k, s in (manifest.get("partition_transforms") or {}).items()}
        )
        # HIDDEN-PARTITION pruning: a range on a transform SOURCE column
        # prunes partitions through the transform (monotone transforms);
        # an equality point on a bucket source prunes to one bucket.
        # Like zone maps: prune-only, files with no partition value kept.
        if ranges and transforms:
            for pcol, spec in transforms.items():
                src = spec[-1]
                if src not in ranges:
                    continue
                b = self._transform_partition_range(pcol, spec, *ranges[src])
                if b is None:
                    continue
                plo, phi = b
                kind = spec[0]

                def keep(e, pcol=pcol, plo=plo, phi=phi, kind=kind):
                    pv = e["partition"].get(pcol)
                    if pv is None:
                        return True
                    if kind == "truncate":
                        try:
                            pv = int(pv)
                        except (TypeError, ValueError):
                            return True
                    if plo is not None and pv < plo:
                        return False
                    if phi is not None and pv > phi:
                        return False
                    return True

                entries = [e for e in entries if keep(e)]
        if point and transforms:
            from pyspark.sql import functions as F

            for pcol, spec in transforms.items():
                if spec[0] != "bucket" or spec[-1] not in point:
                    continue
                n, val = int(spec[1]), point[spec[-1]]
                # canonical string form matches the build-time hashing
                # whatever Python type the caller passed
                b = str(
                    self.spark.range(1)
                    .select(
                        F.pmod(
                            F.xxhash64(F.lit(val).cast("string")), F.lit(n)
                        )
                    )
                    .first()[0]
                )
                entries = [
                    e
                    for e in entries
                    if e["partition"].get(pcol) is None
                    or str(e["partition"].get(pcol)) == b
                ]
        if ranges:
            # query bounds go through the same coercion as manifest stats
            # (dates -> ISO strings, Decimal -> float) so comparisons are
            # always like-typed
            cranges = {
                c: (_json_safe_stat(lo, lo=True), _json_safe_stat(hi, lo=False))
                for c, (lo, hi) in ranges.items()
            }

            def may_match(e: dict) -> bool:
                stats = e.get("stats") or {}
                for col, (lo, hi) in cranges.items():
                    mnmx = stats.get(col)
                    if mnmx is None or mnmx[0] is None or mnmx[1] is None:
                        continue  # no stats -> cannot prune
                    try:
                        if (hi is not None and mnmx[0] > hi) or (
                            lo is not None and mnmx[1] < lo
                        ):
                            return False
                    except TypeError:
                        continue  # unlike types -> cannot prune, keep file
                return True

            entries = [e for e in entries if may_match(e)]
        if point:
            # k probe indices per (col, m, k) geometry, computed once via
            # a one-row Spark eval of the SAME xxhash64 the build used
            idx_cache: dict[tuple, list[int]] = {}

            def bloom_keeps(e: dict) -> bool:
                blooms = e.get("bloom") or {}
                for col, val in point.items():
                    b = blooms.get(col)
                    if not b:
                        continue  # no bloom -> cannot prune, keep file
                    geom = (col, b["m"], b["k"], b.get("t"))
                    if geom not in idx_cache:
                        idx_cache[geom] = self._bloom_probe_indices(
                            val, b["m"], b["k"], b.get("t")
                        )
                    if idx_cache[geom] is None:
                        # value overflows the build-time type (bloom
                        # predates a widen): the file cannot contain it
                        return False
                    words = b["words"]
                    for i in idx_cache[geom]:
                        # Python's infinite two's complement matches the
                        # JVM's 64-bit pattern for bit positions 0..63
                        if not (words[i // 64] >> (i % 64)) & 1:
                            return False
                return True

            entries = [e for e in entries if bloom_keeps(e)]
        if not entries:
            return None
        dvs = manifest.get("deletes") or []
        eqs = [] if _skip_eq else (manifest.get("eq_deletes") or [])
        if with_row_ids and not manifest.get("row_tracking"):
            raise ValueError(
                f"row tracking is not enabled on {self.path}: call "
                "enable_row_tracking() first"
            )
        need_lineage = bool(dvs) or bool(eqs) or _lineage or with_row_ids
        if eqs:
            # MERGE-ON-READ equality deletes (Iceberg v2), applied at
            # PLANNING time the way Iceberg matches delete files to data
            # files: a delete applies to a file iff the file's data
            # sequence precedes the delete's — a per-FILE fact the
            # manifest already knows. Entries group by their
            # applicable-delete signature; each group scans once and
            # anti-joins ONLY its applicable key sets with plain
            # (null-safe) key equality. This replaces the old read-side
            # per-ROW file->seq mapping (URI split + url_decode + a
            # broadcast string join + a raise_error guard on every row —
            # measured ~0.75s/150k rows at sf0.1, pure overhead at any
            # scale). Group count is bounded by the number of PENDING
            # eq deletes (kept small by materialize_eq_deletes), never
            # by file count.
            out = self._read_eq_planned(
                entries, eqs, manifest, need_lineage, with_row_ids
            )
        else:
            out = self._read_entry_files(
                entries,
                renames=manifest.get("renames", []),
                dropped=manifest.get("dropped", []),
                lineage=need_lineage,
                keep_row_ids=with_row_ids,
            )
        if dvs:
            # MERGE-ON-READ deletion vectors: anti-join the (file, row)
            # coordinates recorded by delete_where_dv. The DV table is
            # tiny (one row per deleted row, two narrow columns) so AQE
            # broadcasts it; a snapshot with no DVs pays nothing at all.
            # (Commutes with the eq anti-joins — disjoint criteria.)
            out = out.join(
                self._read_dv_frame(dvs),
                on=["_dv_file", "_dv_row"],
                how="left_anti",
            )
        if with_row_ids:
            out = self._attach_row_ids(out, entries)
        if need_lineage and not _lineage:
            out = out.drop("_dv_file", "_dv_row")
        # transform-derived partition columns are LAYOUT, not schema:
        # hide them (Iceberg hidden partitioning)
        hidden = [p for p in transforms if any(p in e["partition"] for e in entries)]
        return out.drop(*hidden) if hidden else out

    def _read_dv_frame(self, dvs: list[dict]) -> DataFrame:
        """Union of the snapshot's deletion-vector files as a
        (_dv_file, _dv_row) frame. Tokens carry an optional ``root``
        (set when a shallow clone inherits the source's DVs)."""
        paths = [
            f"{d.get('root') or self.path}/{_DELETES}/{d['token']}"
            for d in dvs
        ]
        return self.spark.read.parquet(*paths).select("_dv_file", "_dv_row")

    def _read_entry_files(
        self,
        entries: list[dict],
        renames: list[list[str]] | None = None,
        dropped: list[str] | None = None,
        lineage: bool = False,
        keep_row_ids: bool = False,
    ) -> DataFrame:
        """Scan manifest entries, restoring partition columns.

        ``keep_row_ids=False`` hides the physical ``_row_id`` column a
        row-tracked rewrite materializes — it is storage layout, not
        table schema; id-aware readers opt in.

        ``lineage=True`` additionally exposes per-row file identity as
        ``_dv_file`` (the scan's ``_metadata.file_path`` URI) and
        ``_dv_row`` (``_metadata.row_index``) — the (file, position)
        coordinates deletion vectors are keyed by. Both come from the
        parquet reader itself, so writer and reader can never disagree
        on the encoding of the same file's identity.

        Entries written under DIFFERENT partition specs (see
        :meth:`evolve_partition_spec`) cannot share one hive discovery
        pass -- Spark refuses conflicting partition layouts under a
        single basePath. Files are grouped by their entry's spec (the
        partition keys recorded at commit), each group gets its own
        basePath read (per-SPEC, never per-value: the number of reads
        is the number of specs the table has ever had, not the number
        of partitions), and groups are unioned by name. A column that
        moved between data and path position lands in the same output
        column either way; columns added by schema evolution null-fill
        (the same semantics mergeSchema gives within one group).
        """
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        groups: dict[tuple, list[str]] = {}
        for e in entries:
            base = e.get("base") or f"{self.path}/data"
            # the fill signature (initial column defaults, add_column)
            # joins the group key: files predating an ADD COLUMN WITH
            # DEFAULT read the default, files written after read their
            # physical values — indistinguishable after mergeSchema's
            # null-fill, so they cannot share one scan. The widen
            # signature (type widening) splits for a harder reason:
            # parquet mergeSchema REFUSES int32/int64 conflicts, so
            # pre-widen (narrow) and post-widen (wide) files can never
            # share a scan at all; the narrow group casts after read.
            fill = json.dumps(e.get("fill") or {}, sort_keys=True)
            widen = json.dumps(e.get("widen") or {}, sort_keys=True)
            # partition columns in the order the hive path lists them
            keys = [seg.split("=", 1)[0] for seg in e["path"].split("/")[:-1]]
            pcols = tuple(k for k in keys if k in e["partition"])
            spec = (pcols, base, fill, widen)
            groups.setdefault(spec, []).append(f"{base}/{e['path']}")
        dfs = []
        for (pcols, base, fill, widen), paths in sorted(groups.items()):
            # An explicit read schema: the data columns (cached footers:
            # zero footer opens on a warm read; else the files' mergeSchema
            # read without basePath, which discovers no partition column)
            # plus every partition column as a string. Spark types a
            # partition column from a user schema that names it, so a
            # numeric-looking value ('850', '007') never reads back as a
            # number, with no session conf touched. Missing data columns
            # null-fill like mergeSchema.
            data = _merged_footer_schema(self.spark, paths)
            if data is None:
                data = (
                    self.spark.read.option("mergeSchema", "true")
                    .parquet(*paths).schema
                )
            schema = T.StructType(
                [f for f in data.fields if f.name not in pcols]
                + [T.StructField(c, T.StringType()) for c in pcols]
            )
            d = (
                self.spark.read.option("basePath", base)
                .schema(schema).parquet(*paths)
            )
            for col, spec_ in json.loads(fill).items():
                filled = F.lit(spec_["v"]).cast(spec_["t"])
                if col in d.columns:
                    # defensive: a fill-tagged file should lack the
                    # column entirely; coalesce keeps physical values
                    d = d.withColumn(col, F.coalesce(F.col(col), filled))
                else:
                    d = d.withColumn(col, filled)
            # widen casts run AFTER fills so a widened ADDED column
            # (fill-created, never physical in this group) still lands
            # at the wide type
            for col, to_type in json.loads(widen).items():
                if col in d.columns:
                    d = d.withColumn(col, F.col(col).cast(to_type))
            if lineage:
                d = d.select(
                    "*",
                    F.col("_metadata.file_path").alias("_dv_file"),
                    F.col("_metadata.row_index").alias("_dv_row"),
                )
            dfs.append(d)
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d, allowMissingColumns=True)
        if renames:
            out = self._apply_renames(out, renames)
        for c in dropped or []:
            if c in out.columns:
                out = out.drop(c)
        if not keep_row_ids and "_row_id" in out.columns:
            out = out.drop("_row_id")
        return out

    def _latest_renames(self) -> list[list[str]]:
        v = self.latest_version()
        if v is None:
            return []
        return self._read_manifest(v).get("renames", [])

    def _latest_dropped(self) -> list[str]:
        v = self.latest_version()
        if v is None:
            return []
        return self._read_manifest(v).get("dropped", [])

    def _derive_transforms(self, df: DataFrame) -> DataFrame:
        """Attach any missing transform-derived partition columns. The
        derivation is deterministic from the source column, so rewrites
        that re-derive always land rows back in their original
        partition."""
        from pyspark.sql import functions as F
        from pyspark.sql.types import NumericType

        for pcol, spec in self.partition_transforms.items():
            if pcol in df.columns:
                continue
            kind = spec[0]
            if kind == "day":
                expr = F.date_format(F.col(spec[1]), "yyyy-MM-dd")
            elif kind == "month":
                expr = F.date_format(F.col(spec[1]), "yyyy-MM")
            elif kind == "year":
                # the first four characters of the ISO text: a date, a
                # timestamp and a 'YYYY-MM-DD' or 'YYYY-MM' string alike
                expr = F.substring(F.col(spec[1]).cast("string"), 1, 4)
            elif kind == "bucket":
                n, src = spec[1], spec[2]
                # hash through a canonical STRING cast: xxhash64 is
                # typed (int vs long literals hash differently — the
                # bloom-probe trap), so hashing the string form makes
                # the read-side point probe type-insensitive
                expr = F.pmod(
                    F.xxhash64(F.col(src).cast("string")), F.lit(int(n))
                )
            elif kind == "truncate":
                n, src = spec[1], spec[2]
                if isinstance(df.schema[src].dataType, NumericType):
                    expr = (F.col(src) - F.pmod(F.col(src), F.lit(int(n))))
                else:
                    expr = F.substring(F.col(src), 1, int(n))
            else:
                raise ValueError(f"unknown partition transform '{kind}'")
            df = df.withColumn(pcol, expr)
        return df

    def _rederive_transforms(self, df: DataFrame) -> DataFrame:
        """Recompute every transform column of a rewrite from its source:
        files of an older spec carry none, and an UPDATE may move a row."""
        transforms = self.partition_transforms
        return self._derive_transforms(df.drop(*transforms)) if transforms else df

    def _transform_partition_range(
        self, pcol: str, spec: tuple, lo, hi
    ) -> tuple | None:
        """Driver-side partition-value bounds implied by a SOURCE-column
        range, for monotone transforms; None when the transform cannot
        bound a range (bucket). Bounds compare as the partition values
        are stored (hive path strings / ints)."""
        kind = spec[0]

        def iso(v):
            c = _json_safe_stat(v, lo=True)
            return c if isinstance(c, str) else None

        if kind == "day":
            l, h = iso(lo), iso(hi)
            return (l[:10] if l else None, h[:10] if h else None)
        if kind == "month":
            l, h = iso(lo), iso(hi)
            return (l[:7] if l else None, h[:7] if h else None)
        if kind == "year":
            l, h = iso(lo), iso(hi)
            return (l[:4] if l else None, h[:4] if h else None)
        if kind == "truncate" and isinstance(lo, (int, type(None))) and isinstance(
            hi, (int, type(None))
        ):
            n = int(spec[1])
            return (
                lo - lo % n if lo is not None else None,
                hi - hi % n if hi is not None else None,
            )
        return None

    # -- generated columns --------------------------------------------------

    def generated_columns(self) -> dict:
        """Live generated-column specs {col: sql_expr}."""
        v = self.latest_version()
        if v is None:
            return {}
        return dict(self._read_manifest(v).get("generated") or {})

    def add_generated_column(self, col: str, expr: str) -> int:
        """Metadata-only commit declaring a GENERATED column (Delta
        generated columns): every subsequent write either COMPUTES
        ``col`` from ``expr`` (writer omitted it) or VALIDATES the
        writer-supplied values against ``expr`` and aborts the commit
        on any mismatch — a generated column can never silently hold a
        value its expression disagrees with. Files written before the
        declaration read the column as NULL (same union-schema rule as
        plain schema evolution); declare before the first data commit
        for a fully-populated column. The expression references this
        table's own columns; renaming or dropping a source column makes
        the next write fail LOUDLY rather than compute garbage."""
        if col in self.partition_cols:
            raise ValueError(
                "partition columns are generated via partition_transforms"
            )
        base_v = self.latest_version()
        if base_v is None:
            raise ValueError(f"no table at {self.path}")
        cur = self.read()
        if cur is not None and col in cur.columns:
            raise ValueError(
                f"'{col}' already exists in the live schema; a generated "
                "column must be a new name"
            )
        if cur is not None:
            # typecheck the expression against the live schema now —
            # a typo'd expr must fail the declaration, not every
            # future write
            from pyspark.sql import functions as F

            cur.limit(0).select(F.expr(expr)).schema  # noqa: B018
        m = self._read_manifest(base_v)
        version = base_v + 1
        manifest = {
            "version": version,
            **self._spec_doc(),
            "files": m["files"],
            "generated": {**(m.get("generated") or {}), col: expr},
            "op": "add-generated-column",
        }
        _carry_meta(manifest, m)
        if m.get("deletes"):
            manifest["deletes"] = m["deletes"]
        if not self._write_manifest_exclusive(version, manifest):
            raise ConcurrentCommitError(
                f"lost the publish race for v{version} at {self.path}"
            )
        return version

    def _apply_generated(self, df: DataFrame) -> DataFrame:
        """Compute omitted generated columns; validate supplied ones."""
        from pyspark.sql import functions as F

        for col, expr in self.generated_columns().items():
            if col in df.columns:
                ok = F.col(col).eqNullSafe(F.expr(expr))
                df = df.filter(
                    F.when(
                        ~F.coalesce(ok, F.lit(False)),
                        F.raise_error(
                            F.lit(
                                f"generated column '{col}' violated: "
                                f"supplied value != {expr}"
                            )
                        ).cast("boolean"),
                    ).otherwise(F.lit(True))
                )
            else:
                df = df.withColumn(col, F.expr(expr))
        return df

    # -- column-mask policies (governance) ---------------------------------

    def masks(self) -> dict:
        """Live column-mask policies {col: [kind, arg]}."""
        v = self.latest_version()
        if v is None:
            return {}
        return dict(self._read_manifest(v).get("masks") or {})

    def set_column_mask(self, col: str, kind: str, arg=None) -> int:
        """Metadata-only commit attaching a MASK POLICY to a column
        (Delta/Snowflake-style column-level masking): governed reads
        (:meth:`read_masked`) rewrite the column through the policy
        expression; no data file is touched, so the policy applies
        retroactively to every un-vacuumed version and costs zero I/O
        to set or drop.

        Kinds: ``hash`` (sha256 hex of the string form — deterministic
        tokenization: equality joins on masked values keep working),
        ``partial`` (redact to '****' + last ``arg`` chars), ``nullify``
        (NULL of the original type), ``bucket`` (generalize a numeric
        to multiples of ``arg`` — the k-anonymity coarsening).

        Policies are keyed by LOGICAL name: they follow rename_column,
        are retired by drop_column, ride every commit via _CARRY_KEYS,
        and stay CURRENT across restore (governance is not rolled back
        with data)."""
        if kind not in _MASK_KINDS:
            raise ValueError(
                f"unknown mask kind {kind!r}; allowed: {_MASK_KINDS}"
            )
        if kind in ("partial", "bucket"):
            if not isinstance(arg, int) or arg <= 0:
                raise ValueError(f"mask kind {kind!r} needs a positive int arg")
        cur = self.read()
        if cur is None or col not in cur.columns:
            raise ValueError(f"'{col}' does not exist in the live schema")
        base_v = self.latest_version()
        m = self._read_manifest(base_v)
        version = base_v + 1
        manifest = {
            "version": version,
            **self._spec_doc(),
            "files": m["files"],
            "masks": {**(m.get("masks") or {}), col: [kind, arg]},
            "op": "set-mask",
        }
        _carry_meta(manifest, m)
        if m.get("deletes"):
            manifest["deletes"] = m["deletes"]
        if not self._write_manifest_exclusive(version, manifest):
            raise ConcurrentCommitError(
                f"lost the publish race for v{version} at {self.path}"
            )
        return version

    def drop_column_mask(self, col: str) -> int:
        """Metadata-only commit removing a mask policy."""
        base_v = self.latest_version()
        if base_v is None:
            raise ValueError(f"no table at {self.path}")
        m = self._read_manifest(base_v)
        masks = dict(m.get("masks") or {})
        if col not in masks:
            raise ValueError(f"no mask policy on '{col}'")
        del masks[col]
        version = base_v + 1
        manifest = {
            "version": version,
            **self._spec_doc(),
            "files": m["files"],
            "op": "drop-mask",
        }
        if masks:
            manifest["masks"] = masks
        else:
            manifest["masks"] = {}
        _carry_meta(manifest, m)
        if manifest.get("masks") == {}:
            del manifest["masks"]
        if m.get("deletes"):
            manifest["deletes"] = m["deletes"]
        if not self._write_manifest_exclusive(version, manifest):
            raise ConcurrentCommitError(
                f"lost the publish race for v{version} at {self.path}"
            )
        return version

    @staticmethod
    def _mask_expr(col: str, dtype: str, kind: str, arg):
        from pyspark.sql import functions as F

        c = F.col(col)
        if kind == "hash":
            return F.sha2(c.cast("string"), 256)
        if kind == "partial":
            return F.concat(
                F.lit("****"),
                F.expr(f"right(cast(`{col}` as string), {int(arg)})"),
            )
        if kind == "nullify":
            return F.lit(None).cast(dtype)
        if kind == "bucket":
            step = int(arg)
            return (F.floor(c.cast("double") / step) * step).cast("long")
        raise ValueError(f"unknown mask kind {kind!r}")

    def read_masked(self, **kwargs) -> DataFrame | None:
        """Governed read: :meth:`read` with live mask policies applied.
        The raw read() stays unmasked by design — the engine's own
        maintenance paths (merge, CDF, compaction, restore) must see
        true bytes; production wiring routes untrusted principals
        through this entry. Masks are the CURRENT policies even when
        time-traveling (version/as_of): revoking visibility must cover
        history too, or time travel is a mask bypass."""
        df = self.read(**kwargs)
        if df is None:
            return None
        dtypes = dict(df.dtypes)
        for col, spec in self.masks().items():
            if col not in dtypes:
                continue
            kind = spec[0]
            arg = spec[1] if len(spec) > 1 else None
            df = df.withColumn(
                col, self._mask_expr(col, dtypes[col], kind, arg)
            )
        return df

    # -- row-filter policies (row-level security) ---------------------------

    def row_filters(self) -> dict:
        """Live row-filter policies {name: predicate_sql}."""
        v = self.latest_version()
        if v is None:
            return {}
        return dict(self._read_manifest(v).get("row_filters") or {})

    def set_row_filter(self, name: str, predicate: str) -> int:
        """Metadata-only commit attaching a ROW-LEVEL SECURITY policy
        (Snowflake row-access-policy / Postgres RLS shape): governed
        reads (:meth:`read_governed`) see only rows where `predicate`
        holds; the raw read() is the ungoverned maintenance path.
        Multiple named policies AND together. The predicate is
        VALIDATED against the live schema at set time (a typo'd or
        non-boolean policy must not publish), and reads FAIL CLOSED:
        a policy that no longer analyzes raises instead of silently
        returning unfiltered rows. Policies ride every commit via
        _CARRY_KEYS and stay CURRENT across restore/time travel, like
        masks (revoking visibility must cover history)."""
        cur = self.read()
        if cur is None:
            raise ValueError(f"no table at {self.path}")
        from pyspark.sql import functions as F

        # Validate against an EMPTY frame carrying exactly the live
        # schema: filtering the real scan would resolve references
        # through the child plan, letting a predicate over a RETIRED
        # (dropped) column slip through validation.
        try:
            probe = self.spark.createDataFrame([], cur.schema)
            probe.filter(F.expr(predicate)).schema  # force analysis
        except Exception as e:
            raise ValueError(
                f"row filter {name!r} does not analyze against the live "
                f"schema: {e}"
            ) from None
        base_v = self.latest_version()
        m = self._read_manifest(base_v)
        version = base_v + 1
        manifest = {
            "version": version,
            **self._spec_doc(),
            "files": m["files"],
            "row_filters": {
                **(m.get("row_filters") or {}), name: predicate
            },
            "op": "set-row-filter",
        }
        _carry_meta(manifest, m)
        if m.get("deletes"):
            manifest["deletes"] = m["deletes"]
        if not self._write_manifest_exclusive(version, manifest):
            raise ConcurrentCommitError(
                f"lost the publish race for v{version} at {self.path}"
            )
        return version

    def drop_row_filter(self, name: str) -> int:
        """Metadata-only commit removing a row-filter policy."""
        base_v = self.latest_version()
        if base_v is None:
            raise ValueError(f"no table at {self.path}")
        m = self._read_manifest(base_v)
        filters = dict(m.get("row_filters") or {})
        if name not in filters:
            raise ValueError(f"no row filter named {name!r}")
        del filters[name]
        version = base_v + 1
        manifest = {
            "version": version,
            **self._spec_doc(),
            "files": m["files"],
            "row_filters": filters,
            "op": "drop-row-filter",
        }
        _carry_meta(manifest, m)
        if not manifest["row_filters"]:
            del manifest["row_filters"]
        if m.get("deletes"):
            manifest["deletes"] = m["deletes"]
        if not self._write_manifest_exclusive(version, manifest):
            raise ConcurrentCommitError(
                f"lost the publish race for v{version} at {self.path}"
            )
        return version

    def read_governed(self, **kwargs) -> DataFrame | None:
        """Fully governed read: row filters FIRST (predicates must see
        true values), then column masks. This is the entry point for
        untrusted principals; read()/read_masked() remain the
        maintenance paths. Row filters fail CLOSED: a policy that no
        longer analyzes (e.g. its column was dropped) raises rather
        than leaking unfiltered rows. Like masks, the CURRENT policies
        apply even when time-traveling."""
        df = self.read(**kwargs)
        if df is None:
            return None
        from pyspark.sql import functions as F

        for name, predicate in sorted(self.row_filters().items()):
            try:
                # validate on an empty live-schema frame first: the real
                # scan resolves dropped-column references through its
                # child plan, which would mask a dead policy
                empty = self.spark.createDataFrame([], df.schema)
                empty.filter(F.expr(predicate)).schema
                df = df.filter(F.expr(predicate))
            except Exception as e:
                raise RuntimeError(
                    f"row filter {name!r} failed to analyze — failing "
                    f"closed: {e}"
                ) from None
        dtypes = dict(df.dtypes)
        for col, spec in self.masks().items():
            if col not in dtypes:
                continue
            kind = spec[0]
            arg = spec[1] if len(spec) > 1 else None
            df = df.withColumn(
                col, self._mask_expr(col, dtypes[col], kind, arg)
            )
        return df

    def rename_column(self, old: str, new: str) -> int:
        """Metadata-only column rename (Iceberg rename-column): no data
        file is touched — old files keep the old physical name, future
        writers use the new one, and every read unifies them via the
        manifest's rename chain. Constraints (in lieu of Iceberg's
        field ids): a renamed-away name is RETIRED (re-adding a column
        with that name would make old files' values resurface under the
        chain — raises instead), and partition columns cannot be
        renamed (their name is baked into directory layout and entry
        keys). Cost note: the live-name collision check builds the
        merged read schema; the footer-schema cache (see
        _merged_footer_schema) amortizes it — each live footer is
        opened once per process, not once per read."""
        for d in self._eq_deletes():
            if old in d["cols"]:
                raise RuntimeError(
                    f"column {old!r} is referenced by a pending equality "
                    "delete: run materialize_eq_deletes() first"
                )
        # row-filter predicates are free-text SQL keyed by LOGICAL names:
        # they cannot be auto-rewritten, so renaming a referenced column
        # would break the policy (reads then fail closed, i.e. a rename
        # could lock the table). Conservative word-boundary scan — a
        # false positive on a string literal costs a dropped/re-set
        # policy, a false negative would cost a locked governed read.
        import re as _re

        for fname, pred in (self.row_filters() or {}).items():
            if _re.search(rf"\b{_re.escape(old)}\b", pred):
                raise RuntimeError(
                    f"column {old!r} is referenced by row filter "
                    f"{fname!r}: drop the policy first, rename, then "
                    "re-set it against the new name"
                )
        if old == new:
            raise ValueError("rename requires distinct names")
        renames = self._latest_renames()
        retired = {frm for frm, _ in renames}
        if new in retired:
            raise ValueError(
                f"'{new}' was previously renamed away; reusing it would "
                "resurface old files' values under the rename chain"
            )
        if old in self.partition_cols:
            raise ValueError("cannot rename a partition column")
        cur = self.read()
        if cur is None or old not in cur.columns:
            # A typo'd rename must not publish an inert chain entry: it
            # would consume a version and retire `old` for nothing.
            raise ValueError(
                f"'{old}' does not exist in the live schema; nothing to "
                "rename"
            )
        if cur is not None and new in cur.columns:
            raise ValueError(
                f"'{new}' already exists in the live schema; renaming "
                "onto it would silently merge two columns"
            )
        base_v = self.latest_version()
        if base_v is None:
            raise ValueError(f"no table at {self.path}")
        m = self._read_manifest(base_v)
        for e in m["files"]:
            if old in e["partition"]:
                raise ValueError(
                    "cannot rename a column that partitions live files"
                )
        version = base_v + 1
        manifest = {
            "version": version,
            **self._spec_doc(),
            "renames": renames + [[old, new]],
            "files": m["files"],
            "op": "rename-column",
        }
        if m.get("masks"):
            # mask policies are keyed by LOGICAL name: they follow the
            # rename, so the governed column stays governed
            manifest["masks"] = {
                (new if c == old else c): spec
                for c, spec in m["masks"].items()
            }
        _carry_meta(manifest, m)
        if m.get("deletes"):
            # DVs survive unrelated metadata commits — omitting them
            # here would resurrect every DV-deleted row at this version
            manifest["deletes"] = m["deletes"]
        if not self._write_manifest_exclusive(version, manifest):
            raise ConcurrentCommitError(
                f"lost the publish race for v{version} at {self.path}"
            )
        return version

    def drop_column(self, col: str) -> int:
        """Metadata-only DROP COLUMN (Iceberg drop-column): no data file
        is touched — old files keep the physical values, reads exclude
        the column from this version on, and time travel to a pre-drop
        version still sees it. The name is RETIRED: a later commit
        writing a column with this name raises (name-mapped store, no
        field ids — re-adding would resurface old files' values), same
        rule as renamed-away names. Partition columns cannot be dropped
        (baked into layout and entry keys)."""
        for d in self._eq_deletes():
            if col in d["cols"]:
                raise RuntimeError(
                    f"column {col!r} is referenced by a pending equality "
                    "delete: run materialize_eq_deletes() first"
                )
        if col in self.partition_cols:
            raise ValueError("cannot drop a partition column")
        cur = self.read()
        if cur is None or col not in cur.columns:
            raise ValueError(
                f"'{col}' does not exist in the live schema; nothing to "
                "drop"
            )
        base_v = self.latest_version()
        m = self._read_manifest(base_v)
        version = base_v + 1
        manifest = {
            "version": version,
            **self._spec_doc(),
            "files": m["files"],
            "dropped": m.get("dropped", []) + [col],
            "op": "drop-column",
        }
        if m.get("added"):
            # the dropped column (if it was an added one) leaves the map
            # — its name is retired, so the fill spec can never re-apply
            added = {c: s for c, s in m["added"].items() if c != col}
            if added:
                manifest["added"] = added
            else:
                manifest["added"] = {}  # placeholder: see pop below
        if m.get("masks"):
            masks = {c: s for c, s in m["masks"].items() if c != col}
            if masks:
                manifest["masks"] = masks
            else:
                manifest["masks"] = {}
        _carry_meta(manifest, m)
        for k in ("added", "masks"):
            # empty dicts above only blocked _carry_meta from re-adding
            # the unfiltered map; drop them from the stored manifest
            if manifest.get(k) == {}:
                del manifest[k]
        if m.get("deletes"):
            # same carry-forward as every data commit: a metadata-only
            # evolution must not resurrect DV-deleted rows
            manifest["deletes"] = m["deletes"]
        if not self._write_manifest_exclusive(version, manifest):
            raise ConcurrentCommitError(
                f"lost the publish race for v{version} at {self.path}"
            )
        return version

    def add_column(self, col: str, dtype: str, default=None) -> int:
        """Metadata-only ADD COLUMN with an INITIAL DEFAULT (Delta
        defaults / Iceberg initial-default): no data file is touched.
        Every file already in the table is tagged with a per-entry fill
        — those rows read back ``default`` — while files written after
        this commit carry physical values (their genuine NULLs stay
        NULL, which plain mergeSchema cannot distinguish). Time travel
        to a pre-add version does not see the column. The name must not
        collide with the live schema or a retired (dropped/renamed-away)
        name — same name-mapping rule as drop/rename."""
        cur = self.read()
        if cur is None:
            raise ValueError(f"no table at {self.path}")
        if col in cur.columns:
            raise ValueError(f"column {col!r} already exists")
        base_v = self.latest_version()
        m = self._read_manifest(base_v)
        retired = set(m.get("dropped", [])) | {
            old for old, _ in m.get("renames", [])
        }
        if col in retired:
            raise ValueError(
                f"column name {col!r} is retired (dropped or renamed "
                "away); re-adding would resurface old files' values"
            )
        entries = [
            {
                **e,
                "fill": {
                    **(e.get("fill") or {}),
                    col: {"v": default, "t": dtype},
                },
            }
            for e in m["files"]
        ]
        version = base_v + 1
        manifest = {
            "version": version,
            **self._spec_doc(),
            "files": entries,
            # table-level record of initial defaults: RESTORE uses it to
            # re-tag restored (pre-add) files so the added column keeps
            # reading its default instead of vanishing from the schema
            "added": {**(m.get("added") or {}), col: {"v": default, "t": dtype}},
            "op": "add-column",
        }
        # 'widened' MUST ride along: dropping it would stop
        # _align_widened from casting incoming writes and put mixed
        # narrow/wide untagged files in one scan group
        # (CANNOT_MERGE_SCHEMAS on read)
        _carry_meta(manifest, m)
        if m.get("deletes"):
            manifest["deletes"] = m["deletes"]
        if not self._write_manifest_exclusive(version, manifest):
            raise ConcurrentCommitError(
                f"lost the publish race for v{version} at {self.path}"
            )
        return version

    def widen_column(self, col: str, to_type: str) -> int:
        """Metadata-only TYPE WIDENING (Delta type widening): promote a
        numeric column to a wider type with zero data I/O. Existing
        files keep their narrow physical encoding and are tagged to
        CAST after scan (parquet mergeSchema refuses int32/int64
        conflicts, so tagged and untagged files scan in separate
        groups); rows written after the widen are physically wide —
        the shared write path aligns every incoming frame to the
        table's widened types. Time travel to a pre-widen version
        still reads the narrow type. Only lossless widenings from
        :data:`_WIDENINGS` are allowed; partition columns are layout
        and cannot widen."""
        if col in self.partition_cols:
            raise ValueError("cannot widen a partition column")
        cur = self.read()
        if cur is None or col not in cur.columns:
            raise ValueError(f"'{col}' does not exist in the live schema")
        from_type = dict(cur.dtypes)[col]
        if from_type == to_type:
            return self.latest_version()
        if (from_type, to_type) not in _WIDENINGS:
            raise ValueError(
                f"unsupported widening {from_type} -> {to_type}; allowed: "
                f"{sorted(_WIDENINGS)}"
            )
        base_v = self.latest_version()
        m = self._read_manifest(base_v)
        entries = [
            {**e, "widen": {**(e.get("widen") or {}), col: to_type}}
            for e in m["files"]
        ]
        version = base_v + 1
        manifest = {
            "version": version,
            **self._spec_doc(),
            "files": entries,
            "widened": {**m.get("widened", {}), col: to_type},
            "op": "widen-column",
        }
        _carry_meta(manifest, m)
        if m.get("deletes"):
            manifest["deletes"] = m["deletes"]
        if not self._write_manifest_exclusive(version, manifest):
            raise ConcurrentCommitError(
                f"lost the publish race for v{version} at {self.path}"
            )
        return version

    def _align_widened(self, df: DataFrame) -> DataFrame:
        """Cast incoming columns up to the table's widened types, so
        every file written after a widen is physically wide and scan
        groups never mix parquet int32/int64 for one column."""
        from pyspark.sql import functions as F

        v = self.latest_version()
        if v is None:
            return df
        widened = self._read_manifest(v).get("widened") or {}
        types = dict(df.dtypes)
        for col, to_type in widened.items():
            if col in types and types[col] != to_type:
                df = df.withColumn(col, F.col(col).cast(to_type))
        return df

    @staticmethod
    def _apply_renames(df: DataFrame, renames: list[list[str]]) -> DataFrame:
        """Unify a rename chain over a possibly mixed-era scan: no file
        holds both the old and the new physical name (retired names
        cannot be re-added), so coalescing the two columns and dropping
        the old one reconstructs the logical column exactly. Applied in
        chain order so a→b→c resolves through every era."""
        from pyspark.sql import functions as F

        for frm, to in renames:
            if frm not in df.columns:
                continue
            if to in df.columns:
                df = df.withColumn(to, F.coalesce(F.col(to), F.col(frm)))
            else:
                df = df.withColumn(to, F.col(frm))
            df = df.drop(frm)
        return df

    def restore(self, version: int) -> int:
        """RESTORE TABLE ... TO VERSION v (Delta RESTORE): publish a
        NEW version whose file set is exactly ``version``'s. Data files
        are immutable, so this is a metadata-only commit — nothing is
        copied at any table size, the rolled-back versions stay
        readable (restore of a restore works), and vacuum keeps the
        restored files live because the newest manifest references
        them. Raises FileNotFoundError if ``version`` was vacuumed,
        ConcurrentCommitError if another writer wins the publish race.
        """
        base_v = self.latest_version()
        if base_v is None:
            raise ValueError(f"no table at {self.path}")
        fs, mpath, _ = _fs(self.spark, self._snap_path(version))
        if not fs.exists(mpath):
            raise FileNotFoundError(
                f"snapshot version {version} of {self.path} does not "
                "exist (never published, or vacuumed)"
            )
        target = self._read_manifest(version)
        new_v = base_v + 1
        spec = (
            {k: target[k] for k in ("partition_cols", "partition_transforms") if k in target}
            if "partition_cols" in target else self._spec_doc()
        )
        manifest = {
            "version": new_v,
            **spec,
            "files": target["files"],
            "restored_from": version,
            "op": "restore",
        }
        if target.get("deletes"):
            # the restored STATE includes the target's deletion vectors
            # — dropping them would resurrect DV-deleted rows and make
            # metadata COUNT/MIN-MAX serve stale per-file stats as exact
            manifest["deletes"] = target["deletes"]
        # pending equality deletes are part of the restored DATA state
        # (their seq semantics travel with the entries' own seq values,
        # both from immutable manifests). Set unconditionally — an empty
        # list must BLOCK the _CARRY_KEYS inheritance of the current
        # version's pending deletes, which the restore rolls back.
        manifest["eq_deletes"] = target.get("eq_deletes", [])
        # schema metadata stays CURRENT: restore rolls back data, not
        # renames (a rename after the restored version still applies)
        cur = self._latest_renames()
        if cur:
            manifest["renames"] = cur
        cur_dropped = self._latest_dropped()
        if cur_dropped:
            manifest["dropped"] = cur_dropped
        base_m = self._read_manifest(base_v)
        cur_widened = base_m.get("widened") or {}
        if cur_widened:
            # widenings that happened AFTER the restore target: every
            # restored file is narrow for those columns — tag them so
            # reads cast (files from post-widen targets keep their tags)
            missing = {
                c: t
                for c, t in cur_widened.items()
                if c not in (target.get("widened") or {})
            }
            if missing:
                manifest["files"] = [
                    {**e, "widen": {**(e.get("widen") or {}), **missing}}
                    for e in manifest["files"]
                ]
            manifest["widened"] = cur_widened
        cur_added = base_m.get("added") or {}
        if cur_added:
            # columns ADDED (initial default) after the restore target:
            # restored files predate the add, so without a fill tag the
            # column would silently vanish from the live schema — tag
            # them with the current fill specs, mirroring the widen
            # handling (files from post-add targets keep their tags)
            missing_fill = {
                c: spec
                for c, spec in cur_added.items()
                if c not in (target.get("added") or {})
            }
            if missing_fill:
                manifest["files"] = [
                    {**e, "fill": {**(e.get("fill") or {}), **missing_fill}}
                    for e in manifest["files"]
                ]
            manifest["added"] = cur_added
        # masks (and any carry key the special cases above left unset)
        # stay CURRENT across restore, same policy as renames: restore
        # rolls back data, not governance
        _carry_meta(manifest, base_m)
        if not self._write_manifest_exclusive(new_v, manifest):
            raise ConcurrentCommitError(
                f"lost the publish race for v{new_v} at {self.path}"
            )
        return new_v

    def evolve_partition_spec(self, partition_cols: tuple[str, ...]) -> None:
        """Change the partition spec for FUTURE commits (Iceberg-style
        partition evolution). Existing files are never rewritten: they
        stay in their old layout, their manifest entries keep the old
        spec, and reads union the layouts transparently
        (:meth:`_read_entry_files`). Caveats, same as Iceberg's:
        ``commit_overwrite_partitions`` matches partitions of the NEW
        spec only (old-spec files are replaced only when named in its
        ``also_replace`` -- use ``delete_where`` for row-level removal
        across specs), and driver-side ``read(partition=...)`` keeps
        only files whose own spec recorded every filtered column.
        Transforms on columns outside the new spec are dropped."""
        transforms = self.partition_transforms
        self._partition_cols = tuple(partition_cols)
        self._partition_transforms = {
            k: s for k, s in transforms.items() if k in self._partition_cols
        }

    def count_rows(
        self, partition: dict | None = None, version: int | None = None
    ) -> int | None:
        """Metadata-only COUNT(*): sum the per-file row counts recorded
        at commit time — no data file is opened (Delta's count-from-
        stats). Returns None when the table is absent OR any live entry
        predates row-count stats (caller falls back to a scan; a partial
        sum would silently undercount)."""
        v = self.latest_version() if version is None else version
        if v is None:
            return None
        m = self._read_manifest(v)
        if m.get("deletes") or m.get("eq_deletes"):
            # merge-on-read deletes make per-file counts stale (and DV
            # refs can themselves be stale after rewrites) — a metadata
            # answer would be unsound; caller falls back to a scan
            return None
        entries = m["files"]
        if partition:
            entries = [
                e for e in entries
                if all(e["partition"].get(k) == v_ for k, v_ in partition.items())
            ]
        total = 0
        for e in entries:
            n = (e.get("stats") or {}).get("__rows")
            if n is None:
                return None
            total += int(n)
        return total

    def read_appends_bounded(
        self,
        cursor,
        max_files: int,
        on_rewrite: str = "error",
    ):
        """Rate-limited streaming-source read — Delta's
        ``maxFilesPerTrigger``: at most ``max_files`` newly-added files
        per call, walking the commit log version by version and
        splitting WITHIN a commit when it added more files than the
        budget. This is what makes a 100 TB backfill consumable: the
        first micro-batch of a fresh cursor is bounded by the budget,
        not by the table's whole history, so executor memory and batch
        latency stay flat while the cursor catches up.

        ``cursor``: None (from the beginning), an int (a fully-consumed
        version — interchangeable with :meth:`read_appends` cursors), or
        the dict this method returned when it stopped mid-commit
        ({"version": consumed-through, "offset": files consumed of the
        next commit's path-sorted additions}). Returns ``(df, cursor)``;
        ``df`` is None when nothing new landed. Unlike
        :meth:`read_appends`, the walk opens each intermediate manifest
        (it must attribute files to commits), so the cursor cannot jump
        a vacuumed gap — same restart contract as a vacuumed cursor.

        Non-append steps follow ``on_rewrite`` exactly like
        :meth:`read_appends`; 'include' delivers surviving rewritten
        files once per rewrite (at-least-once)."""
        if max_files <= 0:
            raise ValueError(f"max_files must be positive, got {max_files}")
        if on_rewrite not in ("error", "include"):
            raise ValueError(
                f"on_rewrite must be error|include, got {on_rewrite}"
            )
        v_hi = self.latest_version()
        if v_hi is None:
            return None, cursor
        if cursor is None:
            p, off = 0, 0
        elif isinstance(cursor, dict):
            p, off = int(cursor["version"]), int(cursor["offset"])
        else:
            p, off = int(cursor), 0
        if p > v_hi:
            raise ValueError(
                f"inverted bounded-appends cursor: v{p} past v{v_hi}"
            )
        out_entries: list[dict] = []
        top_m = None
        first_step = True
        while p < v_hi and len(out_entries) < max_files:
            # p was verified as last iteration's p+1 — only the first
            # step needs both ends checked
            need_versions = (
                ((p,) if p > 0 else ()) + (p + 1,)
                if first_step
                else (p + 1,)
            )
            first_step = False
            for need in need_versions:
                nfs, npath, _ = _fs(self.spark, self._snap_path(need))
                if not nfs.exists(npath):
                    # the bounded walk must attribute files to commits,
                    # so unlike read_appends it cannot jump a vacuumed
                    # gap — fail with the restart contract instead of an
                    # opaque JVM error (cursor=None on a vacuumed-history
                    # table hits this too: bootstrap via read() and an
                    # int cursor at latest_version())
                    raise FileNotFoundError(
                        f"manifest v{need} of {self.path} was vacuumed "
                        "past retention — bounded cursors cannot cross "
                        "the gap; restart from a full read() with "
                        "cursor=latest_version()"
                    )
            if p == 0:
                prev_keys: set = set()
                prev_dvs: list = []
            else:
                pm = self._read_manifest(p)
                prev_keys = {_entry_key(e) for e in pm["files"]}
                prev_dvs = pm.get("deletes", []) + pm.get("eq_deletes", [])
            top_m = self._read_manifest(p + 1)
            cur = {_entry_key(e): e for e in top_m["files"]}
            removed = prev_keys - set(cur)
            dv_changed = prev_dvs != top_m.get("deletes", []) + top_m.get(
                "eq_deletes", []
            )
            if (removed or dv_changed) and on_rewrite == "error":
                what = (
                    f"{len(removed)} file(s) rewritten/removed"
                    if removed
                    else "deletion vectors changed"
                )
                raise RuntimeError(
                    f"non-append change at v{p + 1}: {what} — use "
                    "on_rewrite='include' or keyed_diff"
                )
            added = sorted(
                (e for k, e in cur.items() if k not in prev_keys),
                key=lambda e: e["path"],
            )
            take = added[off : off + (max_files - len(out_entries))]
            out_entries.extend(take)
            if off + len(take) >= len(added):
                p, off = p + 1, 0
            else:
                off += len(take)
                break
        new_cursor = p if off == 0 else {"version": p, "offset": off}
        if not out_entries:
            return None, new_cursor
        return (
            self._read_entry_files(
                out_entries, renames=top_m.get("renames", [])
            ),
            new_cursor,
        )

    def read_appends(
        self,
        from_version: int | None,
        to_version: int | None = None,
        on_rewrite: str = "error",
    ):
        """Streaming-source read of the commit log (Delta's streaming
        table source): the files ADDED between ``from_version``
        (exclusive; None = from the beginning) and ``to_version``
        (inclusive; None = latest). Returns ``(df, cursor)`` — feed
        ``cursor`` back as the next ``from_version``; ``df`` is None
        when nothing new landed. Incremental consumers pay only for new
        files, never a table rescan.

        Non-append changes (delete/update/compaction/recluster REMOVE
        files): with ``on_rewrite='error'`` (default) the read raises —
        rewritten files re-deliver their surviving rows, which breaks
        exactly-once append semantics (Delta fails the same way without
        ignoreChanges). ``on_rewrite='include'`` delivers the rewritten
        files anyway (at-least-once: surviving rows of rewritten files
        appear again); row-level consumers should use
        operators/table_diff.keyed_diff instead."""
        if on_rewrite not in ("error", "include"):
            raise ValueError(f"on_rewrite must be error|include, got {on_rewrite}")
        v_hi = self.latest_version() if to_version is None else to_version
        if v_hi is None:
            return None, from_version
        if from_version is not None and from_version > v_hi:
            # An explicit to_version older than the cursor must never
            # move the cursor backwards: feeding the regressed cursor
            # back would re-deliver files already consumed.
            raise ValueError(
                f"inverted read_appends range: cursor v{from_version} is "
                f"past to_version v{v_hi} at {self.path}"
            )
        if from_version is not None and from_version == v_hi:
            return None, from_version
        old_paths: set = set()
        if from_version is not None:
            fs, mpath, _ = _fs(self.spark, self._snap_path(from_version))
            if not fs.exists(mpath):
                raise FileNotFoundError(
                    f"cursor version {from_version} of {self.path} was "
                    "vacuumed past retention — restart the consumer from "
                    "a full read (cursor=None) or a surviving version"
                )
            old_paths = {
                _entry_key(e)
                for e in self._read_manifest(from_version)["files"]
            }
        hi_m = self._read_manifest(v_hi)
        hi_paths = {_entry_key(e) for e in hi_m["files"]}
        removed = old_paths - hi_paths
        # a DV delete changes ROWS while the file set is unchanged — as
        # non-append as a rewrite, just cheaper; compare the DV lists
        if from_version is not None:
            fm = self._read_manifest(from_version)
            old_dvs = fm.get("deletes", []) + fm.get("eq_deletes", [])
        else:
            old_dvs = []
        dv_changed = old_dvs != hi_m.get("deletes", []) + hi_m.get(
            "eq_deletes", []
        )
        if (removed or dv_changed) and on_rewrite == "error":
            what = (
                f"{len(removed)} file(s) were rewritten/removed"
                if removed
                else "deletion vectors changed"
            )
            raise RuntimeError(
                f"non-append change between v{from_version} and v{v_hi}: "
                f"{what} — use "
                "on_rewrite='include' (at-least-once) or keyed_diff for "
                "row-level changes"
            )
        new_entries = [
            e for e in hi_m["files"] if _entry_key(e) not in old_paths
        ]
        if not new_entries:
            return None, v_hi
        return (
            self._read_entry_files(
                new_entries, renames=hi_m.get("renames", [])
            ),
            v_hi,
        )

    def stats_min_max(
        self,
        col: str,
        partition: dict | None = None,
        version: int | None = None,
    ) -> tuple | None:
        """Metadata-only MIN/MAX of a stat column: fold the per-file
        zone-map ranges recorded at commit — no data file is opened
        (the same manifest-aggregation trick Iceberg's scan planning
        uses for min/max pushdown). Returns (min, max), or None when
        the table is absent, any live entry lacks the column's stats,
        or any recorded bound is NULL (an all-null file makes a purely
        metadata answer unsound — caller falls back to a scan).

        Exactness caveat: per-file bounds are recorded from the ROWS
        (not nudged), except DECIMAL stats which are widened outward
        for pruning safety — those make this a bound, not an exact
        answer; the engine's stat columns here are strings/dates/ints,
        which record exactly."""
        v = self.latest_version() if version is None else version
        if v is None:
            return None
        m = self._read_manifest(v)
        if m.get("deletes") or m.get("eq_deletes"):
            # a deleted row may have held the recorded min/max —
            # zone maps stay SOUND for pruning (bounds only widen) but
            # are no longer exact answers; fall back to a scan
            return None
        entries = m["files"]
        if partition:
            entries = [
                e for e in entries
                if all(e["partition"].get(k) == v_ for k, v_ in partition.items())
            ]
        if not entries:
            return None
        lo = hi = None
        for e in entries:
            mnmx = (e.get("stats") or {}).get(col)
            if mnmx is None or mnmx[0] is None or mnmx[1] is None:
                return None
            mn, mx = mnmx
            lo = mn if lo is None or mn < lo else lo
            hi = mx if hi is None or mx > hi else hi
        return (lo, hi)

    # -- write -------------------------------------------------------------

    def _footer_stats(
        self, staging: str, rels: list[str], cols: list[str]
    ) -> dict[str, dict] | None:
        """Stats from parquet footers instead of a data re-scan.

        Returns the same {rel: {col: [mn,mx], "__rows": n}} shape as the
        scan path, or None when ANY file/column can't be certified from
        its footer (type outside the allowlist, dropped stats, a stat
        col that only exists as a partition directory) — the caller then
        runs the exact Spark scan. Small commits read footers on the
        driver; big ones fan out over the FILE LIST as one Spark job.
        ``SPARK_GRAFT_FOOTER_STATS=0`` force-disables the fast path."""
        if os.environ.get("SPARK_GRAFT_FOOTER_STATS", "1") == "0":
            return None
        # stat cols encoded as hive partition dirs never appear in the
        # footer; only the scan (which infers them from the path) sees
        # them, so bail before opening anything
        want = [c for c in cols if c not in self.partition_cols]
        if len(want) != len(cols):
            return None
        root = staging.rstrip("/")
        abs_paths = [f"{root}/{r}" for r in rels]
        try:
            if len(abs_paths) <= _FOOTER_DISTRIBUTED_THRESHOLD:
                per_file = [_footer_one_file(p, want) for p in abs_paths]
            else:
                per_file = _footer_stats_distributed(
                    self.spark, abs_paths, want
                )
        except Exception:  # noqa: BLE001 -- any footer trouble => scan
            return None
        out: dict[str, dict] = {}
        for rel, st in zip(rels, per_file):
            if st is None:
                return None
            entry = {
                c: [
                    _json_safe_stat(st[c][0], lo=True),
                    _json_safe_stat(st[c][1], lo=False),
                ]
                for c in want
            }
            entry["__rows"] = st["__rows"]
            out[rel] = entry
        return out

    def _count_written(self, root: str) -> int:
        """Exact row count of a just-written parquet dir from footer
        metadata (num_rows is always present — no stats gate needed),
        zero Spark jobs; scan fallback if any footer won't open."""
        rels = _list_parquet_rel(self.spark, root)
        if not rels:
            return 0
        try:
            import pyarrow.parquet as _pq

            total = 0
            for rel in rels:
                p = f"{root.rstrip('/')}/{rel}"
                if p.startswith("file:"):
                    from urllib.parse import unquote, urlparse

                    p = unquote(urlparse(p).path)
                total += _pq.ParquetFile(p).metadata.num_rows
            return int(total)
        except Exception:  # noqa: BLE001
            return self.spark.read.parquet(root).count()

    def _file_stats(self, staging: str, cols: list[str]) -> dict[str, dict]:
        """Per-staged-file min/max of `cols` (one small Spark job).

        Keyed by STAGING-RELATIVE path, not basename: a dynamic-partition
        write task emits identically-named part files into different
        partition directories, so basenames collide and stats would be
        attributed to the wrong file — which lets read(ranges=...) prune
        a file that actually contains in-range rows (silent data loss).
        """
        from urllib.parse import unquote

        from pyspark.sql import functions as F

        rels = _list_parquet_rel(self.spark, staging)
        if not rels:
            return {}  # zero-row commit stages no files
        footer = self._footer_stats(staging, rels, cols)
        if footer is not None:
            return footer
        df = self.spark.read.parquet(staging)
        present = [c for c in cols if c in df.columns]
        # row count always rides along (reserved "__rows" key): it makes
        # COUNT(*) a metadata-only read (count_rows()) like Delta's
        aggs = [F.count(F.lit(1)).alias("__rows")]
        for c in present:
            aggs += [F.min(c).alias(f"__mn_{c}"), F.max(c).alias(f"__mx_{c}")]
        rows = (
            df.groupBy(F.input_file_name().alias("__f")).agg(*aggs).collect()
        )
        # input_file_name() yields a URI (scheme-qualified, percent-encoded);
        # the Hadoop listing in _promote_staging yields literal path segments.
        # Split on the unique staging dir name and unquote once to align.
        token = "/" + staging.rstrip("/").rsplit("/", 1)[-1] + "/"
        out: dict[str, dict] = {}
        for r in rows:
            rel = unquote(r["__f"]).split(token, 1)[-1]
            out[rel] = {
                c: [
                    _json_safe_stat(r[f"__mn_{c}"], lo=True),
                    _json_safe_stat(r[f"__mx_{c}"], lo=False),
                ]
                for c in present
            }
            out[rel]["__rows"] = int(r["__rows"])
        # A zero-row file (0 row groups) produces no group row, so the
        # scan would omit it while the footer path emits {.., __rows: 0}.
        # Emit the footer shape here too: the paths stay bit-identical
        # and count_rows() keeps working when an empty file is staged
        # under the scan path (ADVICE r10).
        for rel in rels:
            if rel not in out:
                empty: dict = {c: [None, None] for c in present}
                empty["__rows"] = 0
                out[rel] = empty
        return out

    def _file_blooms(self, staging: str) -> dict[str, dict]:
        """Per-staged-file Bloom words for each bloom_col (one Spark job
        per column; rows shuffled/collected = files x m/64 words, never
        data rows). Same staging-relative keying as _file_stats."""
        from urllib.parse import unquote

        from pyspark.sql import functions as F

        from station_data_ingestion_spark.operators.bloom import _index_exprs

        if not self.bloom_cols or not _list_parquet_rel(self.spark, staging):
            return {}
        df = self.spark.read.parquet(staging)
        present = [c for c in self.bloom_cols if c in df.columns]
        if not present:
            return {}
        m, k = self.bloom_bits, self.bloom_k
        token = "/" + staging.rstrip("/").rsplit("/", 1)[-1] + "/"
        out: dict[str, dict] = {}
        for c in present:
            rows = (
                df.select(
                    F.input_file_name().alias("__f"),
                    F.explode(F.array(*_index_exprs(F.col(c), m, k))).alias(
                        "idx"
                    ),
                )
                .groupBy(
                    "__f", F.expr("idx div 64").alias("w")
                )
                .agg(
                    F.expr(
                        "bit_or(shiftleft(1L, cast(idx % 64 as int)))"
                    ).alias("bits")
                )
                .collect()
            )
            per_file: dict[str, list[int]] = {}
            for r in rows:
                rel = unquote(r["__f"]).split(token, 1)[-1]
                words = per_file.setdefault(rel, [0] * (m // 64))
                words[r["w"]] = r["bits"]
            # the column's Spark type rides in the manifest so the probe
            # literal is cast to the EXACT build type before hashing —
            # xxhash64(int32 20) != xxhash64(int64 20), and a Python int
            # probe would otherwise arrive as an int32 literal: a silent
            # FALSE NEGATIVE (true files pruned)
            dtype = df.schema[c].dataType.simpleString()
            for rel, words in per_file.items():
                out.setdefault(rel, {})[c] = {
                    "m": m, "k": k, "t": dtype, "words": words
                }
        return out

    def _bloom_probe_indices(
        self, value, m: int, k: int, dtype: str | None
    ) -> list[int] | None:
        """The k bit indices a literal value hashes to (one-row Spark
        eval so the probe uses the exact JVM xxhash64 the build used,
        with the literal cast to the recorded build-time column type).

        Returns None when the value does not FIT the build-time type —
        a point probe for an over-int32 value against a file whose
        bloom was built pre-widen (see :meth:`widen_column`): such a
        file cannot contain the value, so None means 'prune', and the
        try_cast keeps ANSI mode from raising on the overflow."""
        from pyspark.sql import functions as F

        from station_data_ingestion_spark.operators.bloom import _index_exprs

        probe = F.lit(value).try_cast(dtype) if dtype else F.lit(value)
        row = (
            self.spark.range(1)
            .select(
                probe.isNull().alias("overflow"),
                *[
                    e.alias(f"i{j}")
                    for j, e in enumerate(_index_exprs(probe, m, k))
                ],
            )
            .first()
        )
        if row["overflow"] and value is not None:
            return None
        return [int(row[f"i{j}"]) for j in range(k)]

    def commit_overwrite_partitions(
        self,
        df: DataFrame,
        cluster_by: tuple[str, ...] | None = None,
        cluster_partitions: int | None = None,
        expected_version: int | None = None,
        cdf_none: bool = False,
        changes: DataFrame | None = None,
        content_base: int | None = None,
        op: str | None = None,
        also_replace: list[dict] | None = None,
    ) -> int:
        """Write df's rows, replacing exactly the partitions df contains.
        ``op`` labels the commit for history() (DESCRIBE HISTORY).

        ``also_replace``: whole partitions (exact recorded partition
        dicts, of any spec) the same commit unreferences too, whether or
        not df has rows in them -- how a rewrite into a new spec retires
        the old-spec files it read.

        ``content_base``: build the kept-file list (untouched
        partitions) from THIS manifest version instead of the table's
        latest. Catalog transactions pass their pinned version here so
        a staged commit can never inherit content from a dead-branch
        version an aborted transaction left at a higher number; version
        allocation still races upward from latest.

        Dynamic-partition-overwrite semantics, transactionally: partitions
        absent from df keep their current files. Returns the published
        version. Safe under concurrent commits to DISJOINT partitions;
        commits touching the same partition serialize by version, last
        publisher wins (same as Delta's replaceWhere at this granularity).

        ``expected_version``: compare-and-swap publish for READ-MERGE-
        WRITE callers (MERGE reads the slice, computes the new rows, and
        rewrites it — last-publisher-wins would silently drop a rival
        merge's rows). When set, the publish raises
        :class:`ConcurrentCommitError` if the table has advanced past
        that version instead of rebasing; the caller re-reads and redoes
        the merge (see plans.runner._merge_into_table). This is Delta/
        Iceberg serializable-isolation conflict detection at whole-table
        granularity.

        ``cluster_by``: optionally range-partition + sort the rows by
        these columns before writing, so each file covers a TIGHT,
        mostly-disjoint value range -- what makes the manifest zone maps
        (stat_cols) actually prune. Without clustering, every file spans
        the whole value range and range reads skip nothing (the same
        reason Delta has OPTIMIZE ZORDER). CAVEAT: repartitionByRange
        SAMPLES its input to pick boundaries, evaluating ``df``'s plan
        twice -- only pass pure plans (no accumulator/stat side effects,
        no nondeterminism); persist first otherwise.
        """
        new_entries = self._write_and_promote(
            df, cluster_by, cluster_partitions
        )
        replaced = {
            tuple(sorted(p.items()))
            for p in [e["partition"] for e in new_entries] + (also_replace or [])
        }
        # cdf_none: the caller declares this commit changes NO logical
        # rows (recluster/compaction) so the change feed skips it.
        # ``changes``: a caller-computed row-level change frame (e.g.
        # merge_changes) recorded write-time — a partition overwrite has
        # no structurally derivable diff, so without it the commit reads
        # as change-feed-unavailable.
        extra = {"op": op or "overwrite-partitions"}
        if cdf_none:
            extra["cdf"] = "none"
        elif changes is not None:
            extra["changes"] = self._write_changes(changes)
        return self._commit_entries(
            replaced,
            new_entries,
            expected_version,
            extra=extra,
            content_base=content_base,
        )

    def _write_and_promote(
        self,
        df: DataFrame,
        cluster_by: tuple[str, ...] | None = None,
        cluster_partitions: int | None = None,
    ) -> list[dict]:
        """Shared write path: cluster, enforce constraints, write to
        staging, collect stats/blooms, promote files into data/.
        Returns manifest entries — NOT yet referenced by any manifest."""
        resurfaced = set(df.columns) & set(self._latest_dropped())
        if resurfaced:
            raise ValueError(
                f"columns {sorted(resurfaced)} were DROPped and are "
                "retired: old files' values would resurface under the "
                "name (no field ids in a name-mapped store)"
            )
        df = self._apply_generated(df)
        df = self._derive_transforms(df)
        df = self._align_widened(df)
        if cluster_by:
            # explicit cluster_partitions pins the file count (AQE would
            # otherwise coalesce small commits into one file, which is
            # fine for size but defeats a pruning test/layout goal)
            args = ([cluster_partitions] if cluster_partitions else []) + list(
                cluster_by
            )
            df = df.repartitionByRange(*args).sortWithinPartitions(*cluster_by)
        df = self._enforce_constraints(df)
        staging = f"{self.path}/{_STAGING}/{uuid.uuid4().hex}"
        df.write.partitionBy(*self.partition_cols).parquet(staging)
        stats = self._file_stats(staging, list(self.stat_cols))
        blooms = self._file_blooms(staging)
        return self._promote_staging(staging, stats, blooms)

    # -- write-audit-publish ----------------------------------------------

    def _pending_path(self, token: str) -> str:
        return f"{self.path}/{_PENDING}/{token}.json"

    def stage_commit(
        self,
        df: DataFrame,
        cluster_by: tuple[str, ...] | None = None,
        cluster_partitions: int | None = None,
    ) -> str:
        """Write-audit-publish, step 1 (Iceberg WAP / Delta shadow
        branch): write ``df``'s files into the shared data tree and
        record them in a PENDING manifest that no reader sees. Audit
        the staged rows with :meth:`read_staged`, then
        :meth:`publish_staged` (atomic, dynamic-partition-overwrite
        semantics, optimistic-retried over concurrent commits) or
        :meth:`abort_staged` (removes the files). Returns the token.

        Staged-but-unpublished files are vacuum-protected: vacuum
        treats every pending manifest's entries as live (abandoned
        stagings lose that protection when their pending manifest is
        reaped past the retention window)."""
        entries = self._write_and_promote(df, cluster_by, cluster_partitions)
        token = uuid.uuid4().hex
        fs, dest, jvm = _fs(self.spark, self._pending_path(token))
        fs.mkdirs(dest.getParent())
        out = fs.create(dest, False)
        try:
            out.write(
                json.dumps(
                    {
                        "token": token,
                        **self._spec_doc(),
                        "files": entries,
                    },
                    indent=1,
                ).encode("utf-8")
            )
        finally:
            out.close()
        return token

    def _read_pending(self, token: str) -> dict:
        fs, p, jvm = _fs(self.spark, self._pending_path(token))
        if not fs.exists(p):
            raise FileNotFoundError(
                f"no staged commit {token} at {self.path} "
                "(published, aborted, or vacuumed)"
            )
        stream = fs.open(p)
        try:
            text = jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
        finally:
            stream.close()
        return json.loads(text)

    def read_staged(self, token: str) -> DataFrame | None:
        """The staged (unpublished) rows of ``token`` — the audit
        surface. None for an empty staging."""
        entries = self._read_pending(token)["files"]
        if not entries:
            return None
        return self._read_entry_files(entries)

    def publish_staged(self, token: str) -> int:
        """WAP step 3a: make the staged commit the next table version
        (metadata-only — the data files are already in place). The
        pending manifest is removed on success."""
        pending = self._read_pending(token)
        entries = pending["files"]
        replaced = {tuple(sorted(e["partition"].items())) for e in entries}
        version = self._commit_entries(
            replaced, entries, extra={"op": "wap-publish"}
        )
        fs, p, _ = _fs(self.spark, self._pending_path(token))
        fs.delete(p, False)
        return version

    def abort_staged(self, token: str) -> list[str]:
        """WAP step 3b: drop the staged commit — delete its data files
        and the pending manifest. Returns the removed file paths."""
        pending = self._read_pending(token)
        fs, p, jvm = _fs(self.spark, self._pending_path(token))
        HPath = jvm.org.apache.hadoop.fs.Path
        removed = []
        for e in pending["files"]:
            fs.delete(HPath(f"{self.path}/data/{e['path']}"), False)
            removed.append(e["path"])
        fs.delete(p, False)
        return removed

    def drop_partitions(
        self, partition: dict, record_changes: bool = False
    ) -> int:
        """Metadata-only DROP PARTITION (Hive drop-partition / the
        retention archival primitive): unreference every file whose
        partition matches the (possibly partial) ``partition`` dict in
        ONE manifest commit — zero data bytes move, so expiring a day
        from a 100 TB table costs one JSON write; vacuum reclaims the
        bytes after retention, and time travel to the pre-drop version
        still sees everything.

        Change feed: by default the drop is recorded as an untracked
        removal — ``read_change_feed`` across it raises
        ChangeFeedUnavailableError (the honest Delta-restore contract),
        because deriving row-level deletes would require scanning the
        dropped files. ``record_changes=True`` pays exactly that scan
        and records the dropped rows as delete images for CDF
        consumers. Returns the new version (current one if nothing
        matched)."""
        base_v = self.latest_version()
        if base_v is None:
            raise ValueError(f"no table at {self.path}")
        for k in partition:
            if k not in self.partition_cols:
                raise ValueError(
                    f"'{k}' is not a partition column {self.partition_cols}"
                )
        m = self._read_manifest(base_v)
        dropped = [
            e
            for e in m["files"]
            if all(e["partition"].get(k) == v for k, v in partition.items())
        ]
        if not dropped:
            return base_v
        replaced = {tuple(sorted(e["partition"].items())) for e in dropped}
        extra = {"op": "drop-partitions"}
        if record_changes:
            # go through read(): deletion vectors, renames and hidden
            # partition columns all apply — a raw entry read would
            # re-record rows a DV already deleted (double retraction
            # for IVM consumers)
            rows = self.read(version=base_v, partition=dict(partition))
            from pyspark.sql import functions as F

            extra["changes"] = self._write_changes(
                rows.withColumn("_change_type", F.lit("delete"))
            )
        # CAS on the manifest this drop was computed from: a rival
        # commit landing in between could add files to a matched
        # partition, and a rebase would unreference them with no delete
        # image recorded — raise instead
        return self._commit_entries(
            replaced, [], expected_version=base_v, extra=extra
        )

    def _commit_entries(
        self,
        replaced: set[tuple],
        new_entries: list[dict],
        expected_version: int | None = None,
        extra: dict | None = None,
        content_base: int | None = None,
    ) -> int:
        """Publish: latest files with `replaced` partitions' entries
        swapped for `new_entries`. Declarative — no data I/O — so the
        optimistic-retry loop is cheap. With ``expected_version`` the
        loop degenerates to CAS: any advance past it raises instead of
        rebasing (the staged files stay promoted-but-unreferenced and
        are vacuum-reaped, same as any lost commit).
        ``content_base`` pins the manifest the kept files (and
        renames/dropped/deletes metadata) come from — see
        commit_overwrite_partitions."""
        for _ in range(_MAX_COMMIT_ATTEMPTS):
            base_v = self.latest_version()
            # expected_version=0 means "I read an absent table" (CAS on
            # the bootstrap commit — two bootstrapping mergers must not
            # both think they created the table).
            if expected_version is not None and (base_v or 0) != expected_version:
                raise ConcurrentCommitError(
                    f"table advanced to v{base_v} past expected "
                    f"v{expected_version} at {self.path}; re-read and "
                    "redo the merge"
                )
            src_v = content_base if content_base is not None else base_v
            src_m = (
                self._read_manifest(src_v) if src_v is not None else None
            )
            kept: list[dict] = []
            if src_m is not None:
                kept = [
                    e for e in src_m["files"]
                    if tuple(sorted(e["partition"].items())) not in replaced
                ]
            version = (base_v or 0) + 1
            manifest = {
                "version": version,
                **self._spec_doc(),
                "files": kept + new_entries,
            }
            _carry_meta(manifest, src_m)
            # deletion vectors survive unrelated commits (an append must
            # not resurrect DV-deleted rows); extra may override (e.g.
            # materialize_deletes clears the list)
            deletes = src_m.get("deletes", []) if src_m is not None else []
            if deletes:
                manifest["deletes"] = deletes
            if extra:
                manifest.update(extra)
            if self._write_manifest_exclusive(version, manifest):
                return version
        raise ConcurrentCommitError(
            f"lost the publish race {_MAX_COMMIT_ATTEMPTS} times at {self.path}"
        )

    def _promote_staging(
        self,
        staging: str,
        stats: dict[str, dict] | None = None,
        blooms: dict[str, dict] | None = None,
    ) -> list[dict]:
        """Rename staged parquet files into the shared data tree.

        The commit id in the FILE NAME (not a directory level) keeps the
        whole tree one consistent hive layout, so a single scan with one
        basePath covers files from any mix of commits.
        """
        commit_id = uuid.uuid4().hex[:16]
        fs, _, jvm = _fs(self.spark, staging)
        HPath = jvm.org.apache.hadoop.fs.Path
        entries = []
        pcols = self.partition_cols
        for rel in _list_parquet_rel(self.spark, staging):
            part_dir, _, fname = rel.rpartition("/")
            dest_rel = (
                f"{part_dir}/{commit_id}-{fname}" if part_dir
                else f"{commit_id}-{fname}"
            )
            dest = HPath(f"{self.path}/data/{dest_rel}")
            fs.mkdirs(dest.getParent())
            if not fs.rename(HPath(f"{staging}/{rel}"), dest):
                raise IOError(f"failed to promote {rel} into {self.path}/data")
            entry = {
                "path": dest_rel,
                "partition": _partition_of(rel, pcols),
            }
            if stats and rel in stats:
                entry["stats"] = stats[rel]
            if blooms and rel in blooms:
                entry["bloom"] = blooms[rel]
            entries.append(entry)
        fs.delete(HPath(staging), True)
        return entries

    def _enforce_constraints(self, df: DataFrame) -> DataFrame:
        """Attach the CHECK-constraint guard to a commit's plan: any row
        whose predicate is FALSE (NULL passes, per SQL CHECK) raises
        during the staging write, aborting the commit pre-publish."""
        from pyspark.sql import functions as F

        for name, pred in self.constraints.items():
            ok = F.coalesce(F.expr(pred), F.lit(True))
            df = df.filter(
                F.when(
                    ~ok,
                    F.raise_error(
                        F.lit(
                            f"CHECK constraint '{name}' violated: {pred}"
                        )
                    ).cast("boolean"),
                ).otherwise(F.lit(True))
            )
        return df

    def _commit_file_replacement(
        self,
        replaced_paths: set[str],
        new_entries: list[dict],
        base_v: int,
        extra: dict | None = None,
    ) -> int:
        """Publish: base version's files with `replaced_paths` swapped
        for `new_entries`. FILE-level replacement (vs _commit_entries'
        partition level) for predicate rewrites. Raises on a concurrent
        commit instead of rebasing: another writer may have rewritten or
        replaced the same files, and silently merging two row-level
        rewrites can lose one of them (same rule as recluster)."""
        if self.latest_version() != base_v:
            raise ConcurrentCommitError(
                f"table advanced past v{base_v} during a predicate "
                f"rewrite at {self.path}; re-run against the new version"
            )
        base_m = self._read_manifest(base_v)
        kept = [
            e for e in base_m["files"] if _entry_key(e) not in replaced_paths
        ]
        version = base_v + 1
        manifest = {
            "version": version,
            **self._spec_doc(),
            "files": kept + new_entries,
        }
        _carry_meta(manifest, base_m)
        if base_m.get("deletes"):
            manifest["deletes"] = base_m["deletes"]
        if extra:
            manifest.update(extra)
        if not self._write_manifest_exclusive(version, manifest):
            raise ConcurrentCommitError(
                f"lost the publish race for v{version} at {self.path}"
            )
        return version

    def delete_where(self, condition) -> int:
        """DELETE FROM ... WHERE: rewrite ONLY the files containing
        matching rows (others keep their exact identity — time travel
        to the prior version still sees everything). Returns the new
        version (or the current one when nothing matched).

        One predicate-pushed scan finds the files with matches (per-file
        match counts via input_file_name), then only those files are
        re-read, filtered, and re-staged. At 100 TB the rewrite volume
        is bounded by the files actually touched, and the scan that
        finds them enjoys whatever zone-map/partition layout the table
        already has.
        """
        from pyspark.sql import functions as F

        # SQL DELETE deletes only rows where the predicate is TRUE; a
        # NULL predicate KEEPS the row. A bare filter(~cond) would drop
        # NULL rows (filter keeps only TRUE), and only in touched files
        # — silent, file-layout-dependent loss for nullable predicate
        # columns. Coalesce to FALSE so NULL rows survive everywhere.
        return self.rewrite_where(
            condition,
            lambda df, cond: df.filter(~F.coalesce(cond, F.lit(False))),
            changes_builder=lambda df, cond, new_df: df.filter(
                F.coalesce(cond, F.lit(False))
            ).withColumn("_change_type", F.lit("delete")),
            op="delete",
        )

    def delete_where_dv(self, condition) -> int:
        """DELETE FROM ... WHERE, MERGE-ON-READ (Delta deletion vectors
        / Iceberg positional deletes): instead of rewriting every file
        that contains a match, record the matches' (file, row-position)
        coordinates in a deletion-vector file and publish a manifest
        that references it. The write cost is O(deleted rows) — at
        100 TB a point delete touches kilobytes, not the gigabytes of
        copy-on-write file rewrites — and every data file keeps its
        exact identity (time travel, incremental caches, and clone
        sharing all stay intact). Reads pay one anti-join against the
        (tiny, broadcast) DV set until :meth:`materialize_deletes`
        compacts it away. NULL-predicate rows are kept, per SQL DELETE.

        The change feed is recorded write-time like delete_where, so
        CDF consumers see identical row-level deletes either way."""
        from pyspark.sql import functions as F

        base_v = self.latest_version()
        if base_v is None:
            raise ValueError(f"no table at {self.path}")
        cond = F.expr(condition) if isinstance(condition, str) else condition
        matched = (
            self.read(version=base_v, _lineage=True)
            .filter(F.coalesce(cond, F.lit(False)))
            # one compute for DV write + count + CDF (update_where_dv's
            # pattern): the checkpoint materializes only the MATCHED
            # rows — O(deleted), the same bound as the DV itself — and
            # saves a second full-table scan for the change feed
            .localCheckpoint(eager=True)
        )
        tok = uuid.uuid4().hex
        dv_path = f"{self.path}/{_DELETES}/{tok}"
        matched.select("_dv_file", "_dv_row").write.parquet(dv_path)
        n = self._count_written(dv_path)
        if n == 0:
            fs, p, jvm = _fs(self.spark, dv_path)
            fs.delete(p, True)
            return base_v
        changes = matched.drop("_dv_file", "_dv_row").withColumn(
            "_change_type", F.lit("delete")
        )
        chg_tok = self._write_changes(changes)
        prior = self._read_manifest(base_v).get("deletes", [])
        return self._commit_file_replacement(
            set(),
            [],
            base_v,
            extra={
                "op": "delete-dv",
                "deletes": prior + [{"token": tok, "rows": int(n)}],
                "changes": chg_tok,
            },
        )

    def update_where_dv(self, condition, assignments: dict) -> int:
        """UPDATE ... SET, MERGE-ON-READ: deletion-vector the matched
        rows out of their files and append their updated copies as new
        files — Delta's DV update decomposition. Write volume is
        O(matched rows) (the postimage files + a tiny DV), never the
        touched files' full contents; untouched rows' files keep their
        identity. Matching rows may move partitions if an assignment
        changes a partition column — the postimage lands wherever its
        new values route it, which copy-on-write update_where cannot do
        without rewriting both partitions."""
        from pyspark.sql import functions as F

        base_v = self.latest_version()
        if base_v is None:
            raise ValueError(f"no table at {self.path}")
        cond = F.expr(condition) if isinstance(condition, str) else condition
        matched = (
            self.read(version=base_v, _lineage=True)
            .filter(F.coalesce(cond, F.lit(False)))
            .localCheckpoint(eager=True)  # one compute for DV + post + CDF
        )
        tok = uuid.uuid4().hex
        dv_path = f"{self.path}/{_DELETES}/{tok}"
        matched.select("_dv_file", "_dv_row").write.parquet(dv_path)
        n = self._count_written(dv_path)
        if n == 0:
            fs, p, _ = _fs(self.spark, dv_path)
            fs.delete(p, True)
            return base_v
        pre = matched.drop("_dv_file", "_dv_row")
        post = pre
        for col, expr in assignments.items():
            post = post.withColumn(col, expr)
        new_entries = self._write_and_promote(post)
        changes = pre.withColumn(
            "_change_type", F.lit("update_preimage")
        ).unionByName(
            post.withColumn("_change_type", F.lit("update_postimage"))
        )
        chg_tok = self._write_changes(changes)
        prior = self._read_manifest(base_v).get("deletes", [])
        return self._commit_file_replacement(
            set(),
            new_entries,
            base_v,
            extra={
                "op": "update-dv",
                "deletes": prior + [{"token": tok, "rows": int(n)}],
                "changes": chg_tok,
            },
        )

    def merge_dv(self, updates: DataFrame, key_fields: list[str]) -> dict:
        """MERGE, MERGE-ON-READ: upsert ``updates`` by key with write
        volume O(affected rows) — matched-and-changed target rows are
        deletion-vectored out of their files and the update images (plus
        brand-new keys) land as appended files, all in ONE atomic
        commit. No touched file is rewritten (copy-on-write MERGE pays
        the full contents of every file holding a matched row; with a
        clustered layout that approaches a table rewrite for scattered
        keys). This is Iceberg's merge-on-read MERGE / Delta's DV
        update decomposition applied to the reference's core upsert
        [reference: src/modules/ingestion_handler.py:205-254 — same
        semantics as merge_observations: create + replace-only-changed].

        Action classification reuses operators/merge.merge_plan (ONE
        distributed full-outer probe; multi-match and conflicting-
        duplicate guards included); unchanged matches cost nothing.
        Returns {"version", "created", "replaced"}. The change feed
        records insert + update pre/post images, so CDF consumers see a
        merge-dv commit exactly like a copy-on-write merge."""
        from pyspark.sql import functions as F

        from station_data_ingestion_spark.operators.merge import merge_plan

        from pyspark.sql import Observation

        base_v = self.latest_version()
        if base_v is None:
            raise ValueError(f"no table at {self.path}")
        target = self.read(version=base_v)
        plan = merge_plan(target, updates, key_fields, replace=True)
        # classify ONCE; the created/replaced tallies ride the
        # checkpoint action as observed metrics instead of a separate
        # groupBy job over the checkpointed plan
        obs = Observation()
        plan = plan.observe(
            obs,
            F.sum((F.col("_action") == "create").cast("long")).alias("c"),
            F.sum((F.col("_action") == "replace").cast("long")).alias("r"),
        ).localCheckpoint(eager=True)
        counts = obs.get
        created = int(counts["c"] or 0)
        replaced = int(counts["r"] or 0)
        if created == 0 and replaced == 0:
            return {"version": base_v, "created": 0, "replaced": 0}
        data_cols = [c for c in plan.columns if c != "_action"]
        new_rows = plan.filter(
            F.col("_action").isin("create", "replace")
        ).select(*data_cols)
        extra = {"op": "merge-dv"}
        n_dv = 0
        tok = None
        if replaced:
            replaced_keys = plan.filter(
                F.col("_action") == "replace"
            ).select(*key_fields)
            matched = (
                self.read(version=base_v, _lineage=True)
                .join(replaced_keys, key_fields, "left_semi")
                .localCheckpoint(eager=True)  # one compute: DV + CDF
            )
            tok = uuid.uuid4().hex
            dv_path = f"{self.path}/{_DELETES}/{tok}"
            matched.select("_dv_file", "_dv_row").write.parquet(dv_path)
            n_dv = self._count_written(dv_path)
            pre = matched.drop("_dv_file", "_dv_row").withColumn(
                "_change_type", F.lit("update_preimage")
            )
            post = plan.filter(F.col("_action") == "replace").select(
                *data_cols
            ).withColumn("_change_type", F.lit("update_postimage"))
            changes = pre.unionByName(post)
        else:
            changes = self.spark.createDataFrame(
                [], new_rows.withColumn("_change_type", F.lit("")).schema
            )
        inserts = plan.filter(F.col("_action") == "create").select(
            *data_cols
        ).withColumn("_change_type", F.lit("insert"))
        extra["changes"] = self._write_changes(
            changes.unionByName(inserts)
        )
        if tok is not None and n_dv > 0:
            prior = self._read_manifest(base_v).get("deletes", [])
            extra["deletes"] = prior + [{"token": tok, "rows": int(n_dv)}]
        new_entries = self._write_and_promote(new_rows)
        v = self._commit_file_replacement(
            set(), new_entries, base_v, extra=extra
        )
        return {"version": v, "created": created, "replaced": replaced}

    def materialize_deletes(self) -> int:
        """Compact MERGE-ON-READ deletes into the data files: rewrite
        ONLY the files that have live deletion-vector rows (all others
        keep their identity), then clear the DV list — after this,
        reads pay zero anti-join again. The maintenance twin of
        delete_where_dv, exactly like Delta's OPTIMIZE rewriting files
        with DVs; declares ``cdf: none`` since no logical row changes."""
        from pyspark.sql import functions as F

        base_v = self.latest_version()
        if base_v is None:
            raise ValueError(f"no table at {self.path}")
        self._guard_eq_deletes("materialize_deletes")
        base_m = self._read_manifest(base_v)
        dvs = base_m.get("deletes") or []
        if not dvs:
            return base_v
        # which LIVE files do the DV rows reference? (stale refs — files
        # since rewritten/recompacted — prune out here)
        dv_files = {
            r["_dv_file"]
            for r in self._read_dv_frame(dvs).select("_dv_file").distinct().collect()
        }
        from urllib.parse import unquote

        def is_hit(e: dict) -> bool:
            suffix = f"/{e['path']}"
            base = e.get("base")
            root = f"{base}/" if base else f"{self.path}/data/"
            return any(
                root in unquote(u) and unquote(u).endswith(suffix)
                for u in dv_files
            )

        touched = [e for e in base_m["files"] if is_hit(e)]
        if not touched:
            return self._commit_file_replacement(
                set(), [], base_v, extra={"op": "materialize-deletes", "deletes": [], "cdf": "none"}
            )
        df = self._read_entry_files(
            touched,
            renames=base_m.get("renames", []),
            dropped=base_m.get("dropped", []),
            lineage=True,
            keep_row_ids=True,
        )
        df = df.join(
            self._read_dv_frame(dvs), on=["_dv_file", "_dv_row"], how="left_anti"
        )
        if base_m.get("row_tracking"):
            df = self._attach_row_ids(df, touched)
        df = self._rederive_transforms(df.drop("_dv_file", "_dv_row"))
        staging = f"{self.path}/{_STAGING}/{uuid.uuid4().hex}"
        df.write.partitionBy(*self.partition_cols).parquet(staging)
        stats = self._file_stats(staging, list(self.stat_cols))
        blooms = self._file_blooms(staging)
        new_entries = self._promote_staging(staging, stats, blooms)
        return self._commit_file_replacement(
            {_entry_key(e) for e in touched},
            new_entries,
            base_v,
            extra={"op": "materialize-deletes", "deletes": [], "cdf": "none"},
        )

    # -- equality deletes (Iceberg v2 merge-on-read) -----------------------

    def _eq_deletes(self, version: int | None = None) -> list[dict]:
        v = self.latest_version() if version is None else version
        if v is None:
            return []
        return self._read_manifest(v).get("eq_deletes") or []

    def _guard_eq_deletes(self, op: str) -> None:
        """File-REWRITING maintenance must not run with pending equality
        deletes: rewrites re-read files directly (not through read())
        and re-land rows under a NEW data sequence, which would both
        resurrect eq-deleted rows and lift surviving rows out of the
        deletes' reach. Iceberg imposes the same discipline (equality
        deletes must be rewritten during compaction); here the cheap
        safe order is materialize_eq_deletes() first."""
        if self._eq_deletes():
            raise RuntimeError(
                f"{op} with pending equality deletes would resurrect "
                "deleted rows: run materialize_eq_deletes() first"
            )

    def enable_row_tracking(self) -> int:
        """Turn on ROW TRACKING (Delta-style stable row ids): every row
        gets a table-unique id that survives file rewrites. New files
        get a contiguous id range allocated at commit (id = file
        row_base + parquet row_index — no physical column, zero storage
        cost); rewrite-class ops (UPDATE/DELETE rewrites, compactions,
        recluster) MATERIALIZE ids into a physical ``_row_id`` column on
        the files they rewrite so identity survives the copy. Existing
        files are assigned ranges retroactively at enable time (their
        per-file row counts are already in the manifest). Read ids with
        ``read(with_row_ids=True)``; plain reads never see them.
        MERGE-ON-READ ops (DV/equality deletes) preserve ids for free —
        they never move a row; merge_dv's updated copies are NEW rows
        and get fresh ids (re-keying across a merge needs the key, not
        the row id). [reference: Delta Lake row tracking / Iceberg row
        lineage — re-expressed over the manifest store +
        _metadata.row_index]"""
        base_v = self.latest_version()
        if base_v is None:
            raise ValueError(f"no table at {self.path}")
        m = self._read_manifest(base_v)
        if m.get("row_tracking"):
            return base_v
        base = 0
        files = [dict(e) for e in m["files"]]
        for e in sorted(files, key=lambda e: e["path"]):
            n = (e.get("stats") or {}).get("__rows")
            if n is None:
                raise RuntimeError(
                    "cannot enable row tracking: entry "
                    f"{e['path']} predates per-file row counts"
                )
            e["row_base"] = base
            base += int(n)
        version = base_v + 1
        manifest = {
            "version": version,
            **self._spec_doc(),
            "files": files,
            "op": "enable-row-tracking",
            "row_tracking": True,
            "row_hwm": base,
            "cdf": "none",
            "features": sorted(
                set(m.get("features", [])) | {"row-tracking"}
            ),
        }
        _carry_meta(manifest, m)
        if m.get("deletes"):
            manifest["deletes"] = m["deletes"]
        if not self._write_manifest_exclusive(version, manifest):
            raise ConcurrentCommitError(
                f"lost the publish race for v{version} at {self.path}"
            )
        return version

    def _attach_row_ids(
        self, out: DataFrame, entries: list[dict]
    ) -> DataFrame:
        """Compute ``_row_id`` on a lineage-bearing frame: the file's
        physical column when materialized (rewrites), else row_base +
        parquet row_index. The filename->base map is manifest-sized and
        broadcasts."""
        from pyspark.sql import functions as F

        fmap = []
        for e in entries:
            b = e.get("row_base")
            if b is None:
                raise RuntimeError(
                    f"row tracking enabled but entry {e['path']} has no "
                    "row_base — manifest corruption"
                )
            # full relative path, not basename (one commit's write job
            # repeats part-file names across partition dirs)
            fmap.append((e["path"], int(b)))
        fdf = self.spark.createDataFrame(
            fmap, "_rt_frel string, _rt_base long"
        )
        out = out.withColumn(
            "_rt_frel", _rel_path_expr(entries)
        ).join(F.broadcast(fdf), "_rt_frel", "left")
        derived = F.when(
            F.col("_rt_base").isNull(),
            F.raise_error(
                F.concat(
                    F.lit("row-id base map missed file "),
                    F.col("_dv_file"),
                )
            ).cast("long"),
        ).otherwise(F.col("_rt_base") + F.col("_dv_row"))
        if "_row_id" in out.columns:
            idc = F.coalesce(F.col("_row_id").cast("long"), derived)
        else:
            idc = derived
        return out.withColumn("_row_id", idc.cast("long")).drop(
            "_rt_frel", "_rt_base"
        )

    def _read_eq_frame(self, items: list[dict]) -> DataFrame:
        """Union of same-key-columns equality-delete files, each row
        tagged with its delete's data sequence number."""
        from pyspark.sql import functions as F

        frames = []
        for d in items:
            root = d.get("root") or self.path
            frames.append(
                self.spark.read.parquet(
                    f"{root}/{_DELETES}/{d['token']}"
                ).withColumn("_eq_dseq", F.lit(int(d["seq"])))
            )
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        return out

    def _read_eq_planned(
        self,
        entries: list[dict],
        eqs: list[dict],
        manifest: dict,
        need_lineage: bool,
        with_row_ids: bool,
    ) -> DataFrame:
        """Read ``entries`` with pending equality deletes applied by
        PLANNING-time matching (see the call site in :meth:`read`):
        entries are grouped by which deletes apply to them (delete seq >
        file seq), each group is scanned and anti-joined against exactly
        those key sets — no per-row file->seq map. The final projection
        is pinned to the column order an undivided scan would produce,
        so splitting the scan can never reorder the table schema."""
        from pyspark.sql import functions as F

        renames = manifest.get("renames", [])
        dropped = manifest.get("dropped", [])
        sig_groups: dict[tuple, list[dict]] = {}
        for e in entries:
            s = int(e.get("seq") or 0)
            sig = tuple(
                i for i, d in enumerate(eqs) if s < int(d["seq"])
            )
            sig_groups.setdefault(sig, []).append(e)
        parts = []
        for sig in sorted(sig_groups):
            part = self._read_entry_files(
                sig_groups[sig],
                renames=renames,
                dropped=dropped,
                lineage=need_lineage,
                keep_row_ids=with_row_ids,
            )
            groups: dict[tuple, list[dict]] = {}
            for i in sig:
                groups.setdefault(tuple(eqs[i]["cols"]), []).append(eqs[i])
            for cols, items in groups.items():
                renamed = self._read_eq_frame(items).select(
                    *[
                        F.col(c).alias(f"_eqk_{i}")
                        for i, c in enumerate(cols)
                    ]
                )
                cond = None
                for i, c in enumerate(cols):
                    this = part[c].eqNullSafe(renamed[f"_eqk_{i}"])
                    cond = this if cond is None else (cond & this)
                part = part.join(F.broadcast(renamed), cond, "left_anti")
            parts.append(part)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p, allowMissingColumns=True)
        if len(parts) > 1:
            ref_cols = self._read_entry_files(
                entries,
                renames=renames,
                dropped=dropped,
                lineage=need_lineage,
                keep_row_ids=with_row_ids,
            ).columns
            out = out.select(*ref_cols)
        return out

    def _apply_eq_deletes(
        self, out: DataFrame, eqs: list[dict], entries: list[dict]
    ) -> DataFrame:
        """Anti-join pending equality deletes against ``out`` (which
        must carry ``_dv_file`` lineage). A row is deleted iff some
        recorded key tuple matches null-safely AND the row's file has a
        data sequence strictly below the delete's. File sequence attaches
        by a broadcast filename->seq map built from the manifest entries
        (file names embed a commit uuid, so they are unique per table);
        the delete sets themselves are small by design — O(deleted keys),
        kilobytes at any table size — so both joins broadcast."""
        from pyspark.sql import functions as F

        # keyed by the full data-root-relative path, NOT the basename:
        # one commit's write job emits identically-named part files into
        # different partition dirs (the _file_stats trap). The scan's
        # _dv_file URI is percent-encoded; url_decode aligns it with the
        # manifest's literal path segments. An unmapped file raises
        # rather than silently treating the file as older than every
        # delete (which could delete legitimately re-inserted rows).
        fmap = [
            (e["path"], int(e.get("seq") or 0)) for e in entries
        ]
        fdf = self.spark.createDataFrame(
            fmap, "_eq_frel string, _eq_fseq long"
        )
        out = out.withColumn(
            "_eq_frel", _rel_path_expr(entries)
        ).join(F.broadcast(fdf), "_eq_frel", "left")
        out = out.withColumn(
            "_eq_fseq",
            F.when(
                F.col("_eq_fseq").isNull(),
                F.raise_error(
                    F.concat(
                        F.lit("equality-delete seq map missed file "),
                        F.col("_dv_file"),
                    )
                ).cast("long"),
            ).otherwise(F.col("_eq_fseq")),
        )
        groups: dict[tuple, list[dict]] = {}
        for d in eqs:
            groups.setdefault(tuple(d["cols"]), []).append(d)
        for cols, items in groups.items():
            dk = self._read_eq_frame(items)
            renamed = dk.select(
                *[F.col(c).alias(f"_eqk_{i}") for i, c in enumerate(cols)],
                "_eq_dseq",
            )
            cond = F.col("_eq_fseq") < renamed["_eq_dseq"]
            for i, c in enumerate(cols):
                cond = cond & out[c].eqNullSafe(renamed[f"_eqk_{i}"])
            out = out.join(F.broadcast(renamed), cond, "left_anti")
        return out.drop("_eq_fname", "_eq_fseq")

    def delete_where_eq(self, keys: DataFrame) -> int:
        """DELETE by KEY SET, merge-on-read (Iceberg v2 EQUALITY
        deletes): record the key tuples themselves — no scan of the
        table at all on the write path beyond the CDF capture — and let
        readers anti-join them against files committed BEFORE the
        delete. The complementary trade to deletion vectors: a DV knows
        exact (file, row) coordinates but must find them first (one
        predicate scan); an equality delete costs O(keys) to write even
        when the table is cold, and is how streaming CDC retires keys it
        has never read. Sequence-number semantics: rows appended AFTER
        the delete keep their keys (per-file ``seq`` vs the delete's
        ``seq``), matching Iceberg exactly. NULL key components match
        null-safely. Returns the new version.

        Pending equality deletes block file-REWRITING maintenance
        (rewrite_where / recluster / materialize_deletes raise) until
        :meth:`materialize_eq_deletes` folds them in; appends, DV
        deletes, reads, time travel, and more equality deletes compose
        freely."""
        from pyspark.sql import functions as F

        base_v = self.latest_version()
        if base_v is None:
            raise ValueError(f"no table at {self.path}")
        current = self.read(version=base_v)
        cols = list(keys.columns)
        missing = [c for c in cols if c not in current.columns]
        if missing:
            raise ValueError(
                f"equality-delete key columns {missing} not in table "
                f"schema {current.columns}"
            )
        keyset = keys.distinct()
        tok = f"eq-{uuid.uuid4().hex}"
        keyset.coalesce(1).write.parquet(f"{self.path}/{_DELETES}/{tok}")
        n = self._count_written(f"{self.path}/{_DELETES}/{tok}")
        base_m = self._read_manifest(base_v)
        dseq = int(base_m.get("seq_hwm") or 0) + 1
        # CDF capture: the rows this delete retires are exactly the
        # current matching rows (every live file's seq precedes dseq)
        cond = None
        kren = keyset.select(
            *[F.col(c).alias(f"_eqk_{i}") for i, c in enumerate(cols)]
        )
        for i, c in enumerate(cols):
            this = current[c].eqNullSafe(kren[f"_eqk_{i}"])
            cond = this if cond is None else (cond & this)
        changes = current.join(F.broadcast(kren), cond, "left_semi").withColumn(
            "_change_type", F.lit("delete")
        )
        chg_tok = self._write_changes(changes)
        prior = base_m.get("eq_deletes", [])
        return self._commit_entries(
            set(),
            [],
            expected_version=base_v,
            extra={
                "op": "delete-eq",
                "eq_deletes": prior
                + [{"token": tok, "cols": cols, "seq": dseq, "rows": int(n)}],
                "changes": chg_tok,
                "seq_hwm": dseq,
                "features": sorted(
                    set(base_m.get("features", [])) | {"eq-deletes"}
                ),
            },
        )

    def materialize_eq_deletes(self) -> int:
        """Fold pending equality deletes into the data files: rewrite
        ONLY the files that still contain matching pre-delete rows, then
        clear the list — the maintenance twin of materialize_deletes,
        and what unblocks rewrite-class maintenance. ``cdf: none`` (no
        logical rows change — readers already saw the deletes)."""
        from pyspark.sql import functions as F

        base_v = self.latest_version()
        if base_v is None:
            raise ValueError(f"no table at {self.path}")
        base_m = self._read_manifest(base_v)
        eqs = base_m.get("eq_deletes") or []
        if not eqs:
            return base_v
        raw = self.read(version=base_v, _lineage=True, _skip_eq=True)
        survivors = self._apply_eq_deletes(raw, eqs, base_m["files"])
        # touched = files that lose at least one row: present in raw's
        # per-file counts but with fewer surviving rows
        pre = {
            r["_dv_file"]: r["count"]
            for r in raw.groupBy("_dv_file").count().collect()
        }
        post = {
            r["_dv_file"]: r["count"]
            for r in survivors.groupBy("_dv_file").count().collect()
        }
        hit_uris = {u for u, n in pre.items() if post.get(u, 0) != n}
        if not hit_uris:
            return self._commit_file_replacement(
                set(), [], base_v,
                extra={"op": "materialize-eq-deletes", "eq_deletes": [],
                       "cdf": "none",
                       "features": sorted(
                           set(base_m.get("features", []))
                           - {"eq-deletes"}
                       )},
            )
        from urllib.parse import unquote

        hit_names = {
            unquote(u).rpartition("/")[2] for u in hit_uris
        }
        touched = [
            e
            for e in base_m["files"]
            if e["path"].rpartition("/")[2] in hit_names
        ]
        df = self._read_entry_files(
            touched,
            renames=base_m.get("renames", []),
            dropped=base_m.get("dropped", []),
            lineage=True,
            keep_row_ids=True,
        )
        if base_m.get("deletes"):
            df = df.join(
                self._read_dv_frame(base_m["deletes"]),
                on=["_dv_file", "_dv_row"],
                how="left_anti",
            )
        df = self._apply_eq_deletes(df, eqs, touched)
        if base_m.get("row_tracking"):
            df = self._attach_row_ids(df, touched)
        df = self._rederive_transforms(df.drop("_dv_file", "_dv_row"))
        staging = f"{self.path}/{_STAGING}/{uuid.uuid4().hex}"
        df.write.partitionBy(*self.partition_cols).parquet(staging)
        stats = self._file_stats(staging, list(self.stat_cols))
        blooms = self._file_blooms(staging)
        new_entries = self._promote_staging(staging, stats, blooms)
        return self._commit_file_replacement(
            {_entry_key(e) for e in touched},
            new_entries,
            base_v,
            extra={"op": "materialize-eq-deletes", "eq_deletes": [],
                   "cdf": "none",
                   "features": sorted(
                       set(base_m.get("features", [])) - {"eq-deletes"}
                   )},
        )

    def update_where(self, condition, assignments: dict) -> int:
        """UPDATE ... SET col=expr WHERE: same file-bounded rewrite as
        delete_where; `assignments` maps column name -> Column applied
        to matching rows (non-matching rows in touched files pass
        through unchanged)."""
        from pyspark.sql import functions as F

        def _check_assigned(df):
            unknown = set(assignments) - set(df.columns)
            if unknown:
                raise ValueError(
                    f"UPDATE assigns to unknown column(s) {sorted(unknown)}; "
                    "add the column first (add_column) — an UPDATE cannot "
                    "evolve the schema"
                )

        def apply(df, cond):
            _check_assigned(df)
            out = df
            for col, expr in assignments.items():
                out = out.withColumn(col, F.when(cond, expr).otherwise(F.col(col)))
            return out

        def changes(df, cond, new_df):
            _check_assigned(df)
            # ONE scan of the touched files, not a pre/post union of two:
            # each matching row explodes into its (preimage, postimage)
            # struct pair. Also pins the correct CDF pairing semantics —
            # the old post leg re-filtered on TRANSFORMED values, so an
            # assignment that touched a condition column could emit a
            # preimage with no matching postimage.
            cols = df.columns
            pre = F.struct(
                *[F.col(c).alias(c) for c in cols],
                F.lit("update_preimage").alias("_change_type"),
            )
            post = F.struct(
                *[
                    (assignments[c] if c in assignments else F.col(c)).alias(c)
                    for c in cols
                ],
                F.lit("update_postimage").alias("_change_type"),
            )
            return (
                df.filter(F.coalesce(cond, F.lit(False)))
                .select(F.explode(F.array(pre, post)).alias("_r"))
                .select("_r.*")
            )

        return self.rewrite_where(
            condition, apply, changes_builder=changes, op="update"
        )

    def rewrite_where(
        self, condition, transform, changes_builder=None, op: str | None = None
    ) -> int:
        """Shared DELETE/UPDATE machinery: `transform(df, condition)`
        is applied to the files whose rows match `condition`.

        ``changes_builder(df, cond, new_df)`` — when given — returns the
        row-level CHANGE FEED frame for this commit (table columns plus
        a ``_change_type`` string). It is written under ``_changes/``
        BEFORE the manifest publish and referenced from the manifest, so
        a failed publish leaves only a vacuum-reapable orphan, never a
        dangling reference (Delta's write-time CDF design: the change
        volume is bounded by the touched files, and readers never
        reconstruct row diffs from full snapshots)."""
        from pyspark.sql import functions as F

        base_v = self.latest_version()
        if base_v is None:
            raise ValueError(f"no table at {self.path}")
        self._guard_eq_deletes("predicate rewrite")
        cond = F.expr(condition) if isinstance(condition, str) else condition
        # lineage read: file identity comes from _metadata.file_path,
        # which (unlike input_file_name) stays well-defined after the
        # deletion-vector anti-join and already excludes DV-deleted rows
        current = self.read(version=base_v, _lineage=True)
        base_m = self._read_manifest(base_v)
        entries = base_m["files"]
        # every data root this snapshot references (the local one plus
        # any shallow-clone sources) maps a scanned URI back to its key
        prefixes = sorted(
            {f"{self.path}/data/"}
            | {f"{e['base']}/" for e in entries if e.get("base")},
            key=len,
            reverse=True,
        )

        def uri_key(uri: str) -> tuple:
            from urllib.parse import unquote

            u = unquote(uri)
            for p in prefixes:
                if p in u:
                    base = p.rstrip("/") if p != f"{self.path}/data/" else None
                    return (base, u.split(p, 1)[-1])
            return (None, u)

        hit_files = {
            uri_key(r["__f"])
            for r in current.filter(cond)
            .groupBy(F.col("_dv_file").alias("__f"))
            .count()
            .collect()
        }
        if not hit_files:
            return base_v
        touched = [e for e in entries if _entry_key(e) in hit_files]
        if len(touched) != len(hit_files):
            raise RuntimeError(
                "matched files missing from the manifest — path "
                "normalization bug, refusing to rewrite"
            )
        df = self._read_entry_files(
            touched,
            renames=base_m.get("renames", []),
            dropped=base_m.get("dropped", []),
            lineage=True,
            keep_row_ids=True,
        )
        if base_m.get("deletes"):
            # rewriting a file MATERIALIZES its deletion-vector rows:
            # the rewritten copy must not resurrect them
            df = df.join(
                self._read_dv_frame(base_m["deletes"]),
                on=["_dv_file", "_dv_row"],
                how="left_anti",
            )
        if base_m.get("row_tracking"):
            # rewritten copies must keep their row ids: materialize them
            # as a physical column before the transform
            df = self._attach_row_ids(df, touched)
        df = df.drop("_dv_file", "_dv_row")
        rewritten = self._enforce_constraints(
            self._rederive_transforms(transform(df, cond))
        )
        staging = f"{self.path}/{_STAGING}/{uuid.uuid4().hex}"
        rewritten.write.partitionBy(*self.partition_cols).parquet(staging)
        stats = self._file_stats(staging, list(self.stat_cols))
        blooms = self._file_blooms(staging)
        new_entries = self._promote_staging(staging, stats, blooms)
        extra = {"op": op or "rewrite"}
        if changes_builder is not None:
            chg = changes_builder(df, cond, rewritten)
            extra["changes"] = self._write_changes(chg)
        return self._commit_file_replacement(
            {_entry_key(e) for e in touched}, new_entries, base_v, extra=extra
        )

    def _write_changes(self, changes: DataFrame) -> str:
        """Write a change-feed frame under ``_changes/``; returns the
        manifest-relative token. Unreferenced tokens (lost publish
        races) are reaped by vacuum like any staged orphan."""
        rel = uuid.uuid4().hex
        changes.write.parquet(f"{self.path}/{_CHANGES}/{rel}")
        return rel

    def read_change_feed(
        self,
        from_version: int,
        to_version: int | None = None,
        chain: list[int] | None = None,
    ) -> DataFrame | None:
        """Row-level changes in the version range (from_version,
        to_version] — Delta CHANGE DATA FEED semantics: each row carries
        ``_change_type`` in {insert, delete, update_preimage,
        update_postimage} and ``_commit_version``.

        Sources per commit, cheapest first: a manifest marked
        ``cdf: none`` (declared maintenance, e.g. recluster) contributes
        nothing; a recorded ``changes`` file is read as-is (write-time
        CDF, volume bounded by the touched files); a structurally pure
        APPEND (previous file set preserved) synthesizes inserts by
        scanning ONLY the added files — appends pay zero extra storage.
        Anything else raises :class:`ChangeFeedUnavailableError`
        (restores and untracked partition overwrites have no derivable
        row diff — same contract as Delta before CDF is enabled).

        Returns None when the range is empty. Applying the feed to the
        from_version snapshot reproduces to_version exactly (delete the
        delete+update_preimage rows, add insert+update_postimage).

        ``chain``: optional explicit version sequence to walk instead of
        every integer in the range — for tables written through CATALOG
        transactions, whose aborted stagings leave dead-branch versions
        that are not part of the pinned history (a dead version's
        recorded changes must not leak into the feed, and a pinned
        append must diff against the PREVIOUS PINNED version, not the
        numerically previous one). The chain must start at from_version
        and end at to_version."""
        from pyspark.sql import functions as F

        v_hi = self.latest_version() if to_version is None else to_version
        if v_hi is None or from_version > v_hi:
            raise ValueError(
                f"invalid change-feed range ({from_version}, {v_hi}]"
            )
        if chain is None:
            chain = list(range(from_version, v_hi + 1))
        elif chain[0] != from_version or chain[-1] != v_hi or sorted(
            set(chain)
        ) != list(chain):
            raise ValueError(
                f"chain must ascend from {from_version} to {v_hi}"
            )
        frames = []
        for p, v in zip(chain, chain[1:]):
            m = self._read_manifest(v)
            if m.get("cdf") == "none":
                continue
            if "changes" in m:
                df = self.spark.read.parquet(
                    f"{self.path}/{_CHANGES}/{m['changes']}"
                )
            else:
                if p == 0:
                    # bootstrap commit: no v0 manifest, everything added
                    prev: set = set()
                    prev_dvs: list = []
                else:
                    pm = self._read_manifest(p)
                    prev = {_entry_key(e) for e in pm["files"]}
                    prev_dvs = pm.get("deletes", [])
                cur = {_entry_key(e): e for e in m["files"]}
                if not prev <= set(cur):
                    raise ChangeFeedUnavailableError(
                        f"v{v} at {self.path} replaced files without a "
                        "recorded change feed; re-run from a snapshot read"
                    )
                if prev_dvs != m.get("deletes", []):
                    # rows changed while the FILE set is append-only: a
                    # DV landed without recorded images (e.g. a branch
                    # fast-forward carrying branch-side DVs) — as
                    # underivable as a rewrite, so refuse loudly instead
                    # of silently reporting no changes
                    raise ChangeFeedUnavailableError(
                        f"v{v} at {self.path} changed deletion vectors "
                        "without a recorded change feed; re-run from a "
                        "snapshot read"
                    )
                added = [e for k, e in cur.items() if k not in prev]
                if not added:
                    continue
                df = self._read_entry_files(
                    added,
                    renames=m.get("renames", []),
                    dropped=m.get("dropped", []),
                ).withColumn("_change_type", F.lit("insert"))
            frames.append(df.withColumn("_commit_version", F.lit(v)))
        if not frames:
            return None
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f, allowMissingColumns=True)
        return out

    # -- maintenance -------------------------------------------------------

    def _partition_entries(self, version: int, partition: dict) -> list[dict]:
        return [
            e
            for e in self._read_manifest(version)["files"]
            if all(e["partition"].get(k) == v for k, v in partition.items())
        ]

    def recluster_partition(
        self,
        partition: dict,
        cluster_by: tuple[str, ...],
        cluster_partitions: int | None = None,
        _max_attempts: int = 5,
    ) -> int | None:
        """Rewrite one partition's files clustered by ``cluster_by`` --
        the offline OPTIMIZE pass that makes zone maps tight for tables
        whose ingest path cannot cluster inline (e.g. merge plans with
        stat side effects; see the commit_overwrite_partitions caveat --
        a snapshot read is a pure file scan, so double evaluation by
        repartitionByRange's sampling is harmless here). Also compacts
        small files as a side effect. Returns the new version, or None
        if the partition has no files.

        Concurrency: recluster is read-modify-write, so an ingest commit
        to the SAME partition landing between our read and our publish
        would be silently reverted to pre-recluster rows. After
        publishing we audit the intermediate manifests; on conflict we
        restore the newest intermediate content of the partition with a
        purely declarative manifest commit (data files are immutable, so
        the clobbered commit's files still exist) and retry the
        recluster from there. Equivalent to Delta's OPTIMIZE losing a
        conflict check and re-running.
        """
        self._guard_eq_deletes("recluster_partition")
        for _ in range(_max_attempts):
            base_v = self.latest_version()
            if base_v is None:
                return None
            tracked = bool(
                self._read_manifest(self.latest_version()).get(
                    "row_tracking"
                )
            )
            # a recluster COPY must not lose row identity: read WITH ids
            # so the rewritten files materialize them physically
            df = self.read(partition=partition, with_row_ids=tracked)
            if df is None:
                return None
            new_v = self.commit_overwrite_partitions(
                df, cluster_by=cluster_by,
                cluster_partitions=cluster_partitions,
                cdf_none=True,
            )
            base_paths = {
                _entry_key(e) for e in self._partition_entries(base_v, partition)
            }
            conflict_v = None
            for v in range(base_v + 1, new_v):
                mid_paths = {
                    _entry_key(e) for e in self._partition_entries(v, partition)
                }
                if mid_paths != base_paths:
                    conflict_v = v  # newest conflicting version wins
            if conflict_v is None:
                return new_v
            # restore the clobbered content declaratively, then retry
            restore = self._partition_entries(conflict_v, partition)
            replaced = {
                tuple(sorted(e["partition"].items())) for e in restore
            } or {tuple(sorted(partition.items()))}
            self._commit_entries(replaced, restore)
        raise ConcurrentCommitError(
            f"recluster of {partition} at {self.path} kept conflicting "
            f"with concurrent ingest after {_max_attempts} attempts"
        )

    def vacuum(self, older_than_sec: float = 24 * 3600.0) -> list[str]:
        """Delete data files unreferenced by the LATEST manifest.

        ``older_than_sec`` protects in-flight readers of recent snapshots
        and in-flight commits (staged-but-unpublished files), exactly like
        Delta's retention check. Also reaps old staging dirs and old
        manifests. Returns deleted data-file paths (relative).
        """
        import time as _time

        v = self.latest_version()
        if v is None:
            return []
        # only LOCAL entries pin local files; shallow-clone entries live
        # in their source's data root, which this vacuum never touches
        live = {
            e["path"]
            for e in self._read_manifest(v)["files"]
            if not e.get("base")
        }
        # refs pin liveness beyond retention: a TAG keeps its manifest
        # and that manifest's local files/tokens forever; a live BRANCH
        # keeps every main-rooted file (and DV token) its head still
        # references, so main churn can't reap from under a branch
        keep_manifests: set[int] = set()
        ref_dv_tokens: set[str] = set()
        main_data_key = _root_key(self.spark, f"{self.path}/data")
        self_key = _root_key(self.spark, self.path)
        for _rname, _rdoc in self._refs().items():
            if _rdoc.get("type") == "tag":
                tv = int(_rdoc["version"])
                keep_manifests.add(tv)
                # exists-guard: a dangling tag (manifest already gone)
                # must be skipped, and _read_manifest raises a raw JVM
                # error, not FileNotFoundError, on a missing path
                tfs, tpath, _ = _fs(self.spark, self._snap_path(tv))
                if not tfs.exists(tpath):
                    continue
                tm = self._read_manifest(tv)
                live |= {
                    e["path"] for e in tm["files"] if not e.get("base")
                }
            elif _rdoc.get("type") == "branch":
                # the fork point is resolvable via read(ref=...) as long
                # as the branch lives — an implicit tag: keep its
                # manifest AND its local files
                fv = int(_rdoc["fork_version"])
                keep_manifests.add(fv)
                ffs, fpath, _ = _fs(self.spark, self._snap_path(fv))
                if ffs.exists(fpath):
                    live |= {
                        e["path"]
                        for e in self._read_manifest(fv)["files"]
                        if not e.get("base")
                    }
                try:
                    br = self.branch(_rname)
                    bv = br.latest_version()
                    if bv is None:
                        continue
                    bm = br._read_manifest(bv)
                except (FileNotFoundError, ValueError):
                    continue
                live |= {
                    e["path"]
                    for e in bm["files"]
                    if e.get("base")
                    and _root_key(self.spark, e["base"]) == main_data_key
                }
                ref_dv_tokens |= {
                    d["token"]
                    for d in bm.get("deletes", []) + bm.get("eq_deletes", [])
                    if d.get("root")
                    and _root_key(self.spark, d["root"]) == self_key
                }
        cutoff_ms = (_time.time() - older_than_sec) * 1000.0
        fs, _, jvm = _fs(self.spark, self.path)
        HPath = jvm.org.apache.hadoop.fs.Path
        # staged-but-unpublished (WAP) files are live while their
        # pending manifest survives; stale pending manifests past the
        # retention window are reaped first (their files then fall out
        # of the live set and get collected like any other orphan)
        pend_root = HPath(f"{self.path}/{_PENDING}")
        if fs.exists(pend_root):
            for st in fs.listStatus(pend_root):
                name = st.getPath().getName()
                if not name.endswith(".json"):
                    continue
                if st.getModificationTime() < cutoff_ms:
                    fs.delete(st.getPath(), False)
                    continue
                try:
                    pending = self._read_pending(name[:-5])
                except (FileNotFoundError, ValueError):
                    continue
                live |= {e["path"] for e in pending["files"]}
        deleted = []
        data_root = HPath(f"{self.path}/data")
        if fs.exists(data_root):
            it = fs.listFiles(data_root, True)
            prefix = fs.makeQualified(data_root).toString().rstrip("/") + "/"
            while it.hasNext():
                st = it.next()
                rel = st.getPath().toString().removeprefix(prefix)
                if (
                    rel not in live
                    and rel.endswith(".parquet")
                    and st.getModificationTime() < cutoff_ms
                ):
                    fs.delete(st.getPath(), False)
                    deleted.append(rel)
        stage_root = HPath(f"{self.path}/{_STAGING}")
        if fs.exists(stage_root):
            for st in fs.listStatus(stage_root):
                if st.getModificationTime() < cutoff_ms:
                    fs.delete(st.getPath(), True)
        snap_root = HPath(f"{self.path}/{_SNAPDIR}")
        for st in fs.listStatus(snap_root):
            name = st.getPath().getName()
            keep = name == f"v{v:012d}.json" or name in {
                f"v{tv:012d}.json" for tv in keep_manifests
            }
            if not keep and st.getModificationTime() < cutoff_ms:
                fs.delete(st.getPath(), False)
        # change-feed files: referenced by any SURVIVING manifest = live
        # (readers can still resolve that version); unreferenced tokens
        # (lost publish races, reaped manifests) age out like staging
        chg_root = HPath(f"{self.path}/{_CHANGES}")
        if fs.exists(chg_root):
            live_chg = set()
            for st in fs.listStatus(snap_root):
                name = st.getPath().getName()
                if name.startswith("v") and name.endswith(".json"):
                    try:
                        m = self._read_manifest(int(name[1:-5]))
                    except (FileNotFoundError, ValueError):
                        continue
                    if "changes" in m:
                        live_chg.add(m["changes"])
            for st in fs.listStatus(chg_root):
                tok = st.getPath().getName()
                if tok not in live_chg and st.getModificationTime() < cutoff_ms:
                    fs.delete(st.getPath(), True)
        # deletion-vector files: same lifecycle as change files — live
        # while any surviving manifest references the token (local root
        # only; a clone's root-pinned tokens belong to the source's
        # vacuum, mirroring shallow-clone file isolation)
        dv_root = HPath(f"{self.path}/{_DELETES}")
        if fs.exists(dv_root):
            live_dv = set(ref_dv_tokens)
            for st in fs.listStatus(snap_root):
                name = st.getPath().getName()
                if name.startswith("v") and name.endswith(".json"):
                    try:
                        m = self._read_manifest(int(name[1:-5]))
                    except (FileNotFoundError, ValueError):
                        continue
                    live_dv |= {
                        d["token"]
                        for d in m.get("deletes", [])
                        + m.get("eq_deletes", [])
                        if not d.get("root")
                    }
            for st in fs.listStatus(dv_root):
                tok = st.getPath().getName()
                if tok not in live_dv and st.getModificationTime() < cutoff_ms:
                    fs.delete(st.getPath(), True)
        return deleted


def read_table(
    spark: SparkSession,
    path: str,
    partition: dict | None = None,
    ranges: dict[str, tuple] | None = None,
    version: int | None = None,
) -> DataFrame:
    """Read a snapshot table (the merge target's one layout).

    ``partition``/``ranges`` prune the manifest driver-side and
    ``version`` time-travels to an older snapshot (see
    :meth:`SnapshotTable.read`); callers still apply their real
    predicate. A path with no published snapshot raises
    ``FileNotFoundError``; an old plain parquet table converts once with
    ``plans.runner.convert_plain_table``.
    """
    t = SnapshotTable(spark, path)
    # one listing of _snapshots/ and one manifest read per call
    latest = t.latest_version()
    if latest is None:
        raise FileNotFoundError(
            f"{path} has no snapshot manifest; a plain parquet table "
            "converts with plans.runner.convert_plain_table"
        )
    v = latest if version is None else version
    manifest = t._read_manifest(v) if v == latest else t._read_published_manifest(v)
    df = t.read(partition=partition, ranges=ranges, version=v, _manifest=manifest)
    if df is None and (partition or ranges):
        # pruned to nothing: a valid empty result, not a missing table
        full = t.read(version=v, _manifest=manifest)
        if full is not None:
            return full.limit(0)
    if df is None:
        raise FileNotFoundError(f"snapshot table {path} has no live files")
    return df
