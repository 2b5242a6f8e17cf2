"""Size-targeted parquet export: solve the small-files problem at WRITE
time.

A naive ``df.write.parquet`` emits one file per task — at 100 TB with
wide shuffles that is either thousands of KB-sized files (metadata
pressure on every future scan, the #1 lakehouse operations complaint)
or a handful of multi-GB files (no scan parallelism). The maintenance
side of this already exists (`SnapshotTable.recluster_partition`); this
operator prevents the problem instead of repairing it:

1. estimate bytes/row from a bounded sample serialized through Arrow
   (actual encoded size, not schema guesswork — strings dominate and
   only the data knows how wide they are);
2. count rows (cheap columnar count);
3. repartition to ceil(total_bytes / target_bytes) files and write.

The repartition is the one extra shuffle — round-robin, perfectly
even, and it replaces the pathological file layout every downstream
scan would otherwise pay for. Parquet compression makes the on-disk
size smaller than the Arrow estimate; the target is an upper bound on
expected file size, which is the operationally useful direction
(files slightly smaller than target, never wildly bigger).

[reference: none — the reference writes through a document-store API;
engine surface, same family as SnapshotTable.recluster_partition]
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame

SAMPLE_ROWS = 2048


def estimate_row_bytes(
    df: DataFrame,
    sample_rows: int = SAMPLE_ROWS,
    total_rows: int | None = None,
) -> float:
    """Mean Arrow-encoded bytes per row from a bounded RANDOM sample.

    When ``total_rows`` is known (write_sized_parquet counts first), a
    seeded Bernoulli sample spread across the whole table is used —
    data ordered by payload width (common after clustering) would bias
    a head sample by large factors. Without ``total_rows`` the fraction
    cannot be derived, so a head sample is the documented fallback
    (assumes rows homogeneous in width). Driver cost stays bounded by
    ~sample_rows either way. Returns 0.0 for an empty frame.
    """
    import pyarrow as pa

    if total_rows and total_rows > sample_rows:
        # No .limit() after .sample(): limit takes the FIRST rows of
        # the sampled stream, which re-introduces the head bias the
        # sample exists to remove. Bernoulli keeps ~sample_rows in
        # expectation, which is all the estimate needs.
        frac = min(1.0, sample_rows / total_rows)
        sampled = df.sample(fraction=frac, seed=7)
    else:
        sampled = df.limit(sample_rows)
    pdf = sampled.toPandas()
    if not len(pdf):
        return 0.0
    table = pa.Table.from_pandas(pdf, preserve_index=False)
    return table.nbytes / len(pdf)


def write_sized_parquet(
    df: DataFrame,
    path: str,
    target_mb: int = 128,
    sample_rows: int = SAMPLE_ROWS,
) -> int:
    """Write `df` as parquet split into files targeting ~target_mb of
    in-memory (Arrow) bytes each; returns the file count used."""
    if target_mb <= 0:
        raise ValueError(f"target_mb must be positive, got {target_mb}")
    n = df.count()
    if n == 0:
        df.coalesce(1).write.mode("overwrite").parquet(path)
        return 1
    per_row = estimate_row_bytes(df, sample_rows=sample_rows, total_rows=n)
    total = per_row * n
    n_files = max(1, math.ceil(total / (target_mb * 1024 * 1024)))
    df.repartition(n_files).write.mode("overwrite").parquet(path)
    return n_files
