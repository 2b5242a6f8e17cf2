"""Composite-key MERGE / upsert as one distributed join program.

Re-expresses the reference's per-document probe loop
[reference: src/modules/ingestion_handler.py:182-254] -- which issues one
remote point-lookup per candidate doc under an asyncio semaphore -- as a
single full-outer join on the composite key. Semantics preserved exactly:

- key = ["datatype","period","date","fill","station_id"] + extras
  [src/tapis_direct_driver.py:72-73]
- >1 target match for an incoming key -> RecordKeyError
  ("Multiple entries match the specified key data")
  [ingestion_handler.py:193-195]
- replace only when replace flag set AND stored value differs (deep
  compare -> null-safe struct inequality) [ingestion_handler.py:196-199]
- replace=False: matched-and-different rows silently DROPPED, not
  inserted; unmatched still created [ingestion_handler.py:197,200-201]
- stats {created, replaced} [ingestion_handler.py:251-254]

Scale notes (100 TB): the multi-match probe is a count-window, not a
second aggregation. It does not always share the join's shuffle: when a
caller's key columns are constants on the update side (``run_job``'s
datatype/period/fill), they fold out of the join keys, and the target is
shuffled once by all keys for the window and again by the rest for the
join. AQE handles skewed station keys. With a date-partitioned
target table, callers should pre-filter the target to the update's date
range so partition pruning bounds the target scan (dynamic file pruning /
Delta MERGE would do this automatically; plain-parquet callers pass the
pruned target in).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_MULTI_MATCH_MSG = "Multiple entries match the specified key data"
_DUP_UPDATE_MSG = "Conflicting update rows share the same composite key"


class RecordKeyError(Exception):
    """More than one target row matches an incoming row's composite key."""


@dataclass(frozen=True)
class MergeStats:
    created: int
    replaced: int


def merge_plan(
    target: DataFrame,
    updates: DataFrame,
    key_fields: list[str],
    replace: bool = True,
    evolve_schema: bool = False,
) -> DataFrame:
    """Build the merged table with an ``_action`` column, lazily.

    ``_action`` in {'keep', 'create', 'replace'}. Matched-and-different
    updates under replace=False keep the target row ('keep'): the update is
    silently dropped, per the reference. Rows whose key matches >1 target
    row raise at execution time via raise_error (no extra pass). Exact
    duplicate update rows collapse to one; conflicting duplicates (same
    key, different data) raise -- see the inline note.

    ``evolve_schema=True`` is Delta's mergeSchema for MERGE: columns
    present on only one side are null-filled on the other (with the
    owning side's type) instead of raising — existing target rows keep
    NULL for a brand-new update column, dropped-column updates leave
    the target's values in place only for 'keep' rows (a 'replace'
    writes the update's NULL: the update IS the new truth for matched
    rows). Key columns must exist on both sides regardless.
    """
    if evolve_schema:
        missing_keys = [
            k for k in key_fields
            if k not in target.columns or k not in updates.columns
        ]
        if missing_keys:
            raise ValueError(
                f"key fields must exist on both sides: {missing_keys}"
            )
        for c in updates.columns:
            if c not in target.columns:
                target = target.withColumn(
                    c, F.lit(None).cast(updates.schema[c].dataType)
                )
        for c in target.columns:
            if c not in updates.columns:
                updates = updates.withColumn(
                    c, F.lit(None).cast(target.schema[c].dataType)
                )
    data_cols = [c for c in updates.columns if c not in key_fields]
    if set(target.columns) != set(updates.columns):
        raise ValueError(
            f"target/updates schema mismatch: {sorted(target.columns)} vs "
            f"{sorted(updates.columns)}"
        )

    # Count duplicate keys in the target. The window shares the join's
    # shuffle only when no key folds to a constant on the update side; on
    # run_job's shape (datatype/period/fill literal) the target shuffles
    # twice. Repartitioning by the non-constant keys first saves that
    # shuffle and a job warm but was slower cold (ROADMAP, measured).
    w = Window.partitionBy(*key_fields)
    t = target.select(
        *key_fields,
        F.struct(*data_cols).alias("_t_data"),
        F.count(F.lit(1)).over(w).alias("_t_key_count"),
    )
    # Updates-side duplicate keys would each claim the same target slot
    # and write duplicate rows, permanently poisoning the table (the next
    # merge would then raise the multi-match error on OUR OWN output).
    # The reference's sequential loop resolves them by file order, which
    # has no distributed analog; the safe semantic is: EXACT duplicates
    # (same key, same data) collapse to one -- idempotent -- while
    # CONFLICTING duplicates (same key, different data) raise. The guard
    # runs PRE-join on the (small, per-job) update side: when the job's
    # constant key columns fold out of the equi-join this costs one extra
    # exchange of the update side only -- a post-join guard would instead
    # re-shuffle the whole joined table, unbounded by the update size.
    # Implementation notes: the guard works on a 64-bit hash of the data
    # columns, never aggregating the struct itself -- a struct-typed
    # first()/dropDuplicates falls back to SortAggregate and adds two
    # more 7M-row sorts (measured ~10x slower at the 10x bench scale).
    # One window sorted by (keys, hash) computes conflict detection
    # (min != max) AND the dedup row_number, and its output ordering is
    # a prefix superset of the join's sort order, so the join sort is
    # elided. Each column is hashed together with its isNull flag:
    # Spark's xxhash64 SKIPS null inputs (they leave the accumulator
    # unchanged), so without the flags, values swapping between
    # same-typed columns via nulls would collide systematically. With
    # them, collisions are the generic ~2^-64 per key (a collision
    # treats a conflict as an exact duplicate), accepted.
    null_safe_hash = F.xxhash64(
        *[e for c in data_cols for e in (F.col(c), F.col(c).isNull())]
    )
    u = updates.select(
        *key_fields,
        F.struct(*data_cols).alias("_u_data"),
        null_safe_hash.alias("_u_h"),
    )
    uo = Window.partitionBy(*key_fields).orderBy("_u_h")
    frame = uo.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    u = (
        u
        .withColumn(
            "_u_conflict",
            F.min("_u_h").over(frame) != F.max("_u_h").over(frame),
        )
        .withColumn("_u_rn", F.row_number().over(uo))
        .filter(
            F.when(
                F.col("_u_conflict"),
                F.raise_error(F.lit(_DUP_UPDATE_MSG)).cast("boolean"),
            ).otherwise(F.col("_u_rn") == 1)
        )
        .drop("_u_h", "_u_conflict", "_u_rn")
        .withColumn("_u_present", F.lit(True))
    )

    joined = t.join(u, on=key_fields, how="full_outer")

    u_present = F.col("_u_present").isNotNull()
    multi_match = u_present & (F.col("_t_key_count") > 1)
    changed = u_present & ~F.col("_t_data").eqNullSafe(F.col("_u_data"))

    action = (
        F.when(
            multi_match,
            F.raise_error(F.lit(_MULTI_MATCH_MSG)).cast("string"),
        )
        .when(F.col("_t_data").isNull(), F.lit("create"))
        .when(changed & F.lit(replace), F.lit("replace"))
        # changed & replace=False: the update doc is silently dropped and
        # the target row kept as-is; exact duplicate / target-only -> no-op
        .otherwise(F.lit("keep"))
    )

    data = F.when(
        F.col("_t_data").isNull() | (F.lit(replace) & changed), F.col("_u_data")
    ).otherwise(F.col("_t_data"))

    return joined.select(
        *key_fields,
        *[data.getField(c).alias(c) for c in data_cols],
        action.alias("_action"),
    )


def merge_changes(
    target: DataFrame,
    updates: DataFrame,
    key_fields: list[str],
    replace: bool = True,
    evolve_schema: bool = False,
) -> DataFrame:
    """CHANGE-FEED frame for the merge: the row-level deltas a
    `merge_plan` commit applies, typed Delta-CDF style.

    - 'create' rows  -> one ``insert`` row (the update image)
    - 'replace' rows -> ``update_preimage`` (the target's old data) +
      ``update_postimage`` (the update's new data)
    - 'keep' rows    -> nothing (no logical change)

    Both images come from the SAME full-outer join the merge itself
    builds (``_t_data`` / ``_u_data`` side structs) — no second join
    against the target. Feed this to
    ``SnapshotTable.commit_overwrite_partitions(changes=...)`` so
    ``read_change_feed`` covers merge commits too (a partition
    overwrite has no structurally derivable row diff). Evaluating it is
    one extra run of the merge join; persist the inputs if that
    matters at your scale.
    """
    plan = merge_plan(target, updates, key_fields, replace, evolve_schema)
    data_cols = [c for c in plan.columns if c not in key_fields + ["_action"]]
    # the plan's columns are the UNION of both schemas (merge_plan
    # handles schema-evolving updates); a column the target never had
    # null-fills in the preimage, typed from the plan — without this
    # the select below raises on exactly the merges merge_plan accepts
    plan_types = {f.name: f.dataType for f in plan.schema.fields}
    pre_target = target
    for c in data_cols:
        if c not in pre_target.columns:
            pre_target = pre_target.withColumn(
                c, F.lit(None).cast(plan_types[c])
            )
    pre_target = pre_target.select(*key_fields, *data_cols)
    created = plan.filter(F.col("_action") == "create").select(
        *key_fields, *data_cols, F.lit("insert").alias("_change_type")
    )
    post = plan.filter(F.col("_action") == "replace").select(
        *key_fields, *data_cols, F.lit("update_postimage").alias("_change_type")
    )
    # preimages: the target's current rows for the replaced keys — a
    # semi-join against the (small) replaced-key set, not a second
    # full-outer pass
    pre = pre_target.join(
        plan.filter(F.col("_action") == "replace").select(*key_fields),
        key_fields,
        "left_semi",
    ).select(*key_fields, *data_cols, F.lit("update_preimage").alias("_change_type"))
    return created.unionByName(post).unionByName(pre)


def merge_observations(
    target: DataFrame,
    updates: DataFrame,
    key_fields: list[str],
    replace: bool = True,
) -> tuple[DataFrame, MergeStats]:
    """Execute the merge: returns (merged DataFrame, {created, replaced}).

    The stats aggregation is the only materialization; the merged frame is
    returned lazily (callers typically write it straight back out).
    Callers that go on to materialize the merged frame should prefer
    :func:`merge_observed`, which collects the stats during that same job
    instead of running the plan twice.
    """
    plan = merge_plan(target, updates, key_fields, replace)
    try:
        counts = {
            r["_action"]: r["n"]
            for r in plan.groupBy("_action").agg(F.count(F.lit(1)).alias("n")).collect()
        }
    except Exception as e:  # surface key-integrity failures as the domain error
        for msg in (_MULTI_MATCH_MSG, _DUP_UPDATE_MSG):
            if msg in str(e):
                raise RecordKeyError(msg) from e
        raise
    stats = MergeStats(
        created=counts.get("create", 0), replaced=counts.get("replace", 0)
    )
    return plan.drop("_action"), stats


def merge_observed(
    target: DataFrame,
    updates: DataFrame,
    key_fields: list[str],
    replace: bool = True,
):
    """Single-pass merge: stats ride the caller's materialization.

    Returns (merged DataFrame, finish), where `finish()` must be called
    AFTER the caller materializes the frame (e.g. writes it); it returns
    the MergeStats collected by a DataFrame observation during that same
    job -- the whole merge (probe + stats + output) costs exactly one
    execution, unlike merge_observations' separate stats job.
    """
    from pyspark.sql import Observation

    plan = merge_plan(target, updates, key_fields, replace)
    ob = Observation()
    observed = plan.observe(
        ob,
        F.sum((F.col("_action") == "create").cast("long")).alias("created"),
        F.sum((F.col("_action") == "replace").cast("long")).alias("replaced"),
    ).drop("_action")

    def finish() -> MergeStats:
        got = ob.get
        return MergeStats(
            created=int(got["created"] or 0), replaced=int(got["replaced"] or 0)
        )

    return observed, finish


def merge_apply_ops(
    target: DataFrame,
    ops: DataFrame,
    key_fields: list[str],
    op_col: str = "_op",
    replace: bool = True,
) -> DataFrame:
    """MERGE with DELETE support: ``ops`` carries ``op_col`` in
    {'upsert', 'delete'}.

    Semantics (Delta's three-branch MERGE, which the reference's
    replace-only upsert [reference: src/modules/ingestion_handler.py:
    205-254] cannot express):

    - matched  + delete -> target row dropped
    - matched  + upsert -> replaced iff changed (merge_plan semantics)
    - unmatched + upsert -> created
    - unmatched + delete -> no-op (idempotent: re-deleting is safe)

    Composition: one LEFT ANTI join removes deleted keys, then the
    standard merge applies the upserts — two shuffles on the SAME key,
    which AQE/bucketing co-partition. A delete row whose key also has an
    upsert row raises the conflicting-duplicate error in merge_plan's
    update-side guard only if keys collide there; here deletes are
    applied first, so delete+upsert for one key = replace-by-new-row
    (documented, deterministic).
    """
    deletes = ops.filter(F.col(op_col) == "delete").select(*key_fields)
    upserts = ops.filter(F.col(op_col) == "upsert").drop(op_col)
    kept = target.join(deletes, key_fields, "left_anti")
    return merge_plan(kept, upserts, key_fields, replace=replace).drop("_action")


def merge_not_matched_by_source(
    target: DataFrame,
    source: DataFrame,
    key_fields: list[str],
    delete_condition=None,
    replace: bool = True,
) -> DataFrame:
    """Delta's ``WHEN NOT MATCHED BY SOURCE [AND cond] THEN DELETE``
    composed with the standard upsert merge — the sync-a-dimension
    shape: matched rows update-iff-changed, unmatched source rows
    insert, and target rows whose key the source no longer carries are
    deleted (optionally only when ``delete_condition``, evaluated on
    the TARGET row, holds — unconditional not-matched-by-source delete
    degenerates to 'replace table with source', so the condition is
    what makes the operator useful: retire stale rows, keep recent
    ones).

    Composition: one LEFT ANTI finds keys absent from the source, the
    delete condition prunes that frame, a second LEFT ANTI removes the
    doomed keys, then merge_plan applies the upserts — three shuffles
    on the SAME key that AQE/bucketing co-partition. [reference:
    src/modules/ingestion_handler.py:205-254 — replace-only upsert;
    this is the branch Delta added in 2.3 that it cannot express]"""
    missing = target.join(
        source.select(*key_fields).dropDuplicates(key_fields),
        key_fields,
        "left_anti",
    )
    if delete_condition is not None:
        cond = (
            F.expr(delete_condition)
            if isinstance(delete_condition, str)
            else delete_condition
        )
        missing = missing.filter(F.coalesce(cond, F.lit(False)))
    kept = target.join(
        missing.select(*key_fields), key_fields, "left_anti"
    )
    return merge_plan(kept, source, key_fields, replace=replace).drop(
        "_action"
    )


def merge_when_clauses(
    target: DataFrame,
    source: DataFrame,
    key_fields: list[str],
    clauses: list[tuple],
    insert_unmatched: bool = True,
) -> DataFrame:
    """MERGE with ORDERED multi-clause WHEN MATCHED semantics (Delta's
    `WHEN MATCHED AND <cond> THEN UPDATE/DELETE`, clause order binding):
    for each matched row the FIRST clause whose condition holds wins;
    a matched row matching no clause passes through unchanged. Clauses
    are ``(condition, action)`` where condition is a Column over the
    combined row (source columns visible as ``src_<name>``) or None
    (always fires — Delta only allows that on the last clause, enforced
    here), and action is either ``{"col": Column, ...}`` assignments or
    the string ``"delete"``.

    Plan shape: ONE left join target x source on the merge key; the
    clause dispatch is a single CASE projection (whole-stage codegen),
    deletes are a filter, and unmatched-source inserts ride the same
    join's right side via one anti-join — no per-clause scans, no
    per-clause shuffles. Duplicate source keys raise (the reference's
    multi-match RecordKeyError [reference:
    src/modules/ingestion_handler.py:193-195] extended to multi-clause).
    """
    for i, (cond, _a) in enumerate(clauses):
        if cond is None and i != len(clauses) - 1:
            raise ValueError(
                "an unconditional clause is only allowed last "
                f"(clause {i} of {len(clauses)})"
            )
    # J3 guard: >1 source row per key is ambiguous under first-wins
    dup = (
        source.groupBy(*key_fields)
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > 1)
        .limit(1)
        .collect()
    )
    if dup:
        raise RecordKeyError(
            f"multiple source rows for key {dict((k, dup[0][k]) for k in key_fields)}"
        )
    src = source.select(
        *[F.col(k) for k in key_fields],
        *[
            F.col(c).alias(f"src_{c}")
            for c in source.columns
            if c not in key_fields
        ],
        F.lit(True).alias("__matched_src"),
    )
    joined = target.join(src, key_fields, "left")
    matched = F.col("__matched_src").isNotNull()
    # first-wins clause index: 0 = no clause / unmatched
    idx = F.lit(0)
    for i, (cond, _a) in reversed(list(enumerate(clauses, start=1))):
        fire = matched if cond is None else (matched & F.coalesce(cond, F.lit(False)))
        idx = F.when(fire, F.lit(i)).otherwise(idx)
    joined = joined.withColumn("__clause", idx)
    out_cols = target.columns
    proj = []
    for c in out_cols:
        expr = F.col(c)
        for i, (_cond, action) in enumerate(clauses, start=1):
            if action != "delete" and c in action:
                expr = F.when(
                    F.col("__clause") == i, action[c]
                ).otherwise(expr)
        proj.append(expr.alias(c))
    delete_idx = [
        i for i, (_c, a) in enumerate(clauses, start=1) if a == "delete"
    ]
    kept = joined
    if delete_idx:
        kept = kept.filter(~F.col("__clause").isin(delete_idx))
    result = kept.select(*proj)
    if insert_unmatched:
        inserts = source.join(
            target.select(*key_fields), key_fields, "left_anti"
        ).select(*[F.col(c) for c in out_cols])
        result = result.unionByName(inserts)
    return result
