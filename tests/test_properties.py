"""Property-based tests (SURVEY §5.4): round-trips and merge algebra.

Hypothesis drives small synthetic station matrices through the real
pipeline; Spark session reuse keeps example counts practical (examples
are capped -- each example runs distributed jobs).
"""

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from station_data_ingestion_spark.operators.merge import merge_observations
from station_data_ingestion_spark.plans.jobspec import DataItemSpec
from station_data_ingestion_spark.sources.wide_csv import ingest_wide_csv

pytestmark = pytest.mark.ingest

_SETTINGS = dict(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# values: numeric strings or the nodata sentinel
_cell = st.one_of(
    st.just("NA"),
    st.floats(
        min_value=-100, max_value=100, allow_nan=False, allow_infinity=False
    ).map(lambda f: f"{f:.2f}"),
)
_matrix = st.lists(
    st.tuples(st.text(alphabet="0123456789.", min_size=1, max_size=6), _cell, _cell, _cell),
    min_size=1,
    max_size=8,
    unique_by=lambda r: r[0],
)


def _spec():
    return DataItemSpec(
        files=[], datatype="t", period="day", fill="raw",
        start_date="2022-03-01", end_date="2022-03-03",
    )


def _write_matrix(tmp_path, rows, name="w.csv"):
    header = "SKN,X2022.03.01,X2022.03.02,X2022.03.03"
    p = tmp_path / name
    p.write_text(
        header + "\n" + "\n".join(",".join(r) for r in rows) + "\n"
    )
    return str(p)


@given(rows=_matrix)
@settings(**_SETTINGS)
def test_unpivot_pivot_roundtrip(spark, tmp_path_factory, rows):
    """unpivot then groupBy(station).pivot(date) reproduces exactly the
    non-nodata cells (SURVEY §5.4)."""
    tmp = tmp_path_factory.mktemp("prop")
    path = _write_matrix(tmp, rows)
    obs, _ = ingest_wide_csv(spark, path, _spec())
    back = (
        obs.groupBy("station_id").pivot("date").agg(F.first("value")).collect()
    )
    got = {
        r["station_id"]: {
            d: r[d]
            for d in ("2022-03-01", "2022-03-02", "2022-03-03")
            if d in r.asDict() and r[d] is not None
        }
        for r in back
    }
    expected = {}
    for skn, *cells in rows:
        vals = {
            d: float(c)
            for d, c in zip(("2022-03-01", "2022-03-02", "2022-03-03"), cells)
            if c != "NA"
        }
        if vals:
            expected[skn] = vals
    assert got == expected


@given(rows=_matrix)
@settings(**_SETTINGS)
def test_merge_idempotent(spark, tmp_path_factory, rows):
    """merge(merge(S)) == merge(S): re-merging the same updates is a no-op
    (created=0, replaced=0) and leaves the table unchanged."""
    tmp = tmp_path_factory.mktemp("prop")
    path = _write_matrix(tmp, rows)
    spec = _spec()
    obs, _ = ingest_wide_csv(spark, path, spec)
    empty = spark.createDataFrame([], obs.schema)
    once, stats1 = merge_observations(empty, obs, spec.key_fields)
    once = once.localCheckpoint()
    again, stats2 = merge_observations(once, obs, spec.key_fields)
    assert stats1.replaced == 0
    assert stats2.created == 0 and stats2.replaced == 0
    assert sorted(map(tuple, again.collect())) == sorted(map(tuple, once.collect()))


@given(
    rows=_matrix,
    mutate_idx=st.integers(min_value=0, max_value=7),
)
@settings(**_SETTINGS)
def test_merge_replace_only_changed(spark, tmp_path_factory, rows, mutate_idx):
    """Mutating one cell then re-merging replaces exactly the changed
    observations and creates exactly the NA->value ones."""
    tmp = tmp_path_factory.mktemp("prop")
    spec = _spec()
    obs1, _ = ingest_wide_csv(spark, _write_matrix(tmp, rows, "a.csv"), spec)
    empty = spark.createDataFrame([], obs1.schema)
    base, _ = merge_observations(empty, obs1, spec.key_fields)
    base = base.localCheckpoint()

    i = mutate_idx % len(rows)
    skn, c1, c2, c3 = rows[i]
    was_na = c1 == "NA"
    mutated = rows[:i] + [(skn, "999.99", c2, c3)] + rows[i + 1 :]
    obs2, _ = ingest_wide_csv(spark, _write_matrix(tmp, mutated, "b.csv"), spec)
    merged, stats = merge_observations(base, obs2, spec.key_fields)
    assert stats.created == (1 if was_na else 0)
    assert stats.replaced == (0 if was_na else 1)
    new_val = merged.filter(
        (F.col("station_id") == skn) & (F.col("date") == "2022-03-01")
    ).collect()
    assert len(new_val) == 1 and new_val[0]["value"] == 999.99


@given(rows=_matrix)
@settings(**_SETTINGS)
def test_fast_parse_equals_declarative(spark, tmp_path_factory, rows):
    """The Arrow-native fast parse path and the declarative unpivot agree
    on arbitrary matrices (sentinels, numeric-looking ids, signs)."""
    tmp = tmp_path_factory.mktemp("prop_fast")
    path = _write_matrix(tmp, rows)
    a, _ = ingest_wide_csv(spark, path, _spec(), fast=True)
    b, _ = ingest_wide_csv(spark, path, _spec(), fast=False)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


_dup_batch = st.lists(
    st.tuples(
        st.sampled_from(["s1", "s2", "s3"]),
        st.sampled_from(["2022-03-01", "2022-03-02"]),
        st.sampled_from([1.0, 2.5]),
    ),
    min_size=1,
    max_size=8,
)


@given(rows=_dup_batch)
@settings(**_SETTINGS)
def test_merge_guard_dup_algebra(spark, rows):
    """For any update batch: conflicting duplicate keys raise; otherwise
    the merge result holds exactly the distinct update rows."""
    from station_data_ingestion_spark.operators.merge import (
        RecordKeyError,
        merge_observations,
    )

    keys = ["datatype", "period", "date", "fill", "station_id"]
    schema = (
        "datatype string, period string, date string, fill string, "
        "station_id string, value double"
    )
    updates = spark.createDataFrame(
        [("t", "day", d, "raw", s, v) for s, d, v in rows], schema
    )
    target = spark.createDataFrame([], schema)
    by_key = {}
    conflict = False
    for s, d, v in rows:
        by_key.setdefault((s, d), set()).add(v)
        conflict = conflict or len(by_key[(s, d)]) > 1
    if conflict:
        import pytest as _pytest

        with _pytest.raises(RecordKeyError):
            merge_observations(target, updates, keys)
    else:
        merged, stats = merge_observations(target, updates, keys)
        got = {(r.station_id, r.date, r.value) for r in merged.collect()}
        want = {(s, d, next(iter(vs))) for (s, d), vs in by_key.items()}
        assert got == want and stats.created == len(want)


@given(
    vals=st.lists(st.integers(min_value=-1000, max_value=1000), min_size=1, max_size=200),
    nparts=st.sampled_from([1, 4, 32]),
)
@settings(**_SETTINGS)
def test_prefix_sum_equals_serial(spark, vals, nparts):
    """ordered_prefix_sum == Python's running sum, for any values
    (negatives, zeros) and any partition count."""
    from station_data_ingestion_spark.operators.prefix_sum import ordered_prefix_sum

    df = spark.createDataFrame(list(enumerate(vals)), "k long, v long")
    got = {
        r["k"]: r["cum"]
        for r in ordered_prefix_sum(df, ["k"], "v", num_partitions=nparts).collect()
    }
    acc, exp = 0, {}
    for k, v in enumerate(vals):
        acc += v
        exp[k] = acc
    assert got == exp


@given(
    tokens=st.lists(st.integers(min_value=0, max_value=5000), min_size=1, max_size=120)
)
@settings(**_SETTINGS)
def test_pack_bins_invariants(spark, tokens):
    """Sequential packing invariants on arbitrary token counts:
    bins are contiguous from 0; every doc's bin matches the serial
    floor(preceding/2048) rule; bin token totals re-add to the corpus."""
    import pandas as pd

    from station_data_ingestion_spark.operators.prefix_sum import ordered_prefix_sum
    from pyspark.sql import functions as F

    cap = 2048
    df = spark.createDataFrame(list(enumerate(tokens)), "doc_id long, n_tokens long")
    c = ordered_prefix_sum(df, ["doc_id"], "n_tokens", out_col="cum")
    got = (
        c.withColumn("bin_id", F.expr(f"(cum - n_tokens) div {cap}"))
        .groupBy("bin_id")
        .agg(F.sum("n_tokens").alias("bin_tokens"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    bins = {r["bin_id"]: (r["bin_tokens"], r["n"]) for r in got}
    # serial oracle
    acc, exp = 0, {}
    for t in tokens:
        b = acc // cap
        tot, n = exp.get(b, (0, 0))
        exp[b] = (tot + t, n + 1)
        acc += t
    assert bins == exp
    if max(tokens) <= cap:
        # an oversized doc legitimately skips bin ids (its tokens span
        # several caps); otherwise bins are contiguous from 0
        assert sorted(bins) == list(range(len(bins)))
    assert sum(t for t, _ in bins.values()) == sum(tokens)
