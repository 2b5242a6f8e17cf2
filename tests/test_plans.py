"""Physical-plan assertions: the scale-critical plan shapes.

These lock in the optimizations the 100 TB design depends on: predicate
pushdown into the parquet scan, column pruning, broadcast joins for dims,
map-side partial aggregation, top-k instead of full sort, and window
group limits. A regression that silently turns a broadcast join into a
shuffle join or loses a pushed filter fails here, not in production.
"""

import contextlib
import io

import pytest

from station_data_ingestion_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"


def plan(df, mode="formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def test_q6_filters_pushed_to_scan(spark):
    p = plan(QUERIES["q6_forecast_revenue"].fn(spark, SF))
    assert "PushedFilters:" in p
    # range predicates on shipdate/discount/quantity reach the scan
    pushed = [ln for ln in p.splitlines() if "PushedFilters" in ln][0]
    assert "l_shipdate" in pushed and "l_discount" in pushed and "l_quantity" in pushed


def test_q6_column_pruning(spark):
    p = plan(QUERIES["q6_forecast_revenue"].fn(spark, SF))
    read = [ln for ln in p.splitlines() if "ReadSchema" in ln][0]
    # only the 4 needed columns are read, not all 11
    assert "l_extendedprice" in read and "l_orderkey" not in read and "l_tax" not in read


def test_q3_broadcasts_customer_dim(spark):
    p = plan(QUERIES["q3_shipping_priority"].fn(spark, SF))
    assert "BroadcastHashJoin" in p


def test_q5_all_dims_broadcast(spark):
    p = plan(QUERIES["q5_local_supplier_revenue"].fn(spark, SF))
    # dims broadcast; the one fact-fact join (orders x lineitem) may be
    # shuffle or broadcast depending on stats, but no nested-loop anywhere
    assert p.count("BroadcastHashJoin") >= 3
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_q1_partial_aggregation(spark):
    p = plan(QUERIES["q1_pricing_summary"].fn(spark, SF))
    # map-side combine: HashAggregate appears before and after the exchange
    assert p.count("HashAggregate") >= 2
    assert "Exchange" in p


def test_topn_uses_take_ordered(spark):
    p = plan(QUERIES["sort_topn_expensive_orders"].fn(spark, SF))
    assert "TakeOrderedAndProject" in p


def test_window_topk_group_limit(spark):
    p = plan(QUERIES["window_topk_parts_per_brand"].fn(spark, SF))
    assert "WindowGroupLimit" in p


def test_semi_anti_join_operators(spark):
    p_semi = plan(QUERIES["semi_join_active_customers"].fn(spark, SF))
    p_anti = plan(QUERIES["anti_join_customers_without_orders"].fn(spark, SF))
    assert "LeftSemi" in p_semi
    assert "LeftAnti" in p_anti


def test_whole_stage_codegen_on_hot_paths(spark):
    for name in ("q1_pricing_summary", "q6_forecast_revenue", "text_quality_features"):
        # AQE finalizes the plan only on execution; `*(n)` prefixes in the
        # executed plan mark whole-stage-codegen stages
        df = QUERIES[name].fn(spark, SF)
        df.collect()
        executed = df._jdf.queryExecution().executedPlan().toString()
        assert "*(" in executed, name
        # AQE wraps (and finalizes) only plans that contain exchanges
        if "Exchange" in executed:
            assert "isFinalPlan=true" in executed, name


def test_q19_disjunctive_common_pushdown(spark):
    """OR-of-ANDs: the per-side common disjuncts (brand set, quantity
    bounds) must still reach both scans despite the cross-side OR."""
    p = plan(QUERIES["q19_disjunctive_brand_revenue"].fn(spark, SF))
    pushed = [ln for ln in p.splitlines() if "PushedFilters" in ln]
    part_pushed = [ln for ln in pushed if "p_brand" in ln]
    li_pushed = [ln for ln in pushed if "l_quantity" in ln]
    assert part_pushed, "brand disjunction not pushed to part scan"
    assert li_pushed, "quantity bounds not pushed to lineitem scan"


def test_asof_join_has_no_join_operator(spark):
    """The as-of query is union+window: no join node for the asof itself
    (the only joins allowed are none -- clicks dedup is an aggregate)."""
    p = plan(QUERIES["asof_purchase_last_click"].fn(spark, SF))
    assert "Window" in p
    assert "SortMergeJoin" not in p and "BroadcastHashJoin" not in p


def test_range_join_is_equi_join(spark):
    """The bucketed range join must plan as a hash/sort-merge equi-join,
    never BroadcastNestedLoopJoin/CartesianProduct."""
    p = plan(QUERIES["range_join_signup_hour_activity"].fn(spark, SF))
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p or "BroadcastHashJoin" in p


def test_q7_q8_q9_dims_broadcast(spark):
    for name in ("q7_nation_pair_volume", "q8_market_share", "q9_profit_by_nation_year"):
        p = plan(QUERIES[name].fn(spark, SF))
        assert p.count("BroadcastHashJoin") >= 3, name
        assert "BroadcastNestedLoopJoin" not in p, name


def test_merge_single_shuffle_per_side(spark):
    # merge = count-window + dup-guard window + full outer join, all on
    # the same key: each side shuffles exactly ONCE (the windows reuse
    # the join exchanges)
    df = QUERIES["merge_upsert_orders"].fn(spark, SF)
    p = plan(df)
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p
    jp = df._jdf.queryExecution().executedPlan().toString()
    assert jp.count("Exchange hashpartitioning") == 2, jp


def test_obs_table_read_prunes_partitions(spark, tmp_path):
    """read_obs_table must prune the scan to the years of the spec's
    window in its (datatype, period) slice -- at 100 TB this is what
    bounds a merge to its window instead of scanning the whole
    observation table. The snapshot manifest prunes driver-side: the
    scan lists only that year's files."""
    from station_data_ingestion_spark.plans.jobspec import DataItemSpec
    from station_data_ingestion_spark.plans.runner import _obs_table, read_obs_table

    df = spark.createDataFrame(
        [("1", "2022-03-01", 1.0, "temp", "day", "raw"),
         ("3", "2021-12-31", 3.0, "temp", "day", "raw"),
         ("2", "2022-03-01", 2.0, "rain", "day", "raw")],
        "station_id string, date string, value double, "
        "datatype string, period string, fill string",
    )
    path = str(tmp_path / "obs")
    t = _obs_table(spark, path)
    t.commit_overwrite_partitions(df)
    spec = DataItemSpec(
        files=[], datatype="temp", period="day", fill="raw",
        start_date="2022-03-01", end_date="2022-03-01",
    )
    entries = t._read_manifest(t.latest_version())["files"]
    want = {
        e["path"] for e in entries
        if e["partition"] == {"datatype": "temp", "period": "day", "year": "2022"}
    }
    assert len({e["partition"]["year"] for e in entries
                if e["partition"]["datatype"] == "temp"}) == 2
    got = read_obs_table(spark, path, spec)
    files = {f.split("/obs/data/", 1)[1] for f in got.inputFiles()}
    assert want and files == want
    assert [r.station_id for r in got.collect()] == ["1"]
    assert "year" not in got.columns


def test_ingestion_unpivot_no_shuffle(spark, tmp_path):
    """The wide->long unpivot pipeline is narrow: no Exchange before the
    long table exists (shuffle only if a later groupBy needs it)."""
    from station_data_ingestion_spark.plans.jobspec import DataItemSpec
    from station_data_ingestion_spark.sources.wide_csv import ingest_wide_csv

    p = tmp_path / "w.csv"
    p.write_text("SKN,X2022.03.01,X2022.03.02\n1,2.0,3.0\n")
    spec = DataItemSpec(
        files=[], datatype="t", period="day", fill="raw",
        start_date="2022-03-01", end_date="2022-03-02",
    )
    obs, _ = ingest_wide_csv(spark, str(p), spec)
    assert "Exchange" not in plan(obs)

    # a wide file (>50 in-range date columns) fans out over byte ranges,
    # not over a repartition of its rows
    days = [f"X2022.{m:02d}.{d:02d}" for m in (1, 2) for d in range(1, 29)]
    wide = tmp_path / "wide.csv"
    wide.write_text(
        "SKN," + ",".join(days) + "\n"
        + "".join(f"{i}," + ",".join(["1.5"] * len(days)) + "\n" for i in range(40))
    )
    spec = DataItemSpec(
        files=[], datatype="t", period="day", fill="raw",
        start_date="2022-01-01", end_date="2022-02-28",
    )
    obs, _ = ingest_wide_csv(spark, str(wide), spec)
    assert "Exchange" not in plan(obs)
    assert obs.count() == 40 * len(days)
