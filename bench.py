#!/usr/bin/env python
"""Benchmark: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query materializes fully via the noop sink (so projections are not
pruned away, unlike count()). Session startup is excluded; a warmup query
primes the JVM/codegen and every stage reports a median (3 runs; 5 for
the merge stages, where host stalls land), so timings reflect
steady-state execution with load noise absorbed.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from station_data_ingestion_spark.queries import QUERIES  # noqa: E402
from station_data_ingestion_spark.session import get_spark  # noqa: E402

# Representative headline set: scan-agg, joins, windows, sessionization,
# dedup (LSH), similarity, text, merge -- the scale-critical shapes.
HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_revenue",
    "q6_forecast_revenue",
    "q10_returned_revenue",
    "agg_distinct_suppliers",
    "window_running_customer_spend",
    "window_topk_parts_per_brand",
    "events_sessionization",
    "events_tumbling_hourly",
    "setop_intersect_repeat_buyers",
    "sort_topn_expensive_orders",
    "merge_upsert_orders",
    "q9_profit_by_nation_year",
    "q18_large_volume_customers",
    "asof_purchase_last_click",
    "range_join_signup_hour_activity",
    "dedup_exact_hash",
    "dedup_minhash_lsh",
    "sim_brute_topk",
    "sim_brute_topk_blocked",
    "text_quality_features",
    "text_fingerprint_rolling_hash",
    "mm_decode_features",
    "ts_resample_ffill_hourly",
    "events_anomaly_zscore",
    "text_benchmark_contamination",
    # round 3 additions: distributed prefix-sum packing, the Python UDTF
    # surface, and a real streaming-engine replay (file stream ->
    # watermarked tumbling window -> memory sink)
    "pack_sequential_token_bins",
    "udtf_sentence_stats",
    "stream_tumbling_replay",
    # round 4 additions: the snapshot store's write->cluster->ranged-read
    # path, a multi-stage behavioral funnel, grid-window interpolation,
    # the Bloom pre-filtered join, and the SCD2 history merge
    "snapshot_ranged_orders_revenue",
    "events_funnel_signup_click_purchase",
    "ts_gap_fill_linear_interpolate",
    "join_bloom_prefiltered_lineitems",
    "merge_scd2_customer_history",
    # round 5 additions: prefix-filtered set-similarity join, the
    # stateful-TTL streaming top-k replay, incremental rollup
    # maintenance through the store, RRF fusion retrieval, and the
    # bounded-fan-out rolling distinct count
    "dedup_jaccard_prefix_filtered",
    "stream_topk_ttl_replay",
    "rollup_incremental_update",
    "sim_hybrid_rrf_fusion",
    "events_rolling_wau",
    # round 5 late additions: O(log D) iterative hierarchy resolution,
    # sketch-candidates + exact-verify heavy hitters, changelog-driven
    # incremental view maintenance, deletion-variant fuzzy join, and
    # per-key sequence pattern matching
    "hierarchy_depth_pointer_doubling",
    "sketch_spacesaving_heavy_hitters",
    "rollup_cdf_incremental_agg",
    "dedup_fuzzy_ed1_suppliers",
    "events_pattern_match_regex",
    "window_topk_two_phase",
    "text_bpe_pair_counts",
    # r6 flagship additions
    "dedup_semantic_clusters",
    "sketch_kll_quantiles",
    "snapshot_change_feed_read",
    "events_interval_union_length",
    # r6 session-3 additions: merge-on-read deletion vectors and the
    # one-pass distributed OLS
    "snapshot_dv_delete_read",
    "stats_ols_two_feature",
    # r6 session-4 addition: branch fast-forward publish (zero-copy
    # lakehouse refs: isolated branch writes + metadata-only publish +
    # tag-pinned vacuum). The other session-4 queries stay gate-only —
    # they are multi-commit/multi-action storage workloads (13-23s of
    # commit-and-verify machinery at sf0.1, out of family with
    # per-stage medians) or corpus-dependent by design (unigram tf-idf
    # prefix filtering, see sim_tfidf_cosine_pairs' docstring; the
    # shingled Jaccard prefix join remains the headline similarity
    # representative).
    "snapshot_branch_fast_forward_read",
    # r7 flagship additions: merge-on-read MERGE (DV + append, zero
    # rewrites), the tie-corrected rank-sum test (distributed ranking
    # with no global window), and the ExactSubstr-proxy duplicated-span
    # coverage (gram shuffle + per-doc interval union)
    "merge_dv_merge_on_read",
    "stats_mann_whitney_u",
    "text_dup_ngram_span_fraction",
    # r8 flagship additions: the engine-native recursion (UnionLoop),
    # two-pass IRLS logistic regression (one agg + 2x2 driver solve per
    # step), the Kneser-Ney bigram LM (three shuffles over vocab
    # tables), and the bucket-run-max skyline. Governance/streaming r8
    # queries (masking, late-data audit, bitemporal, Python DS) stay
    # gate-only: multi-commit or multi-run workloads out of family
    # with per-stage medians.
    "sql_recursive_cte_native",
    "stats_logreg_irls_newton",
    "text_bigram_kneser_ney",
    "sort_pareto_frontier_parts",
    # late-r8 flagship additions: sequence-numbered equality deletes
    # (merge-on-read CDC key retirement), row tracking (stable ids
    # through an UPDATE rewrite + DV delete), the distributed-minimax
    # isotonic regression (|days|^2/2 grid + per-j suffix-min windows),
    # RAKE keyphrase extraction (two corpus shuffles), and PQ+ADC ANN
    # (fused-Lloyd sampled codebook training + one-pass table-lookup scoring)
    "snapshot_equality_delete_read",
    "snapshot_row_tracking_read",
    "stats_isotonic_regression_pava",
    "text_rake_keyphrases",
    "sim_pq_adc_topk",
    # r8 continuation-session flagship additions: the KMV distinct
    # sketch (partials-only shuffle), Markov removal-effect attribution
    # (two user windows + transition agg + enum-bounded driver chain),
    # multinomial naive Bayes (two token aggregations + vocab-broadcast
    # scoring), and ALS half-step user factors (ratings agg + integer
    # normal equations). The other new stats/sampling queries stay
    # gate-only: sub-second post-aggregation shapes already represented
    # by their families.
    "sketch_kmv_distinct_union",
    "events_markov_removal_attribution",
    "ml_naive_bayes_lang_confusion",
    "ml_als_user_factors_k2",
    # r9 flagship additions: k-sample rank test (prefix-scan ranking at
    # k=3), the retrieval-eval metric stack (one scored pass, two
    # rankings), kNN-LOO (block x broadcast-matrix matmul — the dense
    # numeric shape), and integer HITS (6 join+agg shuffles + two
    # TakeOrderedAndProject). The other r9 queries stay gate-only:
    # sub-second post-aggregation shapes already represented.
    "stats_kruskal_wallis",
    "sim_ndcg_mrr_map_eval",
    "ml_knn_loo_accuracy",
    "graph_hits_hubs_authorities",
]


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def job_overhead_ms(spark, n: int = 5) -> float:
    """Median wall clock of a trivial 1-partition count — the box's
    per-Spark-job scheduling constant. Multi-job stages (the snapshot
    store runs ~10 actions per commit+read cycle) scale with THIS
    number, not with data volume; r9's 'real' snapshot regressions
    reproduced on a box whose job constant had tripled while the code
    was untouched. Publishing it with every run lets a cross-round
    reader separate plan regressions from environment drift."""
    ts = []
    for _ in range(n):
        t0 = time.perf_counter()
        spark.range(1000).count()
        ts.append((time.perf_counter() - t0) * 1000)
    return round(sorted(ts)[n // 2], 1)


def _next_job_id(spark) -> int | None:
    """Monotone Spark job counter (DAGScheduler.nextJobId); None if the
    private accessor ever disappears. Job-count deltas separate "this
    stage runs N actions x the box's per-job constant" from "this stage
    moves more data" without reading event logs."""
    try:
        return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())  # noqa: SLF001
    except Exception:  # noqa: BLE001
        return None


def stage_jobs(spark, j0: int | None, runs: int) -> int | None:
    """Jobs per single run of a stage that just ran ``runs`` times."""
    j1 = _next_job_id(spark)
    if j0 is None or j1 is None or runs <= 0:
        return None
    return (j1 - j0) // runs


def timed_median(fn, n: int = 3) -> float:
    """Median-of-n wall clock for one stage.

    Wall clock on a shared box swings +-20% with load, and the first run
    of a plan shape pays codegen/JIT; the median absorbs both so BENCH
    numbers are comparable across rounds.
    """
    ts = []
    for _ in range(n):
        t0 = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t0)
    return round(sorted(ts)[n // 2], 3)


def bench_ingestion(
    spark,
    timings: dict[str, float],
    n_stations: int = 1000,
    single_shot: bool = False,
    prefix: str = "ingest_",
    n_days: int = 731,
    dump_plan_to: str | None = None,
    read_back: bool = False,
) -> None:
    """Ingestion-pipeline stage taxonomy (BASELINE.md): parse (scan +
    unpivot + filter + cast), merge-create, merge-probe + replace.

    A deterministic ~730k-cell wide matrix (1000 stations x 731 dates,
    ~ lineitem-sf0.1-sized) is generated, ingested, merged into an empty
    target (all creates), then re-merged with 10% of values mutated
    (probe + replace-only-changed).

    ``n_stations``/``single_shot``/``prefix`` parameterize the 10x scale
    probe (a 10x-wider station matrix, each stage timed once);
    ``n_days`` additionally stretches the matrix for the e2e taxonomy
    run. ``dump_plan_to`` writes the replace-merge physical plan (the
    operator under 10x scrutiny, VERDICT r6 #1) to a file.
    """
    import shutil
    import tempfile

    import numpy as np

    from station_data_ingestion_spark.operators.merge import merge_observed
    from station_data_ingestion_spark.plans.jobspec import DataItemSpec
    from station_data_ingestion_spark.sources.wide_csv import ingest_wide_csv
    median = (lambda fn, n=1: timed_median(fn, n=1)) if single_shot else timed_median
    rng = np.random.default_rng(42)
    values = np.round(rng.uniform(0, 40, size=(n_stations, n_days)), 2)
    na_mask = rng.random((n_stations, n_days)) < 0.03
    dates = [f"X{y:04d}.{m:02d}.{d:02d}" for y, m, d in _iter_dates(n_days)]

    def write_csv(path, vals):
        with open(path, "w", encoding="utf-8") as f:
            f.write("SKN," + ",".join(dates) + "\n")
            for i in range(vals.shape[0]):
                row = np.where(na_mask[i], "NA", vals[i].astype(str))
                f.write(f"{i}.{i % 10}," + ",".join(row) + "\n")

    tmp = tempfile.mkdtemp(prefix="bench_ingest_")
    try:
        from datetime import date, timedelta

        end = date(2022, 1, 1) + timedelta(days=n_days - 1)
        spec = DataItemSpec(
            files=[], datatype="temperature", period="day", fill="raw",
            start_date="2022-01-01", end_date=end.isoformat(),
        )
        write_csv(f"{tmp}/a.csv", values)
        timings[f"{prefix}parse"] = median(
            lambda: materialize(ingest_wide_csv(spark, f"{tmp}/a.csv", spec)[0])
        )
        obs, _ = ingest_wide_csv(spark, f"{tmp}/a.csv", spec)
        obs = obs.persist()
        materialize(obs)

        def create_run():
            merged, finish = merge_observed(
                spark.createDataFrame([], obs.schema), obs, spec.key_fields
            )
            merged.write.mode("overwrite").parquet(f"{tmp}/target")
            stats = finish()
            assert stats.replaced == 0 and stats.created > 700_000

        # n=5 for the merge stages: their heavy shuffles are where the
        # shared box's intermittent multi-second stalls land, and 3
        # samples occasionally put the median on a stall
        timings[f"{prefix}merge_create"] = median(create_run, n=5)
        obs.unpersist()

        mutated = values.copy()
        mut_mask = rng.random((n_stations, n_days)) < 0.10
        mutated[mut_mask] = np.round(mutated[mut_mask] + 1.11, 2)
        write_csv(f"{tmp}/b.csv", mutated)
        # Parse b.csv outside the timed window: the reference times parse
        # separately from the dup-query/replace stages
        # [/root/reference/src/tapis_direct_driver.py:174-183].
        obs2, _ = ingest_wide_csv(spark, f"{tmp}/b.csv", spec)
        obs2 = obs2.persist()
        materialize(obs2)

        def replace_run():
            merged2, finish2 = merge_observed(
                spark.read.parquet(f"{tmp}/target"), obs2, spec.key_fields
            )
            materialize(merged2)
            stats2 = finish2()
            assert stats2.created == 0 and stats2.replaced > 0

        if dump_plan_to:
            merged2, _ = merge_observed(
                spark.read.parquet(f"{tmp}/target"), obs2, spec.key_fields
            )
            with open(dump_plan_to, "w", encoding="utf-8") as pf:
                pf.write(
                    merged2._jdf.queryExecution().explainString(
                        spark._jvm.org.apache.spark.sql.execution
                        .ExplainMode.fromString("formatted")
                    )
                )
        timings[f"{prefix}merge_replace"] = median(replace_run, n=5)
        obs2.unpersist()
        if read_back:
            # the taxonomy's read stage: scan the merged observation
            # store and aggregate per station (the reference's
            # query-after-ingest shape)
            from pyspark.sql import functions as F

            def read_run():
                materialize(
                    spark.read.parquet(f"{tmp}/target")
                    .groupBy("station_id")
                    .agg(F.count("*"), F.avg("value"))
                )

            timings[f"{prefix}read_back"] = median(read_run)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _max_stage_id(spark) -> int:
    """Highest stage id seen so far (via the UI REST API), -1 if none."""
    import urllib.request

    ui = spark.sparkContext.uiWebUrl
    if not ui:
        return -1
    app = spark.sparkContext.applicationId
    try:
        stages = json.load(
            urllib.request.urlopen(f"{ui}/api/v1/applications/{app}/stages", timeout=10)
        )
        return max((s["stageId"] for s in stages), default=-1)
    except Exception:  # noqa: BLE001
        return -1


def _heaviest_stage_skew(spark, after_stage_id: int) -> dict | None:
    """Shuffle/memory shape of the heaviest shuffle stage after a marker.

    The 10x time probe catches super-linear WALL CLOCK; this catches the
    memory-shape regressions that OOM a cluster before they show up in
    local timings: per-task shuffle-read skew (max/median across tasks)
    and peak execution memory of the stage that read the most shuffle
    data. Uses the Spark UI REST API; returns None when the UI is off
    or the query had no shuffle.
    """
    import urllib.request

    ui = spark.sparkContext.uiWebUrl
    if not ui:
        return None
    app = spark.sparkContext.applicationId
    try:
        stages = json.load(
            urllib.request.urlopen(
                f"{ui}/api/v1/applications/{app}/stages?status=COMPLETE", timeout=10
            )
        )
        stages = [
            s for s in stages
            if s["stageId"] > after_stage_id and s.get("shuffleReadBytes", 0) > 0
        ]
        if not stages:
            return None
        heavy = max(stages, key=lambda s: s["shuffleReadBytes"])
        summary = json.load(
            urllib.request.urlopen(
                f"{ui}/api/v1/applications/{app}/stages/{heavy['stageId']}"
                f"/{heavy['attemptId']}/taskSummary?quantiles=0.5,1.0",
                timeout=10,
            )
        )
        read = summary.get("shuffleReadMetrics", {}).get("readBytes") or [0.0, 0.0]
        peak = summary.get("peakExecutionMemory") or [0.0, 0.0]
        return {
            "stage_id": heavy["stageId"],
            "n_tasks": heavy.get("numCompleteTasks"),
            "stage_shuffle_read_mb": round(heavy["shuffleReadBytes"] / 1e6, 2),
            "task_read_p50_mb": round(read[0] / 1e6, 3),
            "task_read_max_mb": round(read[1] / 1e6, 3),
            "task_read_skew": round(read[1] / read[0], 2) if read[0] else None,
            "task_peak_mem_max_mb": round(peak[1] / 1e6, 2),
        }
    except Exception:  # noqa: BLE001 -- observability must not fail the bench
        return None


def _scale_embeddings(spark, sf_dir, tmp: str, k: int) -> None:
    """k-replicate the embeddings table so vector workloads scale
    LINEARLY: each replica gets a deterministic per-replica SIGNED
    DIMENSION PERMUTATION (±1 diagonal × permutation — orthogonal, so
    within-replica cosines are preserved EXACTLY and each replica
    reproduces the original corpus's near-dup structure) while
    cross-replica similarities scramble, so pair cardinality grows ~k,
    not k². The sign flips matter: embeddings with a non-centered mean
    component stay mutually similar under a bare permutation (measured:
    the 10x corpus collapsed into one unclusterable blob and the
    adaptive blocker correctly fell back to quadratic k=1); flipping
    signs cancels the shared mean, so replicas become separable
    clusters and the probe measures the blocking's scale path. vec_id
    moves to high bits (id + replica*10M) so id-arithmetic
    constructions inside queries (twin planting at id+1, id+100000)
    stay within one replica and never collide across replicas."""
    import numpy as np

    def permute(batches):
        import pandas as pd

        perms = [
            np.random.default_rng(1234 + r).permutation(64) if r else
            np.arange(64)
            for r in range(k)
        ]
        signs = [
            (
                np.random.default_rng(5678 + r)
                .integers(0, 2, size=64)
                .astype(np.float32)
                * 2.0
                - 1.0
            )
            if r
            else np.ones(64, dtype=np.float32)
            for r in range(k)
        ]
        for pdf in batches:
            out = []
            for r in range(k):
                emb = [
                    (np.asarray(e, dtype=np.float32)[perms[r]] * signs[r])
                    .tolist()
                    for e in pdf["embedding"]
                ]
                out.append(
                    pd.DataFrame(
                        {
                            "vec_id": pdf["vec_id"] + r * 10_000_000,
                            "embedding": emb,
                            "label": pdf["label"],
                        }
                    )
                )
            yield pd.concat(out, ignore_index=True)

    df = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    df.mapInPandas(
        permute, "vec_id long, embedding array<float>, label int"
    ).write.parquet(f"{tmp}/embeddings.parquet")


# Probe stages by FAMILY. The full set runs at sf0.1 (same as always);
# at sf1 the 10x corpus is effectively sf10 and the full set times out
# the 90-min box budget (r10 lesson: sf1 shipped headline-only), so
# ``SPARK_GRAFT_PROBE_PICK=<round>`` selects ONE stage per family —
# stage[pick % len(family)] — giving every family a true-sf10 probe
# each round and cycling through every stage within ~4-5 rounds
# (VERDICT r10 item #4). Comments about why each stage is probe-worthy
# live in the original r6-r9 round notes; the families:
PROBE_FAMILIES: dict[str, list[str]] = {
    "relational": [
        "q5_local_supplier_revenue",
        "q9_profit_by_nation_year",
        "matview_join_delta_refresh",
    ],
    "storage": [
        "snapshot_branch_fast_forward_read",
        "snapshot_change_feed_read",
        "snapshot_equality_delete_read",
        "snapshot_row_tracking_read",
    ],
    "dedup": [
        "dedup_minhash_lsh",
        "dedup_semantic_clusters",
        "text_benchmark_contamination",
    ],
    "similarity": [
        "sim_bm25_incremental_index",
        "sim_pq_adc_topk",
        "ml_knn_loo_accuracy",
    ],
    "graph_events": [
        "graph_hits_hubs_authorities",
        "events_markov_removal_attribution",
        "events_funnel_signup_click_purchase",
        "events_bot_regularity_audit",
    ],
    "stats_ml": [
        "stats_isotonic_regression_pava",
        "stats_randomization_test_diff_means",
        "ml_naive_bayes_lang_confusion",
        "ml_als_user_factors_k2",
        "sketch_kmv_distinct_union",
    ],
    "text_pack": [
        "text_textrank_keywords",
        "pack_sequential_token_bins",
    ],
}


def _probe_stages() -> tuple[list[str], dict | None]:
    """(stages to probe, rotation metadata or None for the full set)."""
    pick = os.environ.get("SPARK_GRAFT_PROBE_PICK")
    if pick is None:
        return [s for fam in PROBE_FAMILIES.values() for s in fam], None
    i = int(pick)
    stages = {
        name: fam[i % len(fam)] for name, fam in PROBE_FAMILIES.items()
    }
    return list(stages.values()), {"pick": i, "stages": stages}


def bench_scale_probe(spark, sf_dir, timings: dict[str, float], k: int = 10) -> dict:
    """10x scale probe over the most expensive stages.

    Materializes k-times-replicated copies of the fact tables (join keys
    remapped per replica so join/pair cardinality scales LINEARLY --
    document text is re-salted per replica so near-dup pairs don't go
    quadratic across replicas) and runs each heavy stage once. Reports
    ``per_unit_ratio`` = t_10x / (k * t_1x_median): ~1.0 means the plan
    scales linearly; >>1 flags a super-linear stage (the thing that melts
    a 100 TB run before any cluster sees it). Single-shot timings -- this
    is a regression tripwire, not a precision benchmark.
    """
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    tmp = tempfile.mkdtemp(prefix="bench_scale_")
    probe: dict[str, dict] = {}
    try:
        reps = F.explode(F.array(*[F.lit(i) for i in range(k)])).alias("_r")

        def scaled(name: str, key_cols: list[str], salt_text: bool = False):
            df = spark.read.parquet(f"{sf_dir}/{name}.parquet").select("*", reps)
            for c in key_cols:
                df = df.withColumn(c, F.col(c) * k + F.col("_r"))
            if salt_text:
                # suffix EVERY word with the replica id: a bijective vocab
                # rename, so within-replica shingle/Jaccard structure is
                # exactly the original corpus's and replicas never share a
                # shingle -- near-dup candidate pairs scale linearly in k.
                # (Inserting separator tokens instead would create shingles
                # shared by every doc in a replica -> quadratic candidates.)
                df = df.withColumn(
                    "text",
                    F.regexp_replace(
                        F.col("text"), F.lit(r"(\S+)"),
                        F.concat(F.lit("$1x"), F.col("_r").cast("string")),
                    ),
                )
            df.drop("_r").write.parquet(f"{tmp}/{name}.parquet")

        # queries().load() registers every table; unscaled ones are
        # symlinked (zero copy) -- only the scaled facts are rewritten.
        for t in ("region", "nation", "customer", "supplier", "part"):
            os.symlink(os.path.abspath(f"{sf_dir}/{t}.parquet"),
                       f"{tmp}/{t}.parquet")
        scaled("orders", ["o_orderkey"])
        scaled("lineitem", ["l_orderkey"])
        scaled("documents", ["doc_id"], salt_text=True)
        # events: remap user_id too, so each replica user keeps the
        # original per-user event sequence (funnel/asof semantics scale
        # linearly instead of merging replicas into one mega-user)
        scaled("events", ["event_id", "user_id"])
        _scale_embeddings(spark, sf_dir, tmp, k)

        stages, rotation = _probe_stages()
        if rotation is not None:
            probe["_rotation"] = rotation
        for name in stages:
            if not isinstance(timings.get(name), float):
                if name not in QUERIES:
                    probe[name] = {"error": "not a registered query"}
                    continue
                try:  # non-headline probe stage: establish its own 1x
                    t1 = []
                    for _ in range(2):
                        t0 = time.perf_counter()
                        materialize(QUERIES[name].fn(spark, sf_dir))
                        t1.append(time.perf_counter() - t0)
                    timings_1x = round(min(t1), 3)
                except Exception as e:  # noqa: BLE001
                    probe[name] = {"error": f"{type(e).__name__}: {e}"[:500]}
                    continue
            else:
                timings_1x = timings[name]
            try:
                marker = _max_stage_id(spark)
                # min of two shots — same first-run/stall rationale as
                # the ingest probe (pack read 0.63 vs 1.6 per-unit on
                # back-to-back sessions from one-shot noise)
                shots_k = []
                for _ in range(2):
                    t0 = time.perf_counter()
                    materialize(QUERIES[name].fn(spark, tmp))
                    shots_k.append(round(time.perf_counter() - t0, 3))
                t_k = min(shots_k)
                probe[name] = {
                    "t_1x": timings_1x,
                    f"t_{k}x": round(t_k, 3),
                    "per_unit_ratio": round(t_k / (k * timings_1x), 2),
                    "shots": shots_k,
                }
                if name == "ml_knn_loo_accuracy":
                    # leave-one-out is O(n²) in the EVAL corpus by
                    # definition (both matmul sides replicate), so the
                    # probe's linear yardstick reads ~k here. Annotate
                    # rather than hide: the op is eval-bounded (a
                    # harness samples its eval set); IVF/PQ/LSH are the
                    # unbounded-corpus retrieval paths.
                    probe[name]["expected_superlinear"] = (
                        "LOO is quadratic in the eval corpus; "
                        "per_unit ~ k is the correct reading"
                    )
                skew = _heaviest_stage_skew(spark, marker)
                if skew:
                    probe[name]["skew"] = skew
                if name == "dedup_semantic_clusters":
                    from station_data_ingestion_spark.queries.llm_dedup import (
                        LAST_SEMANTIC_REPLICATION_STATS,
                    )

                    if LAST_SEMANTIC_REPLICATION_STATS:
                        st = dict(LAST_SEMANTIC_REPLICATION_STATS)
                        rows = sorted(st.pop("block_rows", {}).values())
                        st["block_rows_p50"] = (
                            rows[len(rows) // 2] if rows else 0
                        )
                        probe[name]["replication"] = st
            except Exception as e:  # noqa: BLE001
                probe[name] = {"error": f"{type(e).__name__}: {e}"[:500]}
        # Probe self-adjudication (r9 VERDICT #3): a super-linear probe
        # reading gets the same treatment as a >=2x headline flag —
        # re-measured isolated (cooldown + cache clear + JVM GC,
        # median-of-3) while the 10x corpus still exists, with a
        # noise|real verdict recorded in-artifact. Bar: per-unit <= 1.2
        # after isolation reads as linear-within-tolerance (single-shot
        # probes on a shared box wobble ~20%); annotated
        # expected-superlinear stages (kNN-LOO) are exempt by design.
        for name, rec in probe.items():
            if (
                not isinstance(rec, dict)
                or "per_unit_ratio" not in rec
                or rec["per_unit_ratio"] <= 1.0
                or "expected_superlinear" in rec
            ):
                continue
            try:
                time.sleep(3.0)
                spark.catalog.clearCache()
                spark.sparkContext._jvm.System.gc()  # noqa: SLF001
                rerun = timed_median(
                    lambda name=name: materialize(
                        QUERIES[name].fn(spark, tmp)
                    ),
                    n=3,
                )
                pu = round(rerun / (k * rec["t_1x"]), 2)
                rec["rerun_median3"] = rerun
                rec["rerun_per_unit"] = pu
                rec["verdict"] = "noise" if pu <= 1.2 else "real"
            except Exception as e:  # noqa: BLE001
                rec["verdict"] = "unadjudicated"
                rec["adjudication_error"] = f"{type(e).__name__}: {e}"[:200]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return probe




def bench_scale_probe_ingest(spark, timings: dict, k: int = 10) -> dict:
    """Ingestion-path 10x probe: the same stage taxonomy over a k-times
    WIDER station matrix (k*1000 stations x 731 dates), each stage timed
    once. Reports per_unit_ratio vs the 1x medians -- the reference's
    own workload shape (parse / merge-create / merge-replace) held to
    the same linear-scaling bar as the query stages."""
    probe: dict[str, dict] = {}
    need = ("ingest_parse", "ingest_merge_create", "ingest_merge_replace")
    if not all(isinstance(timings.get(s), float) for s in need):
        return {"error": "1x ingest stages did not run"}
    # THREE single shots (r6 verdict: a single-/double-shot probe could
    # not adjudicate merge_replace's 1.54-vs-0.37 spread). The first 10x
    # run in a session pays JIT/codegen + page-cache warmup for the
    # wider shape (measured 14.6s -> 2.2s on back-to-back merge_create
    # shots) and the shared box stalls land somewhere most runs, so the
    # headline per-unit uses the MEDIAN with all shots recorded; the min
    # remains the honest pure-plan cost.
    here = os.path.dirname(os.path.abspath(__file__))
    plan_path = os.path.join(
        here, ".benchmarks", f"ingest_replace_{k}x_plan.txt"
    )
    os.makedirs(os.path.dirname(plan_path), exist_ok=True)
    shots: list[dict[str, float]] = []
    for i in range(3):
        big_i: dict[str, float] = {}
        bench_ingestion(
            spark, big_i, n_stations=1000 * k, single_shot=True,
            prefix="ingest_", dump_plan_to=plan_path if i == 0 else None,
        )
        shots.append(big_i)
    for s in need:
        vals = sorted(
            b[s] for b in shots if isinstance(b.get(s), float)
        )
        if not vals:
            continue
        med = vals[len(vals) // 2]
        probe[s] = {
            "t_1x": timings[s],
            f"t_{k}x": med,
            "per_unit_ratio": round(med / (k * timings[s]), 2),
            "shots": vals,
            "per_unit_min": round(vals[0] / (k * timings[s]), 2),
        }
    # Ingest-probe self-adjudication (r9 VERDICT #3): BENCH_r09 published
    # merge_replace 2.24 per-unit off one contended shot while the clean
    # sf1 run read 0.14. A super-linear MEDIAN whose min shot is already
    # linear is contention by inspection; otherwise one isolated rerun
    # (cooldown + cache clear + JVM GC, 3 fresh single shots) settles it.
    flagged = [
        s
        for s in need
        if isinstance(probe.get(s), dict)
        and probe[s]["per_unit_ratio"] > 1.0
    ]
    if flagged:
        if all(probe[s]["per_unit_min"] <= 1.0 for s in flagged):
            for s in flagged:
                probe[s]["verdict"] = "noise (min shot linear)"
        else:
            try:
                time.sleep(3.0)
                spark.catalog.clearCache()
                spark.sparkContext._jvm.System.gc()  # noqa: SLF001
                rerun_shots: list[dict[str, float]] = []
                for _ in range(3):
                    one: dict[str, float] = {}
                    bench_ingestion(
                        spark, one, n_stations=1000 * k,
                        single_shot=True, prefix="ingest_",
                    )
                    rerun_shots.append(one)
                for s in flagged:
                    vals = sorted(
                        b[s] for b in rerun_shots
                        if isinstance(b.get(s), float)
                    )
                    if not vals:
                        probe[s]["verdict"] = "unadjudicated"
                        continue
                    pu = round(vals[0] / (k * timings[s]), 2)
                    probe[s]["rerun_shots"] = vals
                    probe[s]["rerun_per_unit_min"] = pu
                    probe[s]["verdict"] = (
                        "noise" if pu <= 1.2 else "real"
                    )
            except Exception as e:  # noqa: BLE001
                for s in flagged:
                    probe[s].setdefault("verdict", "unadjudicated")
                    probe[s]["adjudication_error"] = (
                        f"{type(e).__name__}: {e}"[:200]
                    )
    return probe


def bench_snapshot_read_isolated(spark, sf_dir, timings: dict[str, object]) -> None:
    """Read-path-isolated snapshot timing (r4 VERDICT 'What's missing'
    #2): the gate query `snapshot_ranged_orders_revenue` times
    write + cluster + read together, hiding the zone-map read win. Here
    the table is written/clustered ONCE outside the clock and only the
    ranged read + aggregate is timed — the write-once/read-many shape
    the store actually serves at 100 TB. For contrast,
    `snapshot_full_scan_agg` times the same aggregate over ALL files
    (no range -> no skipping), so the delta IS the file-skipping win."""
    from pyspark.sql import functions as F

    from station_data_ingestion_spark.queries.snapshot_q import (
        _orders_snapshot,
        _ranged_read,
    )

    t = _orders_snapshot(spark, sf_dir)

    def ranged():
        df = _ranged_read(t, "1996-01-01", "1996-12-31")
        materialize(
            df.groupBy("o_orderstatus").agg(
                F.count("*").alias("n"),
                F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("c"),
            )
        )

    def full():
        df = t.read()
        materialize(
            df.groupBy("o_orderstatus").agg(
                F.count("*").alias("n"),
                F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("c"),
            )
        )

    timings["snapshot_ranged_read_only"] = timed_median(ranged)
    timings["snapshot_full_scan_agg"] = timed_median(full)

    # -- merge-on-read vs copy-on-write DELETE write amplification -------
    # A 0.1%-selectivity point delete: COW rewrites every touched file
    # (with a clustered layout, matches scatter into most files -> near-
    # full-table rewrite), merge-on-read writes O(matched rows) of DV
    # coordinates. Each shot clones the base table (zero-copy metadata,
    # identical cost in both variants) so delete state never accumulates.
    import uuid as _uuid

    pred = F.col("o_custkey") % 1000 == 7

    def _clone():
        return t.clone_to(
            f"{t.path}_clone_{_uuid.uuid4().hex[:8]}"
        )

    def cow():
        _clone().delete_where(pred)

    def dv():
        _clone().delete_where_dv(pred)

    timings["snapshot_delete_cow"] = timed_median(cow, n=2)
    timings["snapshot_delete_dv"] = timed_median(dv, n=2)
    # read tax while DVs are open: same full-scan aggregate through the
    # anti-join (compare with snapshot_full_scan_agg above)
    dvt = _clone()
    dvt.delete_where_dv(pred)

    def dv_read():
        materialize(
            dvt.read().groupBy("o_orderstatus").agg(
                F.count("*").alias("n"),
                F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("c"),
            )
        )

    timings["snapshot_dv_read_tax"] = timed_median(dv_read)

    # -- governance-feature read paths, build outside the clock ---------
    # (VERDICT r8 #4): the gate queries snapshot_row_tracking_read /
    # snapshot_equality_delete_read are e2e by design (commit + mutate +
    # assert + read) so their bench identity was workload-dominated.
    # Here each table is built ONCE and only the governed READ is timed:
    # row-id attach is a broadcast filename->row_base map over the scan,
    # eq-delete apply is a sequence-gated broadcast anti-join.
    from station_data_ingestion_spark.plans.snapshot_store import SnapshotTable
    from station_data_ingestion_spark.queries.snapshot_q import _tmpdir

    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet")).select(
        "o_orderkey",
        "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.lit(1).alias("batch"),
    )
    rt = SnapshotTable(
        spark, _tmpdir(prefix="bench_rt_") + "/orders_rt",
        partition_cols=("batch",), stat_cols=("o_orderkey",),
    )
    rt.commit_overwrite_partitions(
        orders, cluster_by=("o_orderkey",), cluster_partitions=8
    )
    rt.enable_row_tracking()
    rt.update_where(F.col("o_custkey") % 7 == 0, {"cents": F.col("cents") + 5})
    rt.delete_where_dv(F.col("o_custkey") % 10 == 4)

    def rt_read():
        materialize(
            rt.read(with_row_ids=True)
            .groupBy((F.col("_row_id") % 8).alias("id_bucket"))
            .agg(F.count("*").alias("n"), F.sum("cents").alias("cents"))
        )

    timings["snapshot_row_tracking_read_only"] = timed_median(rt_read)

    eq = SnapshotTable(
        spark, _tmpdir(prefix="bench_eq_") + "/orders_eq",
        partition_cols=("batch",), stat_cols=("o_custkey",),
    )
    eq.commit_overwrite_partitions(orders)
    eq.delete_where_eq(
        orders.filter(F.col("o_custkey") % 10 == 3).select("o_orderkey")
    )
    eq.commit_overwrite_partitions(
        orders.filter(F.col("o_custkey") % 20 == 3).select(
            "o_orderkey", "o_custkey",
            (F.col("cents") + 11).alias("cents"), F.lit(2).alias("batch"),
        )
    )

    def eq_read():
        materialize(
            eq.read()
            .groupBy("batch")
            .agg(F.count("*").alias("n"), F.sum("cents").alias("cents"))
        )

    timings["snapshot_eq_delete_read_only"] = timed_median(eq_read)


def bench_pipeline_governed(
    spark, timings: dict[str, object],
    n_stations: int = 1000, n_days: int = 731,
) -> None:
    """Governance tax on the reference's own workload (VERDICT r8 #6):
    the full ingest->merge->read pipeline run twice through the SAME
    snapshot-store merge path (plans/runner._merge_into_table) -- once
    plain (snap_pipe_*), once with row tracking enabled and a live
    equality-delete batch pending (gov_pipe_*). Stage pairs are
    single-shot on an identical matrix, so gov/snap per-stage ratios
    ARE the governance read/commit tax: the replace merge reads the
    target through the eq-delete anti-join, and a second post-replace
    eq-delete batch keeps the read_back governed too."""
    import shutil
    import tempfile

    import numpy as np
    from pyspark.sql import functions as F

    from station_data_ingestion_spark.plans.jobspec import DataItemSpec
    from station_data_ingestion_spark.plans.runner import (
        _merge_into_table,
        read_obs_table,
    )
    from station_data_ingestion_spark.plans.snapshot_store import SnapshotTable
    from station_data_ingestion_spark.sources.wide_csv import ingest_wide_csv

    # identical matrix generation to bench_ingestion (same seed/order)
    rng = np.random.default_rng(42)
    values = np.round(rng.uniform(0, 40, size=(n_stations, n_days)), 2)
    na_mask = rng.random((n_stations, n_days)) < 0.03
    dates = [f"X{y:04d}.{m:02d}.{d:02d}" for y, m, d in _iter_dates(n_days)]

    def write_csv(path, vals):
        with open(path, "w", encoding="utf-8") as f:
            f.write("SKN," + ",".join(dates) + "\n")
            for i in range(vals.shape[0]):
                row = np.where(na_mask[i], "NA", vals[i].astype(str))
                f.write(f"{i}.{i % 10}," + ",".join(row) + "\n")

    tmp = tempfile.mkdtemp(prefix="bench_gov_")
    try:
        from datetime import date, timedelta

        end = date(2022, 1, 1) + timedelta(days=n_days - 1)
        spec = DataItemSpec(
            files=[], datatype="temperature", period="day", fill="raw",
            start_date="2022-01-01", end_date=end.isoformat(),
        )
        write_csv(f"{tmp}/a.csv", values)
        mutated = values.copy()
        mut_mask = rng.random((n_stations, n_days)) < 0.10
        mutated[mut_mask] = np.round(mutated[mut_mask] + 1.11, 2)
        write_csv(f"{tmp}/b.csv", mutated)
        obs, _ = ingest_wide_csv(spark, f"{tmp}/a.csv", spec)
        obs = obs.persist()
        materialize(obs)
        obs2, _ = ingest_wide_csv(spark, f"{tmp}/b.csv", spec)
        obs2 = obs2.persist()
        materialize(obs2)
        # prime codegen/JIT for the merge+commit path so the first timed
        # variant (plain) doesn't absorb warm-up the second one skips
        _merge_into_table(
            spark, obs.limit(5_000), spec, f"{tmp}/warm_target"
        )
        for tag, governed in (("snap_pipe_", False), ("gov_pipe_", True)):
            target = f"{tmp}/{tag}target"

            min_created = int(n_stations * n_days * 0.9)

            def create(target=target):
                stats = _merge_into_table(spark, obs, spec, target)
                assert stats.replaced == 0 and stats.created > min_created

            timings[f"{tag}merge_create"] = timed_median(create, n=1)
            # the spec the merge recorded (the hidden year included)
            snap = SnapshotTable(spark, target)
            if governed:
                # governance state, built OUTSIDE the timed stages:
                # stable row ids + a pending CDC key-retirement batch
                snap.enable_row_tracking()
                keys = (
                    obs.filter(F.col("station_id").endswith(".3"))
                    .select(*spec.key_fields)
                    .distinct()
                )
                snap.delete_where_eq(keys)

            def replace(target=target, governed=governed):
                stats = _merge_into_table(spark, obs2, spec, target)
                # governed: the eq-delete retired the .3 stations' keys,
                # so the replace merge re-CREATES them (later sequence
                # survives the delete) — plain sees zero creates
                assert stats.replaced > 0 and (governed or stats.created == 0)

            timings[f"{tag}merge_replace"] = timed_median(replace, n=1)
            if governed:
                # post-replace batch so read_back also reads through a
                # LIVE eq-delete anti-join (CDC keeps arriving)
                snap.delete_where_eq(
                    obs.filter(F.col("station_id").endswith(".7"))
                    .select(*spec.key_fields)
                    .distinct()
                )

            def read_back(target=target):
                materialize(
                    read_obs_table(spark, target, spec)
                    .groupBy("station_id")
                    .agg(F.count("*").alias("n"), F.avg("value").alias("avg"))
                )

            timings[f"{tag}read_back"] = timed_median(read_back, n=1)
            if governed:
                # the merge-on-read remedy: fold pending eq-deletes into
                # rewritten files (Iceberg's compaction), then re-time
                # the same read — the read tax should collapse to ~plain
                snap.materialize_eq_deletes()
                timings[f"{tag}read_back_compacted"] = timed_median(
                    read_back, n=1
                )
        obs.unpersist()
        obs2.unpersist()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _iter_dates(n_days):
    from datetime import date, timedelta

    d0 = date(2022, 1, 1)
    for i in range(n_days):
        d = d0 + timedelta(days=i)
        yield d.year, d.month, d.day


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # UI on: the scale probe reads per-task skew metrics from its REST API
    spark = get_spark(app_name="bench", extra_conf={"spark.ui.enabled": "true"})
    # warmup: prime codegen/JIT, the parquet footer cache, and the Python
    # worker pool (first mapInPandas otherwise pays ~4s of daemon startup)
    materialize(QUERIES["q6_forecast_revenue"].fn(spark, sf_dir))
    spark.range(0, 1000, 1, 32).mapInPandas(
        lambda it: it, "id long"
    ).write.format("noop").mode("overwrite").save()
    jo_start = job_overhead_ms(spark)

    # Fault isolation: one broken query must degrade the artifact, not
    # zero it (BENCH_r02 died whole on a single AnalysisException). Each
    # stage records {"error": ...} on failure and the JSON line always
    # prints; `value` sums the stages that ran.
    timings: dict[str, object] = {}
    errors: dict[str, str] = {}
    jobs_per_stage: dict[str, int] = {}
    for name in HEADLINE:
        try:
            j0 = _next_job_id(spark)
            timings[name] = timed_median(
                lambda name=name: materialize(QUERIES[name].fn(spark, sf_dir))
            )
            nj = stage_jobs(spark, j0, 3)
            if nj is not None:
                jobs_per_stage[name] = nj
        except Exception as e:  # noqa: BLE001 -- keep benching
            timings[name] = {"error": f"{type(e).__name__}: {e}"[:500]}
            errors[name] = timings[name]["error"]
        # some operators persist intermediates whose lifetime must span
        # their (lazy) result -- e.g. ordered_prefix_sum's ranged frame --
        # so they cannot self-unpersist; freeing between stages keeps
        # cached partitions from accumulating for the session lifetime
        spark.catalog.clearCache()
    try:
        bench_ingestion(spark, timings)
    except Exception as e:  # noqa: BLE001
        timings["ingest_pipeline"] = {"error": f"{type(e).__name__}: {e}"[:500]}
        errors["ingest_pipeline"] = timings["ingest_pipeline"]["error"]
    try:
        bench_snapshot_read_isolated(spark, sf_dir, timings)
    except Exception as e:  # noqa: BLE001
        timings["snapshot_ranged_read_only"] = {
            "error": f"{type(e).__name__}: {e}"[:500]
        }
        errors["snapshot_ranged_read_only"] = timings["snapshot_ranged_read_only"]["error"]

    total = round(sum(t for t in timings.values() if isinstance(t, float)), 3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    out = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    # 10x replication tripwire for super-linear plans (the probe's own
    # time is NOT part of the headline total). Opt out with =0 when
    # iterating locally.
    if errors:
        out["errors"] = errors
    if os.environ.get("SPARK_GRAFT_SCALE_PROBE", "1") != "0":
        try:
            out["scale_probe"] = bench_scale_probe(spark, sf_dir, timings)
        except Exception as e:  # noqa: BLE001
            out["scale_probe"] = {"error": f"{type(e).__name__}: {e}"[:500]}
        try:
            out["scale_probe_ingest"] = bench_scale_probe_ingest(spark, timings)
        except Exception as e:  # noqa: BLE001
            out["scale_probe_ingest"] = {"error": f"{type(e).__name__}: {e}"[:500]}
    # Whole-pipeline stage taxonomy at 10x-wider AND 10x-taller (r6
    # verdict #6): opt-in — ~73M cells of CSV generation is a local-
    # artifact exercise, not a per-round driver cost.
    if os.environ.get("SPARK_GRAFT_PIPELINE_E2E", "0") == "1":
        try:
            e2e: dict[str, float] = {}
            bench_ingestion(
                spark, e2e, n_stations=10_000, n_days=7310,
                single_shot=True, prefix="", read_back=True,
            )
            out["pipeline_e2e"] = {
                "n_stations": 10_000, "n_days": 7310, "cells": 73_100_000,
                "stages": e2e,
            }
        except Exception as e:  # noqa: BLE001
            out["pipeline_e2e"] = {"error": f"{type(e).__name__}: {e}"[:500]}
    # Governance-tax pipeline pair (opt-in, local artifact): same merge
    # path twice — plain snapshot store vs row tracking + live eq-delete
    # batches. Per-stage gov/snap ratios are the governance tax.
    if os.environ.get("SPARK_GRAFT_PIPELINE_GOV", "0") == "1":
        try:
            gov: dict[str, float] = {}
            bench_pipeline_governed(spark, gov)
            pairs = {
                s: {
                    "snap": gov.get(f"snap_pipe_{s}"),
                    "gov": gov.get(f"gov_pipe_{s}"),
                }
                for s in ("merge_create", "merge_replace", "read_back")
            }
            for s, p in pairs.items():
                if p["snap"] and p["gov"]:
                    p["tax_ratio"] = round(p["gov"] / p["snap"], 3)
            out["pipeline_governed"] = {"stages": gov, "pairs": pairs}
        except Exception as e:  # noqa: BLE001
            out["pipeline_governed"] = {"error": f"{type(e).__name__}: {e}"[:500]}
    # the box's per-job constant, start and end of run: the denominator
    # for cross-round comparisons of multi-job (snapshot/commit) stages
    out["job_overhead_ms"] = {
        "start": jo_start,
        "end": job_overhead_ms(spark),
    }
    if jobs_per_stage:
        # actions-per-run per headline stage: time ~= jobs x
        # job_overhead_ms for the multi-commit storage stages, so a
        # cross-round reader can tell "more actions" from "slower box"
        # at a glance
        out["stage_jobs"] = jobs_per_stage
    hd, hist_entry, hist_path = _diff_history(out)
    if hist_entry is not None:
        hist_entry["job_overhead_ms"] = out["job_overhead_ms"]
    if isinstance(hd, dict):
        prev_jo = (hd.get("prev_job_overhead_ms") or {}).get("start")
        if prev_jo:
            hd["job_overhead_ratio"] = round(jo_start / prev_jo, 2)
    # Self-adjudication (VERDICT r8 #1): three rounds of >=2x flags have
    # dissolved under post-hoc isolated reruns (r4 q5/q9, r6
    # ingest_merge_replace, r8's thirteen) -- contention leaks through
    # even a median-of-3 when neighbouring stages share the JVM heap and
    # page cache. So the instrument now adjudicates itself: every stage
    # whose median is >=2x its history value is re-run at END of run,
    # isolated (cooldown sleep + cache clear + JVM GC, no concurrent
    # stage), fresh median-of-3, and the artifact records BOTH numbers
    # plus a noise|real verdict. History stores the steady-state rerun
    # for noise verdicts so a noisy sample can't ratchet next round's
    # baseline.
    if isinstance(hd, dict) and hd.get("regressed_2x"):
        _adjudicate_regressions(spark, sf_dir, hd, hist_entry)
    if isinstance(hd, dict):
        hd.pop("prev_queries", None)
    out["history_delta"] = hd
    _append_history(hist_entry, hist_path)
    # Full artifact to a deterministic path: the driver's BENCH_r{N}.json
    # keeps only a 2000-char stdout TAIL, which cannot hold the full
    # per-query JSON (r5/r6 artifacts stored parsed: null). The file is
    # the authoritative copy; stdout carries the full line for humans
    # AND, LAST, a compact summary line sized to fit the driver's tail
    # capture so BENCH_r{N}.json finally parses.
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "BENCH_LAST.json"), "w", encoding="utf-8") as f:
        json.dump(out, f, indent=1)
    sys.stdout.write("\n" + json.dumps(out) + "\n")
    compact = {
        "metric": out["metric"],
        "value": out["value"],
        "unit": "sec",
        "sf": out["sf"],
        "n_stages": sum(1 for v in timings.values() if isinstance(v, float)),
        "n_errors": len(errors),
        "queries_in": "BENCH_LAST.json",
    }
    if errors:
        compact["errors"] = {k: v[:60] for k, v in list(errors.items())[:5]}
    for probe_key, short in (("scale_probe", "probe_10x"),
                             ("scale_probe_ingest", "probe_ingest_10x")):
        p = out.get(probe_key)
        if isinstance(p, dict):
            compact[short] = {
                n: _probe_compact(d) for n, d in p.items()
                if isinstance(d, dict)
            }
    hd = out.get("history_delta")
    if isinstance(hd, dict):
        compact["history_ratio"] = hd.get("ratio")
        compact["regressed_2x"] = hd.get("regressed_2x")
        if hd.get("job_overhead_ratio") is not None:
            compact["job_overhead_ratio"] = hd["job_overhead_ratio"]
    compact["job_ms"] = out.get("job_overhead_ms", {}).get("start")
    line = json.dumps(compact, separators=(",", ":"))
    if len(line) > 1900:  # stay inside the driver's 2000-char tail
        for trim in ("errors", "probe_10x", "regressed_2x"):
            compact.pop(trim, None)
            line = json.dumps(compact, separators=(",", ":"))
            if len(line) <= 1900:
                break
    sys.stdout.write("\n" + line + "\n")
    sys.stdout.flush()


def _probe_compact(d: dict):
    """One driver-tail cell per probe stage: the per-unit ratio, plus
    the adjudication verdict inline when one was reached — so a
    super-linear reading can never ship unannotated (r9 VERDICT #3)."""
    r = d.get("per_unit_ratio")
    if r is None:
        return "err"
    if "expected_superlinear" in d:
        return f"{r} expected-quadratic"
    if "verdict" in d:
        rerun = d.get("rerun_per_unit", d.get("rerun_per_unit_min"))
        arrow = f"->{rerun}" if rerun is not None else ""
        return f"{r}{arrow} {d['verdict']}"
    return r


def _diff_history(out: dict) -> tuple[dict | None, dict | None, str | None]:
    """Build this run's history entry and diff it vs the last comparable
    run (same sf), WITHOUT appending yet -- adjudication may substitute
    steady-state reruns into the entry first. Returns (delta, entry,
    path); all None on any failure (observability must not fail the
    bench). Cross-round judges compare per-query without tail
    archaeology (BENCH_r02 was a crash artifact and r1 predates three
    headline stages -- totals alone are not comparable)."""
    try:
        here = os.path.dirname(os.path.abspath(__file__))
        hist_dir = os.path.join(here, ".benchmarks")
        os.makedirs(hist_dir, exist_ok=True)
        path = os.path.join(hist_dir, "history.jsonl")
        prev = None
        if os.path.exists(path):
            with open(path, encoding="utf-8") as f:
                for line in f:
                    try:
                        rec = json.loads(line)
                    except ValueError:
                        continue
                    if rec.get("sf") == out["sf"]:
                        prev = rec
        entry = {
            "ts": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "sf": out["sf"],
            "value": out["value"],
            "queries": {
                k: v for k, v in out["queries"].items() if isinstance(v, float)
            },
        }
        if prev is None:
            return None, entry, path
        common = set(entry["queries"]) & set(prev.get("queries", {}))
        prev_total = round(sum(prev["queries"][q] for q in common), 3)
        cur_total = round(sum(entry["queries"][q] for q in common), 3)
        ratios = {
            q: round(entry["queries"][q] / prev["queries"][q], 2)
            for q in common
            if prev["queries"][q] > 0
        }
        delta = {
            "prev_ts": prev.get("ts"),
            "common_queries": len(common),
            "prev_total_common": prev_total,
            "cur_total_common": cur_total,
            "ratio": round(cur_total / prev_total, 3) if prev_total else None,
            "regressed_2x": {q: r for q, r in ratios.items() if r >= 2.0},
            "improved_2x": {q: r for q, r in ratios.items() if r <= 0.5},
            "prev_queries": {q: prev["queries"][q] for q in common},
            "prev_job_overhead_ms": prev.get("job_overhead_ms"),
        }
        return delta, entry, path
    except Exception:  # noqa: BLE001
        return None, None, None


def _append_history(entry: dict | None, path: str | None) -> None:
    if entry is None or path is None:
        return
    try:
        with open(path, "a", encoding="utf-8") as f:
            f.write(json.dumps(entry) + "\n")
    except Exception:  # noqa: BLE001 -- observability must not fail the bench
        pass


# Stages produced by bench_snapshot_read_isolated (re-runnable as a unit).
_SNAPSHOT_ISOLATED_STAGES = frozenset({
    "snapshot_ranged_read_only", "snapshot_full_scan_agg",
    "snapshot_delete_cow", "snapshot_delete_dv", "snapshot_dv_read_tax",
    "snapshot_row_tracking_read_only", "snapshot_eq_delete_read_only",
})


def _adjudicate_regressions(spark, sf_dir, hd: dict, hist_entry: dict | None) -> None:
    """Re-measure every >=2x-flagged stage in isolation and attach a
    noise|real verdict to the artifact (VERDICT r8 #1).

    Isolation = end-of-run (no concurrent stage in this process), a
    cooldown sleep, a cache clear, and an explicit JVM GC before each
    rerun; then a fresh median-of-3. Verdict: rerun/prev < 1.5 is
    `noise` (the in-run sample was contention), >= 1.5 is `real` (the
    regression reproduces when isolated). For noise verdicts the
    history entry is updated to the rerun median so the noisy sample
    does not become next round's baseline."""
    prev_q = hd.get("prev_queries") or {}
    adjudication: dict[str, dict] = {}
    ingest_rerun: dict | None = None
    snapshot_rerun: dict | None = None
    for q, flag_ratio in sorted(hd.get("regressed_2x", {}).items()):
        rec: dict = {
            "prev": prev_q.get(q),
            "flagged": (hist_entry or {}).get("queries", {}).get(q),
            "flag_ratio": flag_ratio,
        }
        try:
            time.sleep(3.0)
            spark.catalog.clearCache()
            spark.sparkContext._jvm.System.gc()  # noqa: SLF001
            if q in QUERIES:
                rerun = timed_median(
                    lambda q=q: materialize(QUERIES[q].fn(spark, sf_dir)), n=3
                )
            elif q.startswith("ingest_"):
                if ingest_rerun is None:
                    ingest_rerun = {}
                    bench_ingestion(spark, ingest_rerun)
                rerun = ingest_rerun.get(q)
            elif q in _SNAPSHOT_ISOLATED_STAGES:
                if snapshot_rerun is None:
                    snapshot_rerun = {}
                    bench_snapshot_read_isolated(spark, sf_dir, snapshot_rerun)
                rerun = snapshot_rerun.get(q)
            else:
                rerun = None
        except Exception as e:  # noqa: BLE001 -- adjudication must not fail the bench
            rec["error"] = f"{type(e).__name__}: {e}"[:200]
            rerun = None
        if isinstance(rerun, float) and prev_q.get(q):
            rr = round(rerun / prev_q[q], 2)
            rec["rerun_median3"] = rerun
            rec["rerun_ratio"] = rr
            rec["verdict"] = "noise" if rr < 1.5 else "real"
            if rec["verdict"] == "noise" and hist_entry is not None:
                hist_entry["queries"][q] = rerun
            elif rec["verdict"] == "real":
                # a real verdict on a box whose per-job constant also
                # grew is (at least partly) environment, not plan — say
                # so next to the verdict instead of leaving the reader
                # to cross-reference (r9's two 'real' snapshot flags
                # were exactly this)
                jor = hd.get("job_overhead_ratio")
                if isinstance(jor, (int, float)) and jor >= 1.5:
                    rec["environment_note"] = (
                        f"box per-job overhead is {jor}x the previous "
                        "run's — multi-job stages scale with it"
                    )
        else:
            rec["verdict"] = "unadjudicated"
        adjudication[q] = rec
    hd["adjudication"] = adjudication
    hd.pop("prev_queries", None)
    # regressed_2x keeps its ratio map shape but now names the verdict
    # inline so the compact driver tail shows adjudicated flags directly.
    hd["regressed_2x"] = {
        q: f"{r}x->" + (
            f"{adjudication[q].get('rerun_ratio')}x {adjudication[q]['verdict']}"
            if "rerun_ratio" in adjudication[q]
            else adjudication[q]["verdict"]
        )
        for q, r in hd["regressed_2x"].items()
    }


if __name__ == "__main__":
    main()
