"""Physical-plan pins for the round-6 operators (operators/evalprep.py):
the plan shapes that make them survive 100 TB (SCALE.md 'Round-6
additions') must actually be in the executed plan, not just in
docstrings."""

from __future__ import annotations

from cdc_from_sql_and_nosql_to_data_warehouse_spark import plans
from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators import REGISTRY

from conftest import SF_DIR


def test_one_hot_is_pure_projection(spark):
    # no shuffle, no aggregate, no window — indicator columns are a
    # scan-speed projection
    df = REGISTRY["q_one_hot_encode"].fn(spark, SF_DIR)
    text = plans.formatted_plan(df)
    assert "Exchange" not in text, text
    assert "Window" not in text, text
    assert "HashAggregate" not in text, text


def test_robust_scale_stats_join_is_broadcast(spark):
    # the 3-row quantile-stats frame broadcasts back; fact rows never
    # shuffle for the scaling join
    df = REGISTRY["q_robust_scale"].fn(spark, SF_DIR)
    assert plans.has_broadcast_join(df)


def test_gaps_islands_has_no_global_window(spark):
    # sequence numbering comes from assign_dense_ids (range-partition +
    # per-partition numbering), never a single-task row_number window
    df = REGISTRY["q_gaps_islands"].fn(spark, SF_DIR)
    text = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in text, text
    # the only window is assign_dense_ids' per-partition numbering,
    # partitioned by the physical partition id — never a global sort
    assert "windowspecdefinition(__pid" in text, text


def test_retrieval_auc_prefix_sum_is_parallel(spark):
    # the cumulative count over score order runs through running_total:
    # windows partition by __pid (range partitions), and the only
    # SinglePartition exchange allowed is the final 1-row aggregate —
    # no Window may sit below one
    df = REGISTRY["q_retrieval_auc"].fn(spark, SF_DIR)
    text = plans.formatted_plan(df)
    lines = text.splitlines()
    sp = [i for i, l in enumerate(lines) if "Exchange SinglePartition" in l]
    win = [i for i, l in enumerate(lines) if "Window (" in l]
    # formatted plans list children AFTER parents: a window below a
    # SinglePartition exchange would appear at a later line
    for s in sp:
        assert not any(w > s for w in win), text
    assert "windowspecdefinition(__pid" in text, text


def test_hybrid_rrf_query_side_is_broadcast(spark):
    df = REGISTRY["q_hybrid_rrf"].fn(spark, SF_DIR)
    assert plans.has_broadcast_join(df)
    text = plans.formatted_plan(df)
    # rankings partition per query — never an unpartitioned window
    assert "windowspecdefinition(qid" in text or "windowspecdefinition(query_id" in text, text


def test_ndcg_candidate_scan_is_broadcast_nested_loop(spark):
    # bounded query set broadcasts; candidate scoring is an
    # embarrassingly parallel broadcast join, not a shuffle join
    df = REGISTRY["q_retrieval_ndcg"].fn(spark, SF_DIR)
    text = plans.formatted_plan(df)
    assert "Broadcast" in text, text


def test_quantile_align_window_runs_on_aggregate_not_docs(spark):
    # the per-source cumulative window's direct input chain must be the
    # (source, n_chars) aggregate — not document rows (the Gini-pattern
    # pin from round 5)
    df = REGISTRY["q_quantile_align"].fn(spark, SF_DIR)
    text = plans.formatted_plan(df)
    lines = text.splitlines()
    win_idx = max(i for i, l in enumerate(lines) if "Window (" in l)
    for line in lines[win_idx + 1 :]:
        if "HashAggregate" in line:
            break
        assert "Scan" not in line, (
            "document scan feeds the window before any aggregate:\n" + text
        )
    else:
        raise AssertionError("no HashAggregate below the cumulative window:\n" + text)
    # the bucket remap join is broadcast (≤ bins·sources rows)
    assert plans.has_broadcast_join(df)


def test_sax_windows_only_over_daily_aggregate(spark):
    # the day-index window runs over the calendar-bounded daily
    # aggregate; fact rows are touched exactly once (one orders scan)
    df = REGISTRY["q_sax_encode"].fn(spark, SF_DIR)
    text = plans.formatted_plan(df)
    lines = text.splitlines()
    win_idx = max(i for i, l in enumerate(lines) if "Window (" in l)
    for line in lines[win_idx + 1 :]:
        if "HashAggregate" in line:
            break
        assert "Scan" not in line, text
    else:
        raise AssertionError("no HashAggregate below the day-index window:\n" + text)


def test_pca_partials_are_bounded_aggregate(spark):
    # the mapInPandas partial-Gram path reduces through ONE hash
    # aggregate keyed (i, j) — bounded by dim², not data
    df = REGISTRY["q_pca_project"].fn(spark, SF_DIR)
    text = plans.formatted_plan(df)
    # the projection itself is map-only over the embedding scan
    assert "Window" not in text, text


def test_eval_confusion_queries_are_broadcast(spark):
    df = REGISTRY["q_eval_confusion"].fn(spark, SF_DIR)
    assert plans.has_broadcast_join(df)


def test_calibration_is_one_map_pass_one_agg(spark):
    # fixed-point bin assignment is a projection; the only shuffle is
    # the 10-key hash aggregate (plus the 1-row anchor broadcast)
    df = REGISTRY["q_calibration_bins"].fn(spark, SF_DIR)
    text = plans.formatted_plan(df)
    assert "Window" not in text, text
    assert text.count("Exchange hashpartitioning") <= 1, text


def test_lift_gains_prefix_sum_is_parallel(spark):
    # same contract as q_retrieval_auc: every window must either be
    # __pid-partitioned (running_total's parallel prefix sum) or order
    # the bounded ≤10-row decile frame — a regression that adds an
    # unbounded global window over the score domain would introduce a
    # windowspecdefinition referencing neither and fail here
    df = REGISTRY["q_lift_gains"].fn(spark, SF_DIR)
    text = plans.formatted_plan(df)
    assert "windowspecdefinition(__pid" in text, text
    for line in text.splitlines():
        if "windowspecdefinition(" not in line:
            continue
        assert "__pid#" in line or "decile#" in line, line


def test_file_skipping_is_single_scan_per_layout_family(spark):
    # both layouts come from ONE lineitem scan via explode — the plan
    # must contain exactly one parquet scan
    df = REGISTRY["q_file_skipping_stats"].fn(spark, SF_DIR)
    text = df._jdf.queryExecution().executedPlan().toString()
    assert text.count("Scan parquet") == 1, text


def test_ks_test_aggregates_before_prefix_sum(spark):
    # the CDF prefix sums run on the distinct-length aggregate through
    # running_total — per-__pid windows only
    df = REGISTRY["q_ks_test"].fn(spark, SF_DIR)
    text = plans.formatted_plan(df)
    assert "windowspecdefinition(__pid" in text, text


def test_seasonal_decompose_windows_on_daily_frame(spark):
    # pin the trend window on the daily subtree: the moving-average
    # window's direct input must be the per-day aggregate
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.sources.readers import (
        load_table,
    )

    orders = load_table(spark, SF_DIR, "orders").filter(
        F.col("o_orderdate").isNotNull()
    )
    daily = orders.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("cents")
    )
    w = Window.orderBy("d").rowsBetween(-14, 14)
    tr = daily.select("d", F.sum("cents").over(w).alias("trend"))
    text = plans.formatted_plan(tr)
    lines = text.splitlines()
    win_idx = max(i for i, l in enumerate(lines) if "Window (" in l)
    for line in lines[win_idx + 1 :]:
        if "HashAggregate" in line:
            break
        assert "Scan" not in line, text
    else:
        raise AssertionError("no HashAggregate below the trend window:\n" + text)
    # and in the operator's executed plan, the 7-row seasonal frame
    # joins back broadcast, and the daily aggregate runs once: one
    # orders scan, the seasonal branch reading its shuffle as a
    # ReusedExchange (the trend window reruns on the daily rows only)
    df = REGISTRY["q_seasonal_decompose"].fn(spark, SF_DIR)
    assert plans.has_broadcast_join(df)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
    assert sum("FileScan" in line for line in final.splitlines()) == 1, final
    assert "ReusedExchange" in final, final
