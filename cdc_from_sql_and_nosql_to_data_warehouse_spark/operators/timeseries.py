"""Time-series operators over the change-event table.

The reference's only time-series abstraction is timestamped rows and
timestamped file names (SURVEY.md §1.1; reference
source/write_dynamodb_stream_to_s3_lambda/handler.py:47), but the
warehouse it feeds exists to answer time-shaped questions over exactly
such event tables (reference README.md:3).  This module supplies the
operators Spark lacks as single built-ins — as-of join, interval range
join, gap sessionization, multi-resolution rollup — each composed from
shuffle-minimal DataFrame primitives:

- as-of join  = union + one window pass (ONE shuffle on the key; no
  join node at all, so no row explosion on ties);
- range join  = bucketed equi-join with a residual predicate (the
  classic interval-join decomposition; the probe side never becomes a
  cartesian product);
- sessionize  = two window passes over the same (user, ts) ordering —
  Catalyst reuses a single Exchange for both;
- rollup      = GROUPING SETS, partial-aggregated map-side like any
  hash aggregate.

All four are DuckDB-oracle-checked (ASOF JOIN is a DuckDB built-in,
which makes the as-of oracle independent of our window trick).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cdc_from_sql_and_nosql_to_data_warehouse_spark.functions.exact import dsum, sql_dsum
from cdc_from_sql_and_nosql_to_data_warehouse_spark.functions.grouping import (
    count_dsum_sets,
    presum_count_dsum,
)
from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators import register
from cdc_from_sql_and_nosql_to_data_warehouse_spark.sources.readers import load_table

# ---------------------------------------------------------------- as-of join


def _cents(col: str) -> F.Column:
    """Exact per-day money total in integer CENTS: decimal sum × 100 →
    bigint.  Integer cents make downstream float math (interpolation
    slopes, z-scores) start from identical values on both engines."""
    return (F.sum(F.col(col).cast("decimal(14,2)")) * 100).cast("bigint")


def _daily(o: DataFrame, value: F.Column, name: str) -> DataFrame:
    """Per-day aggregate of orders — the shared first stage of every
    daily-series operator (gap fill, interpolate, CUSUM, seasonality,
    rolling bands, ts-similarity).  One shuffle keyed on the date
    domain."""
    return o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        value.alias(name)
    )


def _date_spine(daily: DataFrame) -> DataFrame:
    """Dense calendar spine spanning the series' min..max day — the
    1-row bounds aggregate exploded through ``sequence`` (domain-
    bounded; never a data-scaled generator)."""
    bounds = daily.agg(F.min("day").alias("mn"), F.max("day").alias("mx"))
    return bounds.select(
        F.explode(F.sequence("mn", "mx", F.expr("interval 1 day"))).alias("day")
    )


@register(
    "q_asof_join",
    oracle="""
    SELECT l.event_id, l.user_id, l.ts, l.value, r.click_ts, r.click_value
    FROM (SELECT event_id, user_id, ts, value
          FROM events WHERE event_type = 'purchase') l
    ASOF LEFT JOIN (SELECT user_id AS r_user, ts AS click_ts, MAX(value) AS click_value
                    FROM events WHERE event_type = 'click'
                    GROUP BY user_id, ts) r
      ON l.user_id = r.r_user AND l.ts >= r.click_ts
    """,
)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase event picks up the latest click at or
    before it for the same user (attribution / point-in-time lookup).

    Spark has no ASOF JOIN, and the naive `t1.ts >= t2.ts` theta join
    explodes to O(n·m) per key.  The scalable form used here: union
    both sides with a side marker, ONE window pass ordered by
    (ts, side) with `last(..., ignorenulls=True)` carrying the most
    recent right-side values forward, then keep the left rows.  Exactly
    one shuffle (on user_id); state per row is O(1); survives any skew
    AQE can split because there is no join build side at all.  The
    right side is pre-aggregated per (user, ts) so equal-timestamp
    right rows cannot make the match ambiguous — the same disambiguation
    the DuckDB ASOF oracle needs.
    """
    ev = load_table(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.lit(1).alias("side"),
        "event_id",
        "value",
        F.lit(None).cast("double").alias("click_value"),
    )
    right = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("click_value"))
        .select(
            "user_id",
            "ts",
            F.lit(0).alias("side"),
            F.lit(None).cast("bigint").alias("event_id"),
            F.lit(None).cast("double").alias("value"),
            "click_value",
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.asc_nulls_last("ts"), "side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # Carry BOTH right-side fields in ONE struct through a single
    # last(ignorenulls): two independent lasts would diverge when the
    # matched click row's click_value is NULL — ignorenulls skips it and
    # pairs the newest click_ts with an OLDER click's value, while the
    # ASOF oracle returns NULL (latent until events.value has nulls).
    match = F.last(
        F.when(F.col("side") == 0, F.struct(F.col("ts").alias("m_ts"), F.col("click_value").alias("m_val"))),
        ignorenulls=True,
    ).over(w)
    # a NULL user_id never matches under the join model (NULL = NULL
    # is NULL in the ASOF ON clause) but DOES share a window partition
    # here — mask the carried match for NULL-key rows (fixture-caught)
    keyed = F.col("user_id").isNotNull()
    return (
        left.unionByName(right)
        .select(
            "event_id",
            "user_id",
            "ts",
            "value",
            "side",
            F.when(keyed, match["m_ts"]).alias("click_ts"),
            F.when(keyed, match["m_val"]).alias("click_value"),
        )
        .filter(F.col("side") == 1)
        .select("event_id", "user_id", "ts", "value", "click_ts", "click_value")
    )


# ---------------------------------------------------------------- range join


_WINDOW_SECONDS = 600  # incident window length == bucket width


@register(
    "q_range_join",
    oracle="""
    WITH w AS (
      SELECT event_id AS window_id, ts AS start_ts, ts + INTERVAL 10 MINUTE AS end_ts
      FROM events WHERE event_type = 'error' AND value > 100
    )
    SELECT w.window_id, w.start_ts, COUNT(*) AS n_events, MAX(e.value) AS max_value
    FROM w JOIN events e ON e.ts >= w.start_ts AND e.ts < w.end_ts
    GROUP BY w.window_id, w.start_ts
    """,
)
def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval range join: count the events inside each incident window
    (10 minutes after every high-severity error).

    A raw `e.ts BETWEEN w.start AND w.end` join has no equi key, so
    Spark would pick BroadcastNestedLoopJoin — fine only while the
    window side is tiny.  The scale-safe decomposition used here:
    quantize time into buckets the size of the window, explode each
    window to the (≤2) buckets it overlaps, equi-join on the bucket
    key, and keep the range predicate as a cheap residual filter.  The
    probe side is touched once per event (its single bucket), the
    shuffle is a hash join on a long key, and the plan stays a
    broadcast/shuffle HASH join at any data size.  Bucket width must
    be ≥ the window length so a window spans at most 2 buckets.
    """
    ev = load_table(spark, sf_dir, "events")
    micros = _WINDOW_SECONDS * 1_000_000
    # window length derived from the SAME constant as the bucket width:
    # if they diverged (window > bucket), a window could span >2 buckets
    # and the explode below would silently drop matches
    windows = (
        ev.filter((F.col("event_type") == "error") & (F.col("value") > 100))
        .select(
            F.col("event_id").alias("window_id"),
            F.col("ts").alias("start_ts"),
            (F.col("ts") + F.expr(f"INTERVAL {_WINDOW_SECONDS} SECONDS")).alias("end_ts"),
        )
        .withColumn(
            "bucket",
            F.explode(
                F.array_distinct(
                    F.array(
                        F.floor(F.unix_micros("start_ts") / micros),
                        F.floor(F.unix_micros("end_ts") / micros),
                    )
                )
            ),
        )
    )
    probe = ev.select(
        "ts", "value", F.floor(F.unix_micros("ts") / micros).alias("bucket")
    )
    # no broadcast hint: the windows side is filtered but unbounded in
    # principle (incident-heavy data at 100× would OOM a forced
    # broadcast); the join is already equi on `bucket`, so AQE picks
    # broadcast while it's small and shuffle-hash once it isn't
    return (
        probe.join(windows, "bucket")
        .filter((F.col("ts") >= F.col("start_ts")) & (F.col("ts") < F.col("end_ts")))
        .groupBy("window_id", "start_ts")
        .agg(F.count(F.lit(1)).alias("n_events"), F.max("value").alias("max_value"))
    )


# ---------------------------------------------------------------- sessionize


_GAP_MICROS = 1800 * 1_000_000  # 30-minute inactivity gap


@register(
    "q_sessionize",
    oracle=f"""
    WITH g AS (
      SELECT user_id, ts, event_id, value,
        CASE WHEN lag(ts) OVER w IS NULL
               OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > {_GAP_MICROS}
             THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
      SELECT user_id, ts, value,
        SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
      FROM g
    )
    SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
      MIN(ts) AS session_start, MAX(ts) AS session_end,
      COUNT(*) AS n_events, {sql_dsum('value')} AS total_value
    FROM s GROUP BY user_id, session_seq
    """,
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch gap sessionization: a new session starts after >30 min of
    user inactivity (the batch twin of streaming `session_window`,
    streaming/windows.py).

    Classic two-pass window trick — mark boundaries with `lag`, number
    sessions with a running sum of the marks — then one hash aggregate
    per session.  Both window passes share the same (user_id) x
    (ts, event_id) ordering, so Catalyst plans a single Exchange+Sort
    and the whole query shuffles twice total (windows, then agg), with
    per-key state O(1).  event_id tie-breaks equal timestamps for a
    deterministic result under any partitioning.
    """
    order = Window.partitionBy("user_id").orderBy(F.asc_nulls_last("ts"), "event_id")
    running = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev = load_table(spark, sf_dir, "events")
    marked = ev.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.when(
            F.lag("ts").over(order).isNull()
            | (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(order)) > _GAP_MICROS),
            1,
        )
        .otherwise(0)
        .alias("is_new"),
    )
    return (
        marked.withColumn("session_seq", F.sum("is_new").over(running))
        .groupBy("user_id", "session_seq")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("total_value"),
        )
    )


# ---------------------------------------------------------------- grouping sets


@register(
    "q_grouping_sets",
    oracle=f"""
    SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
      COUNT(*) AS n_events, {sql_dsum('value')} AS total_value,
      CASE WHEN event_type IS NULL THEN 2
           WHEN CAST(date_trunc('day', ts) AS DATE) IS NULL THEN 1 ELSE 0 END AS lvl
    FROM events
    GROUP BY GROUPING SETS ((event_type, CAST(date_trunc('day', ts) AS DATE)), (event_type), ())
    """,
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B11 GROUPING SETS — the hypertable-style multi-resolution
    continuous-aggregate shape: per (type, day), per type, and grand
    total.  Pre-aggregated at the finest set so the Expand multiplies
    one row per (type, day) group instead of every event row, with the
    grand total as a guaranteed-one-row global aggregate (SQL `()`
    semantics hold on empty input — functions/grouping.py).  The
    rollup level is derived from the null pattern (`lvl`) because the
    grouping columns are non-null in this table; with nullable keys we
    would use grouping_id() instead (bit order differs between
    engines, so the oracle stays engine-neutral this way).
    """
    out = count_dsum_sets(
        presum_count_dsum(
            load_table(spark, sf_dir, "events"),
            keys=[
                ("event_type", "event_type"),
                ("day", F.date_trunc("day", F.col("ts")).cast("date")),
            ],
            value="value",
        ),
        sets=[("event_type", "day"), ("event_type",)],
        n_alias="n_events",
        sum_alias="total_value",
    )
    return out.withColumn(
        "lvl",
        F.when(F.col("event_type").isNull(), F.lit(2))
        .when(F.col("day").isNull(), F.lit(1))
        .otherwise(F.lit(0)),
    )


# ---------------------------------------------------------------- TPC-H-shaped analytics


@register(
    "q_shipping_priority",
    oracle=f"""
    SELECT l_orderkey, o_orderdate, o_orderpriority,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
               * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE)
        AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1997-06-30 00:00:00'
      AND l_shipdate  > TIMESTAMP '1997-06-30 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape (shipping priority): 3-way join, filtered on both
    fact and dimension sides, top-10 unshipped orders by revenue.

    The customer filter is applied before the join and the side is left
    unhinted: customer scales with the data, so a hard broadcast would
    OOM at 100×; AQE broadcasts it while its runtime size is under the
    threshold and falls back to shuffle-hash once it isn't.  lineitem's
    date filter is pushed to the parquet scan.  Top-k is
    TakeOrderedAndProject — each partition keeps 10 rows, the driver
    merges, no global sort.
    Revenue sums through DECIMAL (exact, order-insensitive) so the
    top-10 cut is deterministic; l_orderkey breaks ties.
    """
    cutoff = F.lit("1997-06-30 00:00:00").cast("timestamp")
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    one = F.lit(1).cast("decimal(3,2)")
    revenue = F.col("l_extendedprice").cast("decimal(12,2)") * (
        one - F.col("l_discount").cast("decimal(3,2)")
    )
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@register(
    "q_late_shipment_priority",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n_orders
    FROM orders
    WHERE EXISTS (
      SELECT 1 FROM lineitem
      WHERE l_orderkey = o_orderkey
        AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority
    """,
)
def q_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (order priority checking): count orders per
    priority having at least one line shipped >60 days after the order
    date.  The correlated EXISTS becomes a LEFT SEMI join with a
    non-equi residual on the equi key — one shuffle, no duplication of
    multi-line orders, and the semi join short-circuits per key.
    """
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        o.join(
            li,
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@register(
    "q_asof_tolerance",
    oracle="""
    WITH m AS (
      SELECT l.event_id, l.user_id, l.ts, l.value, r.click_ts, r.click_value
      FROM (SELECT event_id, user_id, ts, value
            FROM events WHERE event_type = 'purchase') l
      ASOF LEFT JOIN (SELECT user_id AS r_user, ts AS click_ts, MAX(value) AS click_value
                      FROM events WHERE event_type = 'click'
                      GROUP BY user_id, ts) r
        ON l.user_id = r.r_user AND l.ts >= r.click_ts
    )
    SELECT event_id, user_id, ts, value,
      CASE WHEN click_ts >= ts - INTERVAL 1 HOUR THEN click_ts END AS click_ts,
      CASE WHEN click_ts >= ts - INTERVAL 1 HOUR THEN click_value END AS click_value
    FROM m
    """,
)
def q_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a staleness tolerance: a prior click older than
    1 hour is no match (attribution windows expire).  Tolerance is a
    pure post-projection over the tolerance-free as-of result — the
    plan (one window pass, no join node) is unchanged, so the scale
    properties of q_asof_join carry over verbatim."""
    base = q_asof_join(spark, sf_dir)
    fresh = F.col("click_ts") >= F.col("ts") - F.expr("INTERVAL 1 HOUR")
    return base.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.when(fresh, F.col("click_ts")).alias("click_ts"),
        F.when(fresh, F.col("click_value")).alias("click_value"),
    )


@register(
    "q_event_funnel",
    oracle="""
    WITH s AS (
      SELECT user_id, ts, event_type, event_id,
        min(CASE WHEN event_type = 'view' THEN ts END) OVER w AS v1
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING)
    ),
    s2 AS (
      SELECT *, min(CASE WHEN event_type = 'click' AND v1 IS NOT NULL
                          AND ts > v1 THEN ts END) OVER w AS c1
      FROM s
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING)
    ),
    s3 AS (
      SELECT *, min(CASE WHEN event_type = 'purchase' AND c1 IS NOT NULL
                          AND ts > c1 THEN ts END) OVER w AS p1
      FROM s2
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING)
    ),
    u AS (
      SELECT user_id, min(v1) AS t1, min(c1) AS t2, min(p1) AS t3
      FROM s3 GROUP BY user_id
    )
    SELECT COUNT(*) AS n_users, COUNT(t1) AS n_viewed,
      COUNT(t2) AS n_clicked, COUNT(t3) AS n_purchased
    FROM u
    """,
)
def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (view → click after it → purchase
    after that) per user, reduced to stage counts — the product-
    analytics query sessionization exists to serve.

    Plan: ONE shuffle (partition by user) and ONE sort feed all three
    chained cumulative-min windows (Catalyst stacks the Window nodes
    on the shared sort order — no re-exchange, no self-joins; the
    naive formulation is three join-backs of per-stage aggregates).
    Strictly-after semantics compare VALUES, not row positions, so
    equal-timestamp edges resolve identically in both engines under
    the event_id tie-broken order."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type", "event_id"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.asc_nulls_last("ts"), "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    typ = F.col("event_type")
    s = e.withColumn("v1", F.min(F.when(typ == "view", F.col("ts"))).over(w))
    s = s.withColumn(
        "c1",
        F.min(
            F.when(
                (typ == "click") & F.col("v1").isNotNull() & (F.col("ts") > F.col("v1")),
                F.col("ts"),
            )
        ).over(w),
    )
    s = s.withColumn(
        "p1",
        F.min(
            F.when(
                (typ == "purchase")
                & F.col("c1").isNotNull()
                & (F.col("ts") > F.col("c1")),
                F.col("ts"),
            )
        ).over(w),
    )
    u = s.groupBy("user_id").agg(
        F.min("v1").alias("t1"), F.min("c1").alias("t2"), F.min("p1").alias("t3")
    )
    return u.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("t1").alias("n_viewed"),
        F.count("t2").alias("n_clicked"),
        F.count("t3").alias("n_purchased"),
    )


@register(
    "q_retention_cohorts",
    oracle="""
    WITH act AS (
      SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk
      FROM events
    ),
    coh AS (SELECT user_id, MIN(wk) AS cohort_week FROM act GROUP BY user_id)
    SELECT cohort_week,
      CAST(date_diff('day', cohort_week, wk) // 7 AS BIGINT) AS week_offset,
      COUNT(DISTINCT act.user_id) AS n_users
    FROM act JOIN coh ON act.user_id = coh.user_id
    GROUP BY cohort_week, week_offset
    """,
)
def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts: users grouped by their first active
    week, counted in each later week they return — the cohort
    triangle behind every retention dashboard.

    Plan: the distinct (user, week) activity table is the only pass
    over raw events; the cohort (min week per user) joins back on
    user_id — a join between two ALREADY-AGGREGATED user-sized
    tables, not a second event scan.  Week offsets are day
    differences / 7 on week-truncated DATEs (both engines truncate to
    Monday; DuckDB's date_diff('week') counts boundary crossings and
    is avoided)."""
    e = load_table(spark, sf_dir, "events")
    # act feeds the cohort aggregate AND the join
    act = (
        e.select("user_id", F.date_trunc("week", F.col("ts")).cast("date").alias("wk"))
        .distinct()
        # A/B: sf1 q_retention_cohorts 1.35 s with it vs 1.46 s without (IQR 0.10,
        # 4/5 pairs); sf0.1 0.41 vs 0.45 s (IQR 0.06): no loss
        .localCheckpoint(eager=False)
    )
    coh = act.groupBy("user_id").agg(F.min("wk").alias("cohort_week"))
    return (
        act.join(coh, "user_id")
        .groupBy(
            "cohort_week",
            F.floor(F.datediff(F.col("wk"), F.col("cohort_week")) / 7)
            .cast("bigint")
            .alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


@register(
    "q_event_transitions",
    oracle="""
    WITH s AS (
      SELECT user_id, event_type,
        lead(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS next_type
      FROM events
    )
    SELECT event_type, next_type, COUNT(*) AS n
    FROM s WHERE next_type IS NOT NULL
    GROUP BY event_type, next_type
    """,
)
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event transition matrix: counts of consecutive
    (event_type → next event_type) pairs per user — the first-order
    Markov view of user behavior (feeds journey analysis and anomaly
    scoring).

    Plan: one user-partitioned sort, one lead() window, one hash
    aggregate over a 25-cell domain — partial-aggregated map-side, so
    the post-window shuffle carries at most |types|² rows per task.
    The (ts, event_id) order is a total order, so the successor of
    every event is deterministic in both engines."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc_nulls_last("ts"), "event_id")
    s = e.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    )
    return (
        s.filter(F.col("next_type").isNotNull())
        .groupBy("event_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


_SLIDE_MICROS = 600 * 1_000_000  # 10-minute slide, 30-minute window


@register(
    "q_sliding_active_users",
    oracle=f"""
    WITH x AS (
      SELECT user_id, epoch_us(ts) AS us FROM events
    ),
    sl AS (
      SELECT user_id,
        make_timestamp((us // {_SLIDE_MICROS} - k) * {_SLIDE_MICROS}) AS slot
      FROM x CROSS JOIN (SELECT unnest([0, 1, 2]) AS k) t
    )
    SELECT slot, COUNT(DISTINCT user_id) AS n_active
    FROM sl GROUP BY slot
    """,
)
def q_sliding_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window distinct users (30-minute window, 10-minute
    slide): the rolling active-user series — B32's batch twin with an
    EXACT distinct count, which streaming sliding windows approximate.

    Plan: each event explodes into the 3 slots whose window covers it
    (the same window-explode decomposition Spark's own F.window uses),
    then one distinct-aggregate shuffle keyed by slot.  Slot
    arithmetic is integer division on epoch micros in both engines —
    no float boundary risk."""
    e = load_table(spark, sf_dir, "events")
    k = F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("k")
    sl = e.select("user_id", F.unix_micros(F.col("ts")).alias("us")).select(
        "user_id", "us", k
    )
    # an event at t lies in the 30-min windows STARTING at
    # (t div slide − k)·slide for k ∈ {0,1,2} — the label is the window
    # start, matching F.window / streaming sliding_counts.  (An earlier
    # form added k, labeling windows by their LAST slide — 20 minutes
    # off from the streaming twin on every row; review-caught, oracle
    # mirrored the same bug so the gate couldn't see it.)
    slot = F.timestamp_micros(
        (F.expr(f"us div {_SLIDE_MICROS}") - F.col("k")) * F.lit(_SLIDE_MICROS)
    )
    return (
        sl.select("user_id", slot.alias("slot"))
        .groupBy("slot")
        .agg(F.countDistinct("user_id").alias("n_active"))
    )


@register(
    "q_gap_fill",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
        {sql_dsum('o_totalprice', '14,2')} AS revenue
      FROM orders GROUP BY CAST(o_orderdate AS DATE)
    ),
    b AS (SELECT MIN(day) AS mn, MAX(day) AS mx FROM daily),
    spine AS (
      SELECT CAST(unnest(generate_series(
        (SELECT mn FROM b), (SELECT mx FROM b), INTERVAL 1 DAY)) AS DATE) AS day
    )
    SELECT spine.day, COALESCE(daily.revenue, 0.0) AS revenue,
      daily.day IS NULL AS was_missing
    FROM spine LEFT JOIN daily USING (day)
    """,
)
def q_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling: a complete daily date spine from the
    data's own [min, max] with zero-filled revenue for days that have
    no orders — the densification step every dashboard / forecasting
    feed needs (missing days must read as 0, not as absent rows).

    Plan: daily revenue is one day-keyed aggregate (bounded by the
    date domain); the spine is generated from a one-row min/max
    aggregate (sequence + explode — no driver round-trip, the bounds
    stay in the plan); the fill join is bounded × bounded.  The fact
    scan is touched exactly once.  Revenue goes through the
    exact-decimal policy; the spine and keys are DATEs so both
    engines agree exactly."""
    o = load_table(spark, sf_dir, "orders")
    daily = _daily(o, dsum("o_totalprice", 14, 2), "revenue")
    # consumed by the spine bounds and the fill join
    # A/B: sf1 q_gap_fill 0.81 s with it vs 0.95 s without (IQR 0.10, 5/5
    # pairs); sf0.1 0.38 vs 0.43 s (IQR 0.13): no loss
    daily = daily.localCheckpoint(eager=False)
    spine = _date_spine(daily)
    # was_missing keys on join presence, not revenue nullity: a day
    # whose orders all carry NULL totals aggregates to NULL revenue but
    # IS present — the oracle tests daily.day IS NULL (review-caught)
    return spine.join(
        daily.withColumn("__present", F.lit(True)), "day", "left"
    ).select(
        "day",
        F.coalesce("revenue", F.lit(0.0)).alias("revenue"),
        F.col("__present").isNull().alias("was_missing"),
    )


@register(
    "q_interpolate",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) * 100 AS BIGINT) AS cents
      FROM orders
      WHERE o_orderpriority = '1-URGENT'
      GROUP BY CAST(o_orderdate AS DATE)
    ),
    b AS (SELECT MIN(day) AS mn, MAX(day) AS mx FROM daily),
    spine AS (
      SELECT CAST(unnest(generate_series(
        (SELECT mn FROM b), (SELECT mx FROM b), INTERVAL 1 DAY)) AS DATE) AS day
    ),
    j AS (SELECT spine.day, daily.cents FROM spine LEFT JOIN daily USING (day)),
    n AS (
      SELECT day, cents,
        last_value(cents IGNORE NULLS) OVER
          (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
        last_value(CASE WHEN cents IS NOT NULL THEN day END IGNORE NULLS) OVER
          (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
        first_value(cents IGNORE NULLS) OVER
          (ORDER BY day ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
        first_value(CASE WHEN cents IS NOT NULL THEN day END IGNORE NULLS) OVER
          (ORDER BY day ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
      FROM j
    )
    SELECT day, cents IS NULL AS interpolated,
      CASE
        WHEN cents IS NOT NULL THEN CAST(cents AS DOUBLE) / 100.0
        WHEN pv IS NULL THEN CAST(nv AS DOUBLE) / 100.0
        WHEN nv IS NULL THEN CAST(pv AS DOUBLE) / 100.0
        ELSE CAST(pv * (datediff('day', pd, nd) - datediff('day', pd, day))
                  + nv * datediff('day', pd, day) AS DOUBLE)
             / CAST(datediff('day', pd, nd) * 100 AS DOUBLE)
      END AS revenue_filled
    FROM n
    """,
)
def q_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series linear interpolation over the date spine: missing
    days take the straight line between the nearest observed values on
    either side (edges carry the nearest neighbor) — q_gap_fill's
    zero-fill sibling for quantities where 0 is wrong (rates, prices,
    gauge metrics).

    Plan: the window is GLOBAL by construction but runs over the DATE
    SPINE, whose row count is the calendar span — bounded by the date
    domain, not the fact table (the documented exception to the
    no-global-window rule, same as q_gap_fill's spine join).  The
    fact table itself is reduced to |days| rows by a keyed aggregate
    before any window sees it.  The spine comes from the series
    itself: each observed day explodes through the day before the next
    one (a lead over the |days| rows), so the aggregate has ONE
    consumer and orders is scanned once — no bounds branch to
    recompute it, no checkpoint to share it.

    Determinism: interpolated revenue is computed ENTIRELY in integer
    cents — pv·(den−num) + nv·num over exact bigints — with a single
    final int/int double division.  A float formula
    (pv + (nv−pv)·frac) measurably diverges between engines at
    rounding boundaries because midpoints of 2dp values land exactly
    on .xxx5: the first attempt differed by 1e-4 on 4 of 2406 days."""
    o = load_table(spark, sf_dir, "orders")
    daily = _daily(
        o.filter(F.col("o_orderpriority") == "1-URGENT"), _cents("o_totalprice"), "cents"
    )
    nxt = daily.withColumn("nxt", F.lead("day").over(Window.orderBy(F.asc_nulls_last("day"))))
    last = F.coalesce(F.date_sub("nxt", 1), F.col("day"))
    j = nxt.select(
        F.posexplode(F.sequence("day", last, F.expr("interval 1 day"))).alias("i", "day"),
        "cents",
    ).select("day", F.when(F.col("i") == 0, F.col("cents")).alias("cents"))
    wb = Window.orderBy(F.asc_nulls_last("day")).rowsBetween(Window.unboundedPreceding, 0)
    wf = Window.orderBy(F.asc_nulls_last("day")).rowsBetween(0, Window.unboundedFollowing)
    obs_day = F.when(F.col("cents").isNotNull(), F.col("day"))
    n = j.select(
        "day",
        "cents",
        F.last("cents", ignorenulls=True).over(wb).alias("pv"),
        F.last(obs_day, ignorenulls=True).over(wb).alias("pd"),
        F.first("cents", ignorenulls=True).over(wf).alias("nv"),
        F.first(obs_day, ignorenulls=True).over(wf).alias("nd"),
    )
    num = F.datediff("day", "pd").cast("bigint")
    den = F.datediff("nd", "pd").cast("bigint")
    interp_cents = F.col("pv") * (den - num) + F.col("nv") * num
    return n.select(
        "day",
        F.col("cents").isNull().alias("interpolated"),
        F.when(F.col("cents").isNotNull(), F.col("cents").cast("double") / 100.0)
        .when(F.col("pv").isNull(), F.col("nv").cast("double") / 100.0)
        .when(F.col("nv").isNull(), F.col("pv").cast("double") / 100.0)
        .otherwise(interp_cents.cast("double") / (den * 100).cast("double"))
        .alias("revenue_filled"),
    )


@register(
    "q_cusum",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
        {sql_dsum('o_totalprice', '14,2')} AS rev
      FROM orders GROUP BY CAST(o_orderdate AS DATE)
    ),
    mu AS (
      SELECT round(CAST(SUM(CAST(rev AS DECIMAL(16,2))) AS DOUBLE)
                   / COUNT(*), 4) AS mean_rev
      FROM daily
    ),
    c AS (
      SELECT day, rev, mean_rev,
        SUM(rev - mean_rev) OVER
          (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
      FROM daily CROSS JOIN mu
    )
    SELECT day, round(s, 4) AS cusum,
      round(MAX(s) OVER
        (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - s,
        4) AS drawdown
    FROM c
    """,
)
def q_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint trace over daily revenue: the cumulative sum
    of deviations from the corpus mean, plus the drawdown from its
    running maximum — the classic level-shift detector (a sustained
    drop shows as a growing drawdown long before any single day is
    anomalous; q_mad_outliers catches spikes, this catches shifts).

    Plan: the fact table reduces to |days| rows in one keyed
    aggregate; the mean is a 1-row broadcast; both windows run over
    the bounded spine (the documented date-domain exception).
    Determinism: daily revenues are decimal-exact doubles; the mean
    divides a decimal-exact sum by an int (rounded 4dp once); the
    running sum accumulates IN FRAME ORDER — the same sequence of
    float adds in both engines — so only the output guard rounding is
    needed."""
    o = load_table(spark, sf_dir, "orders")
    daily = _daily(o, dsum("o_totalprice", 14, 2), "rev")
    # consumed by the mean and the trace
    # A/B: sf0.1 q_cusum 0.42 s with it vs 0.47 s without (IQR 0.05, 3/5
    # pairs); sf1 1.12 vs 1.05 s (IQR 0.14): no loss
    daily = daily.localCheckpoint(eager=False)
    mu = daily.agg(
        F.round(
            F.sum(F.col("rev").cast("decimal(16,2)")).cast("double")
            / F.count(F.lit(1)),
            4,
        ).alias("mean_rev")
    )
    wrun = Window.orderBy(F.asc_nulls_last("day")).rowsBetween(Window.unboundedPreceding, 0)
    c = daily.join(F.broadcast(mu)).select(
        "day", F.sum(F.col("rev") - F.col("mean_rev")).over(wrun).alias("s")
    )
    return c.select(
        "day",
        F.round("s", 4).alias("cusum"),
        F.round(F.max("s").over(wrun) - F.col("s"), 4).alias("drawdown"),
    )


@register(
    "q_cumulative_users",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS d0 FROM events GROUP BY user_id
    ),
    daily_new AS (
      SELECT d0 AS day, COUNT(*) AS new_users FROM first_seen GROUP BY d0
    )
    SELECT day, new_users,
      CAST(SUM(new_users) OVER
        (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        AS BIGINT) AS cumulative_users
    FROM daily_new
    """,
)
def q_cumulative_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth accounting: per day, the count of FIRST-SEEN users and
    the running cumulative total — the user-growth curve every product
    dashboard leads with.  Distinct-over-expanding-window is computed
    as first-occurrence attribution (one groupBy per user) + a running
    INT sum, never as count(distinct) per window frame, which would
    re-scan every prefix.

    Plan: one user-keyed aggregate (the only data-scaled shuffle),
    one day-keyed count (bounded by the date domain), and a running
    sum over the bounded spine (the date-domain exception).  Integer
    counts make every value exact — no float policy needed."""
    ev = load_table(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("d0")
    )
    daily_new = first_seen.groupBy(F.col("d0").alias("day")).agg(
        F.count(F.lit(1)).alias("new_users")
    )
    w = Window.orderBy(F.asc_nulls_last("day")).rowsBetween(Window.unboundedPreceding, 0)
    return daily_new.select(
        "day", "new_users", F.sum("new_users").over(w).alias("cumulative_users")
    )


@register(
    "q_seasonality_profile",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
        {sql_dsum('o_totalprice', '14,2')} AS rev
      FROM orders GROUP BY CAST(o_orderdate AS DATE)
    ),
    dow AS (
      SELECT CAST(dayofweek(day) AS INTEGER) AS weekday,
        CAST(SUM(CAST(rev AS DECIMAL(16,2))) AS DOUBLE) AS total,
        COUNT(*) AS n_days
      FROM daily GROUP BY dayofweek(day)
    ),
    overall AS (
      SELECT CAST(SUM(CAST(rev AS DECIMAL(16,2))) AS DOUBLE)
               / COUNT(*) AS mean_rev
      FROM daily
    )
    SELECT weekday, n_days,
      round(total / n_days, 4) AS mean_day_rev,
      round((total / n_days) / mean_rev, 6) AS seasonal_index
    FROM dow CROSS JOIN overall
    """,
)
def q_seasonality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality profile: mean revenue per weekday and
    its index against the overall daily mean (index > 1 ⇒ that
    weekday runs hot) — the first thing a forecaster extracts before
    modeling residuals, and the q_autocorr reading made actionable.

    Plan: |days| rows after the keyed aggregate, then a 7-group
    aggregate and a 1-row overall mean broadcast — seven rows over
    the network at any scale.  Sums stay decimal-exact through both
    levels (the q_rollup_merge algebra); divisions are int-derived
    and guarded at 4/6dp.  DuckDB's dayofweek (0=Sunday) matches
    Spark's dayofweek − 1, aligned explicitly."""
    o = load_table(spark, sf_dir, "orders")
    daily = _daily(o, dsum("o_totalprice", 14, 2), "rev")
    dow = daily.groupBy(
        (F.dayofweek("day") - 1).cast("int").alias("weekday")
    ).agg(
        F.sum(F.col("rev").cast("decimal(16,2)")).cast("double").alias("total"),
        F.count(F.lit(1)).alias("n_days"),
    )
    overall = daily.agg(
        (
            F.sum(F.col("rev").cast("decimal(16,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mean_rev")
    )
    return dow.join(F.broadcast(overall)).select(
        "weekday",
        "n_days",
        F.round(F.col("total") / F.col("n_days"), 4).alias("mean_day_rev"),
        F.round((F.col("total") / F.col("n_days")) / F.col("mean_rev"), 6).alias(
            "seasonal_index"
        ),
    )


@register(
    "q_new_vs_returning",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS d0 FROM events GROUP BY user_id
    )
    SELECT CAST(e.ts AS DATE) AS day,
      COUNT(*) FILTER (WHERE CAST(e.ts AS DATE) = f.d0) AS new_events,
      COUNT(*) FILTER (WHERE CAST(e.ts AS DATE) > f.d0) AS returning_events,
      CAST(COUNT(DISTINCT CASE WHEN CAST(e.ts AS DATE) = f.d0
                               THEN e.user_id END) AS BIGINT) AS new_users,
      CAST(COUNT(DISTINCT CASE WHEN CAST(e.ts AS DATE) > f.d0
                               THEN e.user_id END) AS BIGINT) AS returning_users
    FROM events e JOIN first_seen f USING (user_id)
    GROUP BY CAST(e.ts AS DATE)
    """,
)
def q_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-vs-returning daily split: each day's events and users
    partitioned by whether the user's FIRST day is that day — the
    second panel of the growth dashboard (q_cumulative_users is the
    first).

    Plan: first-seen is one user-keyed aggregate; the attribution is
    an equi-join back on user_id (both sides partitioned on the same
    key — a co-located join after the aggregate's shuffle) and one
    day-keyed aggregate with conditional counts.  All integers —
    exact on both engines."""
    ev = load_table(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("d0")
    )
    day = F.col("ts").cast("date")
    is_new = day == F.col("d0")
    return (
        ev.join(first_seen, "user_id")
        .groupBy(day.alias("day"))
        .agg(
            F.count(F.when(is_new, 1)).alias("new_events"),
            F.count(F.when(~is_new, 1)).alias("returning_events"),
            F.countDistinct(F.when(is_new, F.col("user_id")))
            .cast("bigint")
            .alias("new_users"),
            F.countDistinct(F.when(~is_new, F.col("user_id")))
            .cast("bigint")
            .alias("returning_users"),
        )
    )


@register(
    "q_time_weighted_avg",
    oracle="""
    WITH seq AS (
      SELECT user_id, value,
        epoch_us(ts) AS t0,
        lead(epoch_us(ts)) OVER (
          PARTITION BY user_id ORDER BY ts, event_id) AS t1
      FROM events
    ),
    iv AS (
      SELECT user_id,
        CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
        t1 - t0 AS dur
      FROM seq WHERE t1 IS NOT NULL
    )
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_intervals,
      CAST(SUM(cents * dur) AS DOUBLE)
        / CAST(SUM(dur) AS DOUBLE) / 100.0 AS twa_value
    FROM iv GROUP BY user_id HAVING SUM(dur) > 0
    """,
)
def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user TIME-weighted average event value (TWAP shape): each
    value is held until the user's next event and weighted by that
    duration — the correct mean for sampled gauges/prices, where the
    plain average over-counts bursts of rapid events.

    Plan: one shuffle on user_id for the lead window, then a hash
    aggregate on the same key (no second exchange — the partitioning
    is reused).  Determinism: value·duration products are EXACT
    bigints (2dp cents × epoch-microsecond durations), summed exactly,
    with a single final int/int double division — the q_interpolate
    integer-arithmetic policy, so no rounding guard is needed."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc_nulls_last("ts"), "event_id")
    seq = ev.select(
        "user_id",
        (F.col("value").cast("decimal(12,2)") * 100).cast("bigint").alias("cents"),
        F.unix_micros("ts").alias("t0"),
        F.lead(F.unix_micros("ts")).over(w).alias("t1"),
    ).filter(F.col("t1").isNotNull())
    iv = seq.select("user_id", "cents", (F.col("t1") - F.col("t0")).alias("dur"))
    return (
        iv.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_intervals"),
            (
                # cents·µs products sum past int64 once a user's span
                # grows (~1.9e16 at sf0.01 already, measured): sum in
                # DECIMAL(38,0) — exact like the oracle's HUGEINT —
                # instead of wrapping silently under ANSI-off int64
                F.sum((F.col("cents") * F.col("dur")).cast("decimal(38,0)"))
                .cast("double")
                / F.sum("dur").cast("double")
                / 100.0
            ).alias("twa_value"),
            F.sum("dur").alias("total_dur"),
        )
        .filter(F.col("total_dur") > 0)
        .select("user_id", "n_intervals", "twa_value")
    )


@register(
    "q_rolling_bands",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
        {sql_dsum('o_totalprice', '14,2')} AS rev
      FROM orders GROUP BY CAST(o_orderdate AS DATE)
    ),
    b AS (
      SELECT day, rev,
        round(avg(rev) OVER w, 4) AS ma,
        round(stddev_samp(rev) OVER w, 4) AS sd,
        COUNT(*) OVER w AS n_window
      FROM daily
      WINDOW w AS (ORDER BY day ROWS BETWEEN 27 PRECEDING AND 1 PRECEDING)
    )
    SELECT day, rev, ma, sd,
      rev > ma + 2 * sd AS above_band,
      rev < ma - 2 * sd AS below_band
    FROM b WHERE n_window >= 14
    """,
)
def q_rolling_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling anomaly bands: each day's revenue against the TRAILING
    28-day mean ± 2σ (the window excludes the current day so the
    tested value never contaminates its own baseline) — the
    contextual-anomaly monitor that completes the family: q_mad_outliers
    flags global point outliers, q_cusum flags level shifts, this
    flags days abnormal RELATIVE TO THEIR OWN recent trend.  Days with
    under 14 trailing observations are withheld (cold-start guard).

    Plan: the fact table reduces to |days| rows first; the rolling
    window runs on the bounded spine (the date-domain exception).
    Mean and stddev round at 4dp (windowed single-pass accumulation
    ulps — the q_stats_agg policy applied per frame); the band compare
    then operates on identical doubles in both engines."""
    o = load_table(spark, sf_dir, "orders")
    daily = _daily(o, dsum("o_totalprice", 14, 2), "rev")
    w = Window.orderBy(F.asc_nulls_last("day")).rowsBetween(-27, -1)
    b = daily.select(
        "day",
        "rev",
        F.round(F.avg("rev").over(w), 4).alias("ma"),
        F.round(F.stddev_samp("rev").over(w), 4).alias("sd"),
        F.count(F.lit(1)).over(w).alias("n_window"),
    ).filter(F.col("n_window") >= 14)
    return b.select(
        "day",
        "rev",
        "ma",
        "sd",
        (F.col("rev") > F.col("ma") + 2 * F.col("sd")).alias("above_band"),
        (F.col("rev") < F.col("ma") - 2 * F.col("sd")).alias("below_band"),
    )


@register(
    "q_ts_similarity",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) * 100 AS BIGINT) AS cents
      FROM orders GROUP BY 1
    ),
    bounds AS (SELECT MIN(day) AS mn, MAX(day) AS mx FROM daily),
    spine AS (
      SELECT CAST(unnest(generate_series(mn, mx, INTERVAL 1 DAY)) AS DATE) AS day
      FROM bounds
    ),
    series AS (
      SELECT day, CAST(COALESCE(cents, 0) AS DOUBLE) AS c
      FROM spine LEFT JOIN daily USING (day)
    ),
    packed AS (
      SELECT list(c ORDER BY day) AS L, list(day ORDER BY day) AS D FROM series
    ),
    wins AS (
      SELECT D[i] AS start_day, list_slice(L, i, i + 6) AS w
      FROM packed, (SELECT unnest(generate_series(
        1, (SELECT length(L) - 6 FROM packed))) AS i) t
    ),
    stats AS (
      SELECT start_day, w,
        list_reduce(list_prepend(CAST(0 AS DOUBLE), w), (a, b) -> a + b)
          / 7.0 AS mu,
        list_reduce(list_prepend(CAST(0 AS DOUBLE),
                                 list_transform(w, x -> x * x)),
                    (a, b) -> a + b) / 7.0 AS m2
      FROM wins
    ),
    z AS (
      SELECT start_day,
        list_transform(w, x ->
          CASE WHEN m2 - mu * mu > 0
               THEN (x - mu) / sqrt(m2 - mu * mu) ELSE CAST(0 AS DOUBLE) END)
          AS zw
      FROM stats
    ),
    q AS (SELECT zw AS qz FROM z WHERE start_day = DATE '1995-06-01')
    SELECT start_day,
      round(sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        list_transform(generate_series(1, 7),
                       j -> (zw[j] - qz[j]) * (zw[j] - qz[j]))),
        (a, b) -> a + b)), 6) AS zdist
    FROM z CROSS JOIN q
    ORDER BY sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        list_transform(generate_series(1, 7),
                       j -> (zw[j] - qz[j]) * (zw[j] - qz[j]))),
        (a, b) -> a + b)), start_day
    LIMIT 5
    """,
)
def q_ts_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series subsequence similarity search (the streaming-
    similarity EDBT'19 problem in batch form, UCR-style z-normalized
    Euclidean — public): find the 5 daily-revenue weeks most similar in
    SHAPE to the week starting 1995-06-01, scale/offset invariant via
    per-window z-normalization.

    Plan: the fact table is reduced to |days| rows by ONE keyed
    aggregate — the only data-scaled stage; the zero-filled spine,
    the 7 lead() columns that form each window, the z-normalization
    and the distance fold all run on the BOUNDED calendar domain
    (the documented spine exception to the no-global-window rule).
    The query window is one broadcast row; top-5 is
    TakeOrderedAndProject.  At 100 TB nothing changes: series length
    is calendar days, not fact rows.

    Determinism: revenue goes through the exact-DECIMAL-cents policy;
    every double op after that (mu, var = m2 − mu², z, the (za−zb)²
    left fold in ELEMENT ORDER, and IEEE-exact sqrt) is the same
    expression in the same order on both engines, so distances are
    bit-identical and the top-5 cut is stable; σ = 0 (constant/empty
    weeks against the zero-filled spine) maps z to 0 on both sides."""
    o = load_table(spark, sf_dir, "orders")
    daily = _daily(o, _cents("o_totalprice"), "cents")
    # consumed by the spine bounds and the series join
    # A/B: this site alone, 6 rotated pairs: sf0.1 0.786 s with it vs
    # 0.916 s without (IQR 0.067, 5/6); sf1 1.292 vs 1.409 s (IQR 0.179):
    # no loss.  The same sweep's identical-code control moved 0.10 s
    daily = daily.localCheckpoint(eager=False)
    spine = _date_spine(daily)
    series = spine.join(daily, "day", "left").select(
        "day", F.coalesce("cents", F.lit(0)).cast("double").alias("c")
    )
    wspec = Window.orderBy(F.asc_nulls_last("day"))
    arr = F.array(*[F.lead("c", j).over(wspec) for j in range(7)])
    wins = (
        series.select(F.col("day").alias("start_day"), arr.alias("w"))
        .filter(F.element_at("w", 7).isNotNull())
    )
    mu = F.aggregate("w", F.lit(0.0), lambda a, b: a + b) / F.lit(7.0)
    m2 = (
        F.aggregate("w", F.lit(0.0), lambda a, x: a + x * x) / F.lit(7.0)
    )
    stats = wins.select("start_day", "w", mu.alias("mu"), m2.alias("m2"))
    var = F.col("m2") - F.col("mu") * F.col("mu")
    zw = F.transform(
        "w",
        lambda x: F.when(var > 0, (x - F.col("mu")) / F.sqrt(var)).otherwise(
            F.lit(0.0)
        ),
    )
    z = stats.select("start_day", zw.alias("zw"))
    q = z.filter(F.col("start_day") == F.lit("1995-06-01").cast("date")).select(
        F.col("zw").alias("qz")
    )
    d2 = F.aggregate(
        F.zip_with("zw", "qz", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda a, b: a + b,
    )
    return (
        z.crossJoin(F.broadcast(q))
        .select("start_day", F.sqrt(d2).alias("d"))
        .orderBy(F.asc_nulls_last("d"), "start_day")
        .limit(5)
        .select("start_day", F.round("d", 6).alias("zdist"))
    )


# ---------------------------------------------------------------- OHLC bars


@register(
    "q_ohlc_bars",
    oracle="""
    SELECT date_trunc('month', o_orderdate)::DATE AS month,
      (min(struct_pack(ts := o_orderdate, k := o_orderkey,
                       p := o_totalprice))).p AS open_price,
      min(o_totalprice) AS low_price,
      max(o_totalprice) AS high_price,
      (max(struct_pack(ts := o_orderdate, k := o_orderkey,
                       p := o_totalprice))).p AS close_price,
      CAST(COUNT(*) AS BIGINT) AS n_orders,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS volume
    FROM orders GROUP BY 1
    """,
)
def q_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly OHLC candlestick bars over the order stream — the
    classic downsampling shape for any metered/priced event feed
    (financial bars, telemetry rollups, training-loss curves).

    Open/close are the struct-min/-max trick: ``min(struct(ts, key,
    price))`` picks the lexicographically earliest (ts, key) pair and
    carries its price along — ONE hash aggregate with map-side
    partials, no window sort, no self-join, so the plan is a single
    shuffle keyed on the bounded month domain and survives any scale.
    The (ts, orderkey) pair is a total order, so open/close are
    deterministic even with many orders on one timestamp; DuckDB
    compares ``struct_pack`` fields in the same field order.  Volume
    goes through the exact-decimal policy (functions/exact.py)."""
    o = load_table(spark, sf_dir, "orders")
    pick = F.struct(
        F.col("o_orderdate").alias("ts"),
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").alias("p"),
    )
    return (
        o.groupBy(F.date_trunc("month", "o_orderdate").cast("date").alias("month"))
        .agg(
            F.min(pick)["p"].alias("open_price"),
            F.min("o_totalprice").alias("low_price"),
            F.max("o_totalprice").alias("high_price"),
            F.max(pick)["p"].alias("close_price"),
            F.count("*").alias("n_orders"),
            dsum("o_totalprice", 14, 2).alias("volume"),
        )
    )


# ---------------------------------------------------------------- VWAP


@register(
    "q_vwap",
    oracle="""
    SELECT date_trunc('month', l_shipdate)::DATE AS month,
      CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
               * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
        / CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS vwap
    FROM lineitem GROUP BY 1
    """,
)
def q_vwap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-weighted average price per ship month.

    Both the price×quantity numerator and the quantity denominator are
    DECIMAL sums (exact, associative, order-insensitive — the 2-dp
    inputs round-trip DECIMAL exactly, and decimal×decimal widens
    without loss), so map-side partial aggregation is safe and the
    final double division is bitwise identical on both engines.  One
    hash aggregate on the bounded month domain — no window, no
    shuffle beyond the agg exchange."""
    li = load_table(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("decimal(12,2)")
    px = F.col("l_extendedprice").cast("decimal(12,2)")
    return (
        li.groupBy(F.date_trunc("month", "l_shipdate").cast("date").alias("month"))
        .agg(
            F.sum(qty).cast("double").alias("total_qty"),
            (F.sum(px * qty).cast("double") / F.sum(qty).cast("double")).alias("vwap"),
        )
    )


# ---------------------------------------------------------------- EWMA


_EWMA_ALPHA = 0.6
_EWMA_K = 8  # truncation depth: alpha*(1-alpha)^8 < 0.0005 of the mass


@register(
    "q_ewma",
    oracle=f"""
    WITH daily AS (
      SELECT EXTRACT(year FROM o_orderdate) AS yr,
             o_orderdate::DATE AS day,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) * 100 AS BIGINT)
               AS rev_cents
      FROM orders GROUP BY 1, 2
    ),
    lagged AS (
      SELECT yr, day, rev_cents,
        {", ".join(
            f"lag(rev_cents, {j}) OVER (PARTITION BY yr ORDER BY day) AS x{j}"
            for j in range(1, _EWMA_K)
        )}
      FROM daily
    )
    SELECT day, rev_cents,
      ({" + ".join(
          f"CASE WHEN x{j} IS NULL THEN CAST(0.0 AS DOUBLE) ELSE "
          f"CAST({_EWMA_ALPHA * (1 - _EWMA_ALPHA) ** j !r} AS DOUBLE)"
          f" * CAST(x{j} AS DOUBLE) END"
          for j in range(1, _EWMA_K)
      )} + CAST({_EWMA_ALPHA!r} AS DOUBLE) * CAST(rev_cents AS DOUBLE))
      /
      ({" + ".join(
          f"CASE WHEN x{j} IS NULL THEN CAST(0.0 AS DOUBLE) ELSE "
          f"CAST({_EWMA_ALPHA * (1 - _EWMA_ALPHA) ** j !r} AS DOUBLE) END"
          for j in range(1, _EWMA_K)
      )} + CAST({_EWMA_ALPHA!r} AS DOUBLE)) AS ewma
    FROM lagged
    """,
)
def q_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated exponentially-weighted moving average of daily
    revenue — the standard smoothing pass for metric dashboards and
    training-curve monitoring.

    The recursive EWMA is re-expressed as a K-term finite impulse
    response (alpha*(1-alpha)^j weights, K=8 keeps >99.9% of the
    mass): a single window pass producing K-1 LAGs, then one fixed
    arithmetic expression.  The fixed expression tree means the float
    additions happen in the same order on both engines — bitwise
    deterministic, unlike a SUM over a frame.  The window partitions
    by YEAR, so no task ever sorts more than one year of the bounded
    daily aggregate (the unpartitioned ORDER BY would be the
    single-task scale-killer the round-3 verdict flagged elsewhere);
    lag gaps at year starts fall back to renormalized weights via the
    NULL-guarded denominator."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.year("o_orderdate").alias("yr"),
        F.col("o_orderdate").cast("date").alias("day"),
    ).agg(_cents("o_totalprice").alias("rev_cents"))
    w = Window.partitionBy("yr").orderBy(F.asc_nulls_last("day"))
    lags = [F.lag("rev_cents", j).over(w).alias(f"x{j}") for j in range(1, _EWMA_K)]
    lagged = daily.select("yr", "day", "rev_cents", *lags)
    # accumulate in the SAME left-associative order as the oracle SQL
    # (w1 + w2 + ... + alpha-term): float addition is not associative,
    # so a different grouping would diverge bitwise
    num = None
    den = None
    for j in range(1, _EWMA_K):
        wj = _EWMA_ALPHA * (1 - _EWMA_ALPHA) ** j
        xj = F.col(f"x{j}")
        nterm = F.when(xj.isNull(), F.lit(0.0)).otherwise(F.lit(wj) * xj.cast("double"))
        dterm = F.when(xj.isNull(), F.lit(0.0)).otherwise(F.lit(wj))
        num = nterm if num is None else num + nterm
        den = dterm if den is None else den + dterm
    num = num + F.lit(_EWMA_ALPHA) * F.col("rev_cents").cast("double")
    den = den + F.lit(_EWMA_ALPHA)
    return lagged.select("day", "rev_cents", (num / den).alias("ewma"))


# ------------------------------------------------------ interval merging


_IVL_US = 300 * 1_000_000  # each event claims a 5-minute interval


@register(
    "q_interval_merge",
    oracle=f"""
    WITH iv AS (
      SELECT user_id, event_id,
        epoch_us(ts) AS s,
        epoch_us(ts) + {_IVL_US} AS e
      FROM events WHERE ts IS NOT NULL
    ),
    g AS (
      SELECT user_id, event_id, s, e,
        CASE WHEN s > coalesce(max(e) OVER (
               PARTITION BY user_id ORDER BY s, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             -9223372036854775808)
             THEN 1 ELSE 0 END AS is_new
      FROM iv
    ),
    isl AS (
      SELECT user_id, s, e,
        SUM(is_new) OVER (PARTITION BY user_id ORDER BY s, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          AS island
      FROM g
    ),
    merged AS (
      SELECT user_id, island,
        MIN(s) AS ms, MAX(e) AS me, CAST(COUNT(*) AS BIGINT) AS n_raw
      FROM isl GROUP BY user_id, island
    )
    SELECT user_id,
      CAST(COUNT(*) AS BIGINT) AS n_merged,
      CAST(SUM(n_raw) AS BIGINT) AS n_raw,
      CAST(SUM(me - ms) AS BIGINT) AS covered_us
    FROM merged GROUP BY user_id
    """,
)
def q_interval_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval union (gaps-and-islands merge): every event claims a
    5-minute interval; overlapping intervals per user are coalesced
    and the covered time summed — the utilization/uptime shape
    (machine busy-time, user active-time, span coverage of a
    training-data provenance log).

    Classic two-window island numbering: an interval starts a new
    island iff its start exceeds the running max end of all PRECEDING
    intervals (not just the previous one — chained overlaps!), then a
    running sum of the start flags numbers islands.  Both windows and
    the island aggregate share the (user)×(start, …) ordering so
    Catalyst plans one Exchange+Sort; all arithmetic is integer epoch
    micros, exact in both engines.  Windows partition per user —
    state O(1), no global sort anywhere."""
    # a timestamp-less event claims no interval: drop explicitly, in
    # both engines — otherwise NULL starts sort FIRST in Spark and
    # LAST in DuckDB and island membership diverges
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    iv = ev.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("s"),
        (F.unix_micros("ts") + _IVL_US).alias("e"),
    )
    order = Window.partitionBy("user_id").orderBy("s", "event_id")
    prevmax = order.rowsBetween(Window.unboundedPreceding, -1)
    g = iv.select(
        "user_id",
        "event_id",
        "s",
        "e",
        F.when(
            F.col("s")
            > F.coalesce(F.max("e").over(prevmax), F.lit(-(1 << 63))),
            1,
        )
        .otherwise(0)
        .alias("is_new"),
    )
    # the island cumsum MUST share the (s, event_id) total order of the
    # flag window: ordering by (s, e) ties on same-timestamp events and
    # the tie order would decide which island a row lands in
    running = Window.partitionBy("user_id").orderBy("s", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    isl = g.withColumn("island", F.sum("is_new").over(running))
    merged = isl.groupBy("user_id", "island").agg(
        F.min("s").alias("ms"), F.max("e").alias("me"), F.count("*").alias("n_raw")
    )
    return merged.groupBy("user_id").agg(
        F.count("*").alias("n_merged"),
        F.sum("n_raw").alias("n_raw"),
        F.sum(F.col("me") - F.col("ms")).alias("covered_us"),
    )


@register(
    "q_max_concurrent",
    oracle="""
    WITH iv AS (
      SELECT CAST(o_orderdate AS DATE) AS s,
        CAST(o_orderdate AS DATE) + INTERVAL 1 DAY * (o_orderkey % 28 + 1)
          AS e
      FROM orders
    ),
    sweep AS (
      SELECT ts, SUM(delta) AS net FROM (
        SELECT s AS ts, 1 AS delta FROM iv
        UNION ALL
        SELECT CAST(e AS DATE) AS ts, -1 AS delta FROM iv
      ) GROUP BY ts
    ),
    run AS (
      SELECT ts,
        SUM(net) OVER (ORDER BY ts
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
      FROM sweep
    )
    SELECT CAST(MAX(conc) AS BIGINT) AS max_concurrent,
      MIN(ts) FILTER (WHERE conc = (SELECT MAX(conc) FROM run)) AS at_day
    FROM run
    """,
)
def q_max_concurrent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAXIMUM INTERVAL CONCURRENCY (sweep line): how many order
    fulfilment windows — [o_orderdate, o_orderdate + (key%28+1) days),
    half-open — are open at once, and the earliest day the peak is
    reached.  The classic capacity question (max concurrent sessions /
    connections / jobs), answered without the quadratic
    self-range-join: each interval contributes a +1 at its start and a
    −1 at its (exclusive) end, and concurrency at t is the running sum
    of net deltas through t.

    Half-open semantics need no tie-break ordering: aggregating BOTH
    deltas of the same day into one net value per day IS the
    end-before-start rule (an interval ending at t has already left,
    one starting at t has arrived).  All values are exact integers.

    Scale: the only data-scaled exchanges are the delta union's hash
    aggregate by day; the running sum rides the DATE-BOUNDED spine
    (the q_cumulative_users date-domain exception — |days| rows
    regardless of order count), and the final max+argmin folds in one
    1-row aggregate (max_by on the (conc, −epoch) struct gives the
    EARLIEST peak day deterministically)."""
    o = load_table(spark, sf_dir, "orders")
    s = F.col("o_orderdate").cast("date")
    e = F.date_add(s, (F.col("o_orderkey") % 28 + 1).cast("int"))
    starts = o.select(s.alias("ts"), F.lit(1).alias("delta"))
    ends = o.select(e.alias("ts"), F.lit(-1).alias("delta"))
    sweep = starts.unionAll(ends).groupBy("ts").agg(
        F.sum("delta").alias("net")
    )
    w = Window.orderBy(F.asc_nulls_last("ts")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    run = sweep.select("ts", F.sum("net").over(w).alias("conc"))
    peak = F.max(
        F.struct(
            F.col("conc"),
            (-F.unix_date(F.col("ts"))).alias("neg_day"),
        )
    )
    return run.agg(peak.alias("p")).select(
        F.col("p.conc").cast("bigint").alias("max_concurrent"),
        F.date_from_unix_date((-F.col("p.neg_day")).cast("int")).alias("at_day"),
    )


@register(
    "q_survival_km",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
        CAST(MIN(ts) AS DATE) AS f,
        CAST(MAX(ts) AS DATE) AS l,
        CAST(MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS DATE)
          AS p
      FROM events GROUP BY user_id
    ),
    dur AS (
      SELECT date_diff('day', f, COALESCE(p, l)) AS t,
        CASE WHEN p IS NOT NULL THEN 1 ELSE 0 END AS ev
      FROM per_user
    ),
    bins AS (
      SELECT t, SUM(ev) AS d, SUM(1 - ev) AS c FROM dur GROUP BY t
    ),
    tot AS (SELECT SUM(d + c) AS n_total FROM bins),
    risk AS (
      SELECT t, d, c,
        n_total - COALESCE(SUM(d + c) OVER (ORDER BY t
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
      FROM bins CROSS JOIN tot
    ),
    curve AS (
      SELECT t, d, c, n_risk,
        SUM(CASE WHEN d > 0 AND d < n_risk
                 THEN round(ln(CAST(n_risk - d AS DOUBLE) / n_risk), 6)
                 ELSE 0.0 END) OVER (ORDER BY t
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_ln,
        MAX(CASE WHEN d = n_risk THEN 1 ELSE 0 END) OVER (ORDER BY t
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS zeroed
      FROM risk
    )
    SELECT CAST(t AS BIGINT) AS t_days, CAST(n_risk AS BIGINT) AS n_risk,
      CAST(d AS BIGINT) AS d_events, CAST(c AS BIGINT) AS n_censored,
      CASE WHEN zeroed = 1 THEN 0.0 ELSE round(exp(cum_ln), 6) END
        AS survival
    FROM curve
    """,
)
def q_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KAPLAN-MEIER survival curve (Kaplan & Meier 1958, public) for
    time-to-first-purchase: per user, the duration runs from first
    event to first purchase (event observed) or to the last event
    (right-CENSORED — the user simply hasn't converted YET, which is
    exactly what naive conversion-time averages get wrong and KM
    handles).  S(t) = Π_{u ≤ t} (1 − d_u/n_u) over event times, with
    n_u = users still at risk at u.

    Determinism: d/c/n_risk are exact integers; each factor enters in
    LOG space as round(ln((n−d)/n), 6) — the 6dp-transcendental policy
    — and the cumulative sum accumulates IN FRAME ORDER (identical
    float-add sequence both engines, the q_cusum precedent); a
    d = n_risk time point zeroes the curve exactly from there on via a
    running flag instead of ln(0).

    Scale: one user-keyed aggregate (the only data-scaled shuffle),
    then everything rides the DATE-BOUNDED duration spine (|distinct
    durations| ≤ day domain — the q_cumulative_users exception) with
    running-sum windows."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("f"),
        F.max(F.col("ts").cast("date")).alias("l"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).cast("date").alias("p"),
    )
    dur = per_user.select(
        F.datediff(F.coalesce("p", "l"), F.col("f")).alias("t"),
        F.when(F.col("p").isNotNull(), 1).otherwise(0).alias("ev"),
    )
    bins = dur.groupBy("t").agg(
        F.sum("ev").alias("d"), F.sum(1 - F.col("ev")).alias("c")
    )
    tot = bins.agg(F.sum(F.col("d") + F.col("c")).alias("n_total"))
    w_prior = Window.orderBy(F.asc_nulls_last("t")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_run = Window.orderBy(F.asc_nulls_last("t")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    risk = bins.join(F.broadcast(tot)).select(
        "t",
        "d",
        "c",
        (
            F.col("n_total")
            - F.coalesce(F.sum(F.col("d") + F.col("c")).over(w_prior), F.lit(0))
        ).alias("n_risk"),
    )
    ln_term = F.when(
        (F.col("d") > 0) & (F.col("d") < F.col("n_risk")),
        F.round(
            F.log(
                (F.col("n_risk") - F.col("d")).cast("double")
                / F.col("n_risk")
            ),
            6,
        ),
    ).otherwise(F.lit(0.0))
    zero_flag = F.when(F.col("d") == F.col("n_risk"), 1).otherwise(0)
    curve = risk.select(
        "t",
        "d",
        "c",
        "n_risk",
        F.sum(ln_term).over(w_run).alias("cum_ln"),
        F.max(zero_flag).over(w_run).alias("zeroed"),
    )
    return curve.select(
        F.col("t").cast("bigint").alias("t_days"),
        F.col("n_risk").cast("bigint").alias("n_risk"),
        F.col("d").cast("bigint").alias("d_events"),
        F.col("c").cast("bigint").alias("n_censored"),
        F.when(F.col("zeroed") == 1, F.lit(0.0))
        .otherwise(F.round(F.exp(F.col("cum_ln")), 6))
        .alias("survival"),
    )
