"""Tier B — the warehouse analytics surface (SURVEY.md §2.2).

The reference ships rows into MySQL/Redshift precisely so they can be
queried (reference README.md:3,44); this module provides that query
surface natively on Spark.  Every operator is a Catalyst built-in — the
engine's optimizer work (pushdown, pruning, join selection, AQE) is free
because the plans are declared, not hand-scheduled.

Numeric policy: money aggregates go through DECIMAL (exact, order
insensitive) and cast to DOUBLE at the end — see functions/exact.py.
Window orderings always carry a unique tie-break key so results are
deterministic under any partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cdc_from_sql_and_nosql_to_data_warehouse_spark.functions.exact import (
    davg,
    dec,
    dsum,
    sql_davg,
    sql_dsum,
)
from cdc_from_sql_and_nosql_to_data_warehouse_spark.functions.grouping import (
    count_dsum_sets,
    presum_count_dsum,
)
from cdc_from_sql_and_nosql_to_data_warehouse_spark.functions.portable_hash import (
    SQL_TOKS_EXPR as _SQL_TOKS,
)
from cdc_from_sql_and_nosql_to_data_warehouse_spark.functions.parallelism import spread
from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators import register
from cdc_from_sql_and_nosql_to_data_warehouse_spark.sources.readers import load_table


def _views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    for n in names:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)


# exact decimal forms of the classic revenue expressions
def _disc_price() -> F.Column:
    one = F.lit(1).cast("decimal(3,2)")
    return dec("l_extendedprice") * (one - dec("l_discount", 3, 2))


def _charge() -> F.Column:
    one = F.lit(1).cast("decimal(3,2)")
    return _disc_price() * (one + dec("l_tax", 3, 2))


_SQL_DISC_PRICE = (
    "CAST(l_extendedprice AS DECIMAL(12,2))"
    " * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))"
)
_SQL_CHARGE = f"{_SQL_DISC_PRICE} * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(3,2)))"


# ---------------------------------------------------------------- flagship


@register(
    "q_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
      {sql_dsum('l_quantity')} AS sum_qty,
      {sql_dsum('l_extendedprice')} AS sum_base_price,
      CAST(round(SUM({_SQL_DISC_PRICE}), 2) AS DOUBLE) AS sum_disc_price,
      CAST(round(SUM({_SQL_CHARGE}), 2) AS DOUBLE) AS sum_charge,
      {sql_davg('l_quantity')} AS avg_qty,
      {sql_davg('l_extendedprice')} AS avg_price,
      {sql_davg('l_discount', '3,2')} AS avg_disc,
      COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship pricing-summary (TPC-H Q1 shape, SURVEY.md §7.1): scan →
    pushed filter → hash agg with partial aggregation → exact decimal
    sums.  One shuffle total; no UDFs; fully codegen'd.

    The 4/6-decimal product sums round to CENTS (exact decimal scale
    reduction) before the double cast: at sf1 the 6-decimal charge
    sum's unscaled value crosses 2^53, where Spark's and DuckDB's
    decimal→double conversions differ by one ulp (measured, round 10) —
    at 2dp the unscaled value stays exactly convertible to ~$9·10^13."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            F.round(F.sum(_disc_price()), 2).cast("double").alias("sum_disc_price"),
            F.round(F.sum(_charge()), 2).cast("double").alias("sum_charge"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_extendedprice").alias("avg_price"),
            davg("l_discount", 3, 2).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------- scans / projections / filters


@register(
    "q_scan_lineitem",
    oracle="""
    SELECT l_orderkey, l_partkey, l_quantity, l_extendedprice
    FROM lineitem WHERE l_shipdate >= TIMESTAMP '2000-01-01 00:00:00'
    """,
)
def q_scan_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B1 parquet scan with column pruning + predicate pushdown (the
    physical plan shows ReadSchema with 5 columns and PushedFilters on
    l_shipdate — asserted in tests/test_plans.py)."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") >= F.lit("2000-01-01 00:00:00").cast("timestamp"))
        .select("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice")
    )


@register(
    "q_project_expr",
    oracle=f"""
    SELECT l_orderkey, l_linenumber,
      CAST({_SQL_DISC_PRICE} AS DOUBLE) AS net_price,
      l_returnflag || '/' || l_linestatus AS flag_status,
      l_quantity * 2 AS double_qty
    FROM lineitem
    """,
)
def q_project_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B2 projection / aliasing / computed columns."""
    return load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        _disc_price().cast("double").alias("net_price"),
        # concat, not concat_ws: SQL || propagates NULL, concat_ws
        # silently DROPS null operands and their separators ('R' on a
        # NULL status vs the oracle's NULL — NULL-flag sweep-caught)
        F.concat(F.col("l_returnflag"), F.lit("/"), F.col("l_linestatus")).alias(
            "flag_status"
        ),
        (F.col("l_quantity") * 2).alias("double_qty"),
    )


@register(
    "q_filter_between",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate
    FROM lineitem
    WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00' AND TIMESTAMP '1996-12-31 00:00:00'
      AND l_quantity BETWEEN 10 AND 20
    """,
)
def q_filter_between(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B3 BETWEEN range predicates (both pushed to the scan)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        F.col("l_shipdate").between("1996-01-01 00:00:00", "1996-12-31 00:00:00")
        & F.col("l_quantity").between(10, 20)
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate")


@register(
    "q_filter_in_like",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer
    WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE', 'MACHINERY')
      AND c_name LIKE '%9'
    """,
)
def q_filter_in_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B3 IN-list + LIKE predicates."""
    c = load_table(spark, sf_dir, "customer")
    return c.filter(
        F.col("c_mktsegment").isin("BUILDING", "AUTOMOBILE", "MACHINERY")
        & F.col("c_name").like("%9")
    ).select("c_custkey", "c_name", "c_mktsegment")


# ---------------------------------------------------------------- joins


@register(
    "q_join_inner",
    oracle="""
    SELECT o_orderkey, c_custkey, c_name, o_totalprice
    FROM orders JOIN customer ON o_custkey = c_custkey
    """,
)
def q_join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B4 inner equi-join; Catalyst/AQE picks broadcast vs sort-merge by
    runtime size (customer is the small build side at test SF; at 100 TB
    AQE re-plans from actual shuffle stats)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return o.join(c, o["o_custkey"] == c["c_custkey"], "inner").select(
        "o_orderkey", "c_custkey", "c_name", "o_totalprice"
    )


@register(
    "q_join_left",
    oracle="""
    SELECT c_custkey, c_name, big.o_orderkey, big.o_totalprice
    FROM customer LEFT JOIN
      (SELECT * FROM orders WHERE o_totalprice > 400000) big
    ON big.o_custkey = c_custkey
    """,
)
def q_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B5 left outer join (unmatched → nulls)."""
    c = load_table(spark, sf_dir, "customer")
    big = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return c.join(big, big["o_custkey"] == c["c_custkey"], "left").select(
        "c_custkey", "c_name", "o_orderkey", "o_totalprice"
    )


@register(
    "q_join_right",
    oracle="""
    SELECT c_custkey, n_name
    FROM nation RIGHT JOIN customer ON n_nationkey = c_nationkey
    """,
)
def q_join_right(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B5 right outer join."""
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    return n.join(c, n["n_nationkey"] == c["c_nationkey"], "right").select(
        "c_custkey", "n_name"
    )


@register(
    "q_join_full",
    oracle="""
    WITH rich AS (
      SELECT c_custkey AS key, c_acctbal FROM customer WHERE c_acctbal > 9000
    ), big AS (
      SELECT o_custkey AS key, COUNT(*) AS n_big_orders
      FROM orders WHERE o_totalprice > 300000 GROUP BY o_custkey
    )
    SELECT coalesce(rich.key, big.key) AS custkey, c_acctbal, n_big_orders
    FROM rich FULL OUTER JOIN big ON rich.key = big.key
    """,
)
def q_join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B5 full outer join with non-overlapping sides."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    rich = c.filter(F.col("c_acctbal") > 9000).select(
        F.col("c_custkey").alias("rkey"), "c_acctbal"
    )
    big = (
        o.filter(F.col("o_totalprice") > 300000)
        .groupBy(F.col("o_custkey").alias("bkey"))
        .agg(F.count(F.lit(1)).alias("n_big_orders"))
    )
    return rich.join(big, rich["rkey"] == big["bkey"], "outer").select(
        F.coalesce("rkey", "bkey").alias("custkey"), "c_acctbal", "n_big_orders"
    )


@register(
    "q_join_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 200000)
    """,
)
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B6 left semi join (EXISTS)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 200000)
    return c.join(o, c["c_custkey"] == o["o_custkey"], "left_semi").select(
        "c_custkey", "c_name"
    )


@register(
    "q_join_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (
      SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 400000
    )
    """,
)
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B6 left anti join (NOT EXISTS): customers with no very large
    order."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti").select(
        "c_custkey", "c_name"
    )


@register(
    "q_join_theta",
    oracle="""
    SELECT n_name, r_name FROM nation JOIN region ON n_regionkey < r_regionkey
    """,
)
def q_join_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B7 theta (non-equi) join — physically a broadcast nested loop on
    the 5-row region side, which is exactly right at any scale."""
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return n.join(F.broadcast(r), n["n_regionkey"] < r["r_regionkey"]).select(
        "n_name", "r_name"
    )


@register(
    "q_star_join",
    oracle=f"""
    SELECT n_name,
      CAST(SUM({_SQL_DISC_PRICE}) AS DOUBLE) AS revenue,
      COUNT(*) AS n_items
    FROM region
      JOIN nation ON n_regionkey = r_regionkey
      JOIN customer ON c_nationkey = n_nationkey
      JOIN orders ON o_custkey = c_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n_name
    """,
)
def q_star_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B8 multi-way star join (TPC-H Q5 shape): dimensions are explicitly
    broadcast (region/nation are tiny at every scale factor); the
    fact-side joins shuffle on their keys and AQE handles skew."""
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("n_name")
        .agg(
            F.sum(_disc_price()).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# ---------------------------------------------------------------- aggregation


@register(
    "q_group_agg",
    oracle=f"""
    SELECT o_orderpriority,
      COUNT(*) AS n_orders,
      {sql_dsum('o_totalprice', '14,2')} AS sum_price,
      MIN(o_totalprice) AS min_price,
      MAX(o_totalprice) AS max_price,
      {sql_davg('o_totalprice', '14,2')} AS avg_price
    FROM orders GROUP BY o_orderpriority
    """,
)
def q_group_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B9 hash aggregation with sum/avg/min/max/count (partial + final
    aggregation automatic — map-side combine before the shuffle)."""
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice", 14, 2).alias("sum_price"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
            davg("o_totalprice", 14, 2).alias("avg_price"),
        )
    )


@register(
    "q_distinct",
    oracle="SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
)
def q_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B10 DISTINCT."""
    return load_table(spark, sf_dir, "lineitem").select("l_returnflag", "l_linestatus").distinct()


@register(
    "q_count_distinct",
    oracle="""
    SELECT COUNT(DISTINCT l_suppkey) AS n_supp, COUNT(DISTINCT l_partkey) AS n_part
    FROM lineitem
    """,
)
def q_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B10 exact count(distinct) — Catalyst expands to a two-stage
    aggregate automatically."""
    return load_table(spark, sf_dir, "lineitem").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct("l_partkey").alias("n_part"),
    )


@register("q_approx_count_distinct")  # HLL sketch — no exact SQL oracle
def q_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B10 approx_count_distinct (HyperLogLog++): the 100 TB answer to
    count(distinct) — single pass, no expansion, bounded memory."""
    return load_table(spark, sf_dir, "lineitem").agg(
        F.approx_count_distinct("l_suppkey", 0.01).alias("approx_n_supp"),
        F.approx_count_distinct("l_partkey", 0.01).alias("approx_n_part"),
    )


@register(
    "q_rollup",
    oracle=f"""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n, {sql_dsum('l_quantity')} AS sum_qty
    FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
    """,
)
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B11 ROLLUP (hierarchical grouping sets + grand total),
    pre-aggregated at (flag, status) so Expand multiplies a handful of
    group rows instead of every lineitem row, with the grand total as a
    guaranteed-one-row global aggregate (SQL `()` semantics hold on
    empty input too — functions/grouping.py)."""
    base = presum_count_dsum(
        load_table(spark, sf_dir, "lineitem"),
        keys=[("l_returnflag", "l_returnflag"), ("l_linestatus", "l_linestatus")],
        value="l_quantity",
    )
    # consumed by the sets and the grand total
    # A/B: sf1 q_rollup 1.82 s with it vs 1.87 s without (IQR 0.03); sf0.1
    # 0.83 vs 0.95 s (IQR 0.23): no loss.  q_cube (a loss at sf1, 2.78 vs
    # 2.63 s) and q_grouping_sets (ties) recompute the pre-aggregate
    base = base.localCheckpoint(eager=False)
    return count_dsum_sets(
        base,
        sets=[("l_returnflag", "l_linestatus"), ("l_returnflag",)],
        n_alias="n",
        sum_alias="sum_qty",
    )


@register(
    "q_cube",
    oracle=f"""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n, {sql_dsum('l_quantity')} AS sum_qty
    FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
    """,
)
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B11 CUBE (all grouping-set combinations) — same pre-aggregated
    decomposition as q_rollup (Expand over distinct groups, not rows;
    grand total survives empty input)."""
    return count_dsum_sets(
        presum_count_dsum(
            load_table(spark, sf_dir, "lineitem"),
            keys=[("l_returnflag", "l_returnflag"), ("l_linestatus", "l_linestatus")],
            value="l_quantity",
        ),
        sets=[
            ("l_returnflag", "l_linestatus"),
            ("l_returnflag",),
            ("l_linestatus",),
        ],
        n_alias="n",
        sum_alias="sum_qty",
    )


@register(
    "q_having",
    oracle=f"""
    SELECT c_nationkey, COUNT(*) AS n_cust, {sql_dsum('c_acctbal', '12,2')} AS sum_bal
    FROM customer GROUP BY c_nationkey HAVING COUNT(*) >= 5
    """,
)
def q_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B12 HAVING — a post-aggregation filter."""
    return (
        load_table(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_cust"), dsum("c_acctbal", 12, 2).alias("sum_bal"))
        .filter(F.col("n_cust") >= 5)
    )


# ---------------------------------------------------------------- windows


@register(
    "q_window_rank",
    oracle="""
    SELECT c_custkey, c_mktsegment, c_acctbal,
      CAST(row_number() OVER w AS INTEGER) AS rn,
      CAST(rank() OVER w AS INTEGER) AS rnk,
      CAST(dense_rank() OVER w AS INTEGER) AS drnk,
      CAST(ntile(4) OVER w AS INTEGER) AS quartile
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
    """,
)
def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B13 ranking window functions (unique tie-break on c_custkey)."""
    w = Window.partitionBy("c_mktsegment").orderBy(F.col("c_acctbal").desc(), "c_custkey")
    return load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        F.row_number().over(w).alias("rn"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
    )


@register(
    "q_window_lag",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice,
      lag(o_totalprice) OVER w AS prev_price,
      lead(o_totalprice) OVER w AS next_price,
      first_value(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_price
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def q_window_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B14 analytic window functions (lag/lead/first)."""
    w = Window.partitionBy("o_custkey").orderBy(F.asc_nulls_last("o_orderdate"), "o_orderkey")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
        F.first("o_totalprice").over(wf).alias("first_price"),
    )


@register(
    "q_window_running_sum",
    oracle="""
    SELECT event_id, user_id, ts, value,
      CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER (
        PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
    FROM events
    """,
)
def q_window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B15 running sum — the banking running balance_amt in the
    reference's txns.csv is exactly this shape (FIXTURES.md §1.1).
    DECIMAL accumulation keeps it exact in any execution order."""
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.asc_nulls_last("ts"), "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.sum(dec("value")).over(w).cast("double").alias("running_total"),
    )


@register(
    "q_window_moving_avg",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) OVER w AS DOUBLE)
        / COUNT(*) OVER w AS moving_avg
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    """,
)
def q_window_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B15 moving average over a 3-row frame (exact sum / frame count)."""
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.asc_nulls_last("o_orderdate"), "o_orderkey")
        .rowsBetween(-2, Window.currentRow)
    )
    return load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        (F.sum(dec("o_totalprice", 14, 2)).over(w).cast("double") / F.count(F.lit(1)).over(w)).alias(
            "moving_avg"
        ),
    )


# ---------------------------------------------------------------- sort / limit / set ops


@register(
    "q_sort_multi",
    oracle="""
    SELECT c_custkey, c_nationkey, c_acctbal,
      CAST(row_number() OVER (ORDER BY c_nationkey ASC, c_acctbal DESC NULLS LAST, c_custkey) AS INTEGER) AS sort_pos
    FROM customer
    """,
)
def q_sort_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B16 multi-key sort with explicit null ordering; the global
    row position makes the order checkable under the driver's
    order-insensitive hash.

    The naive form — row_number() over an UNPARTITIONED Window.orderBy —
    funnels the whole table through one task.  Positions here come from
    assign_dense_ids (functions/ids.py): range-partition on the sort
    key, number within partitions, add a driver-side prefix sum of
    partition counts — same result, every stage parallel."""
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.functions.ids import assign_dense_ids

    ranked = assign_dense_ids(
        load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey", "c_acctbal"),
        [
            # explicit NULLS LAST: Spark ASC defaults NULLS FIRST,
            # DuckDB NULLS LAST (the ts-column audit, extended to
            # nullable dim keys; fixture-caught)
            F.col("c_nationkey").asc_nulls_last(),
            F.col("c_acctbal").desc_nulls_last(),
            F.col("c_custkey").asc_nulls_last(),
        ],
        id_col="sort_pos0",
    )
    return ranked.select(
        "c_custkey",
        "c_nationkey",
        "c_acctbal",
        (F.col("sort_pos0") + 1).cast("int").alias("sort_pos"),
    )


@register(
    "q_topk",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
)
def q_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B17 top-k: orderBy().limit(k) compiles to TakeOrderedAndProject —
    a per-partition heap + driver merge, no global sort (the right plan
    at 100 TB)."""
    return (
        load_table(spark, sf_dir, "orders")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_totalprice")
    )


@register(
    "q_union",
    oracle="""
    SELECT c_custkey AS key FROM customer
    UNION
    SELECT o_custkey AS key FROM orders
    """,
)
def q_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B18 UNION (distinct)."""
    c = load_table(spark, sf_dir, "customer").select(F.col("c_custkey").alias("key"))
    o = load_table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("key"))
    return c.union(o).distinct()


@register(
    "q_intersect",
    oracle="""
    SELECT c_custkey AS key FROM customer
    INTERSECT
    SELECT o_custkey AS key FROM orders
    """,
)
def q_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B18 INTERSECT."""
    c = load_table(spark, sf_dir, "customer").select(F.col("c_custkey").alias("key"))
    o = load_table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("key"))
    return c.intersect(o)


@register(
    "q_except",
    oracle="""
    SELECT c_custkey AS key FROM customer
    EXCEPT
    SELECT o_custkey AS key FROM orders WHERE o_totalprice > 250000
    """,
)
def q_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B18 EXCEPT: customers minus customers with large orders."""
    c = load_table(spark, sf_dir, "customer").select(F.col("c_custkey").alias("key"))
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 250000)
        .select(F.col("o_custkey").alias("key"))
    )
    return c.subtract(o)


# ---------------------------------------------------------------- subqueries


@register(
    "q_subquery_in",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 300000)
    """,
)
def q_subquery_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B19 IN-subquery (Catalyst rewrites to a semi join)."""
    _views(spark, sf_dir, "customer", "orders")
    return spark.sql(
        """
        SELECT c_custkey, c_name FROM customer
        WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 300000)
        """
    )


@register(
    "q_subquery_scalar",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    WHERE o_totalprice > (
      SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) / COUNT(*) FROM orders
    )
    """,
)
def q_subquery_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B19 scalar subquery (above-average filter; exact-decimal average
    so the threshold is bit-identical to the oracle's)."""
    _views(spark, sf_dir, "orders")
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice FROM orders
        WHERE o_totalprice > (
          SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) / COUNT(*) FROM orders
        )
        """
    )


@register(
    "q_subquery_exists",
    oracle="""
    SELECT c_custkey, c_acctbal FROM customer c
    WHERE EXISTS (
      SELECT 1 FROM orders WHERE o_custkey = c.c_custkey AND o_totalprice > c.c_acctbal * 20
    )
    """,
)
def q_subquery_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B19 correlated EXISTS (Catalyst decorrelates into a join)."""
    _views(spark, sf_dir, "customer", "orders")
    return spark.sql(
        """
        SELECT c_custkey, c_acctbal FROM customer c
        WHERE EXISTS (
          SELECT 1 FROM orders WHERE o_custkey = c.c_custkey AND o_totalprice > c.c_acctbal * 20
        )
        """
    )


# ---------------------------------------------------------------- scalar function families


@register(
    "q_case_when",
    oracle="""
    SELECT o_orderkey,
      CASE WHEN o_totalprice < 50000 THEN 'small'
           WHEN o_totalprice < 200000 THEN 'mid'
           ELSE 'large' END AS size_bucket,
      CASE WHEN o_orderpriority LIKE '1-%' OR o_orderpriority LIKE '2-%'
           THEN true ELSE false END AS is_urgent
    FROM orders
    """,
)
def q_case_when(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B20 CASE WHEN / conditional expressions."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") < 50000, "small")
        .when(F.col("o_totalprice") < 200000, "mid")
        .otherwise("large")
        .alias("size_bucket"),
        # CASE WHEN pred THEN true ELSE false maps a NULL predicate to
        # false; the bare boolean expression stays NULL (NULL-flag
        # sweep-caught) — mirror the CASE shape explicitly
        F.when(
            F.col("o_orderpriority").like("1-%") | F.col("o_orderpriority").like("2-%"),
            F.lit(True),
        )
        .otherwise(F.lit(False))
        .alias("is_urgent"),
    )


@register(
    "q_string_funcs",
    oracle="""
    SELECT c_custkey,
      upper(trim(c_name)) AS name_upper,
      lower(c_mktsegment) AS seg_lower,
      CAST(length(c_name) AS BIGINT) AS name_len,
      substring(c_name, 10, 9) AS cust_digits,
      replace(c_name, 'Customer#', 'C#') AS short_name,
      lpad(CAST(c_custkey AS VARCHAR), 12, '0') AS padded_key,
      regexp_extract(c_name, '([0-9]+)', 1) AS digits_re,
      string_split(c_name, '#')[2] AS after_hash,
      concat_ws('-', c_mktsegment, CAST(c_nationkey AS VARCHAR)) AS seg_nation
    FROM customer
    """,
)
def q_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B21 string function family."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.upper(F.trim(F.col("c_name"))).alias("name_upper"),
        F.lower("c_mktsegment").alias("seg_lower"),
        F.length("c_name").cast("bigint").alias("name_len"),
        F.substring("c_name", 10, 9).alias("cust_digits"),
        F.regexp_replace("c_name", "Customer#", "C#").alias("short_name"),
        F.lpad(F.col("c_custkey").cast("string"), 12, "0").alias("padded_key"),
        F.regexp_extract("c_name", "([0-9]+)", 1).alias("digits_re"),
        F.split("c_name", "#").getItem(1).alias("after_hash"),
        F.concat_ws("-", "c_mktsegment", F.col("c_nationkey").cast("string")).alias("seg_nation"),
    )


@register(
    "q_date_funcs",
    oracle="""
    SELECT o_orderkey,
      CAST(year(d) AS INTEGER) AS o_year,
      CAST(month(d) AS INTEGER) AS o_month,
      CAST(day(d) AS INTEGER) AS o_day,
      CAST(quarter(d) AS INTEGER) AS o_quarter,
      CAST(dayofweek(d) + 1 AS INTEGER) AS o_dow,
      CAST(date_diff('day', d, DATE '2000-01-01') AS INTEGER) AS days_to_y2k,
      CAST(d + INTERVAL 30 DAY AS DATE) AS plus_30,
      last_day(d) AS month_end
    FROM (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d FROM orders)
    """,
)
def q_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B22 date/time function family (Spark dayofweek is 1=Sunday; the
    oracle aligns DuckDB's 0=Sunday by +1)."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_orderdate").cast("date").alias("d")
    )
    return o.select(
        "o_orderkey",
        F.year("d").alias("o_year"),
        F.month("d").alias("o_month"),
        F.dayofmonth("d").alias("o_day"),
        F.quarter("d").alias("o_quarter"),
        F.dayofweek("d").alias("o_dow"),
        F.datediff(F.lit("2000-01-01").cast("date"), F.col("d")).alias("days_to_y2k"),
        F.date_add("d", 30).alias("plus_30"),
        F.last_day("d").alias("month_end"),
    )


@register(
    "q_date_trunc_agg",
    oracle=f"""
    SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
      COUNT(*) AS n_orders,
      {sql_dsum('o_totalprice', '14,2')} AS monthly_sales
    FROM orders GROUP BY date_trunc('month', o_orderdate)
    """,
)
def q_date_trunc_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B22 date_trunc rollup to month — the hypertable-style time
    bucketing pattern."""
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.date_trunc("month", "o_orderdate").alias("month_start"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice", 14, 2).alias("monthly_sales"),
        )
    )


@register(
    "q_math_funcs",
    oracle="""
    SELECT l_orderkey, l_linenumber,
      round(l_extendedprice * 0.1, 3) AS tithe,
      abs(l_discount - 0.05) AS disc_dev,
      CAST(ceil(l_extendedprice) AS BIGINT) AS price_ceil,
      CAST(floor(l_extendedprice) AS BIGINT) AS price_floor,
      sqrt(l_quantity) AS qty_sqrt,
      CAST(l_linenumber % 3 AS BIGINT) AS line_mod,
      round(ln(l_extendedprice), 6) AS price_ln
    FROM lineitem
    """,
)
def q_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B23 math/numeric family (sqrt is IEEE-exact; ln rounded to 6dp to
    absorb libm ulp differences)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.col("l_extendedprice") * 0.1, 3).alias("tithe"),
        F.abs(F.col("l_discount") - 0.05).alias("disc_dev"),
        F.ceil("l_extendedprice").cast("bigint").alias("price_ceil"),
        F.floor("l_extendedprice").cast("bigint").alias("price_floor"),
        F.sqrt("l_quantity").alias("qty_sqrt"),
        (F.col("l_linenumber") % 3).cast("bigint").alias("line_mod"),
        F.round(F.log("l_extendedprice"), 6).alias("price_ln"),
    )


@register(
    "q_money_parse",
    oracle="""
    WITH cents_t AS (
      SELECT o_orderkey, CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
      FROM orders
    ), s AS (
      SELECT o_orderkey,
        '  ' ||
        CASE WHEN cents // 100 >= 1000
             THEN CAST((cents // 100) // 1000 AS VARCHAR) || ',' ||
                  lpad(CAST((cents // 100) % 1000 AS VARCHAR), 3, '0')
             ELSE CAST(cents // 100 AS VARCHAR) END
        || '.' || lpad(CAST(cents % 100 AS VARCHAR), 2, '0') || ' ' AS money_str
      FROM cents_t
    )
    SELECT o_orderkey, money_str,
      CAST(CAST(TRIM(REPLACE(money_str, ',', '')) AS DECIMAL(18,2)) AS DOUBLE) AS price_parsed
    FROM s
    """,
)
def q_money_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B23/A3-inverse: parse the reference's padded comma-grouped money
    strings (txns.csv values like ``"  1,000,000.00 "``) back to numbers.
    The strings are synthesized with exact integer arithmetic so both
    engines build byte-identical inputs."""
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.functions import normalize as N

    _views(spark, sf_dir, "orders")
    s = spark.sql(
        """
        WITH cents_t AS (
          SELECT o_orderkey, CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
          FROM orders
        )
        SELECT o_orderkey,
          concat('  ',
            CASE WHEN cents DIV 100 >= 1000
                 THEN concat(CAST((cents DIV 100) DIV 1000 AS STRING), ',',
                             lpad(CAST((cents DIV 100) % 1000 AS STRING), 3, '0'))
                 ELSE CAST(cents DIV 100 AS STRING) END,
            '.', lpad(CAST(cents % 100 AS STRING), 2, '0'), ' ') AS money_str
        FROM cents_t
        """
    )
    return s.select(
        "o_orderkey", "money_str", N.parse_money("money_str").cast("double").alias("price_parsed")
    )


# ---------------------------------------------------------------- arrays / maps / json


@register(
    "q_array_explode",
    oracle="SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS val FROM embeddings",
)
def q_array_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B24 explode an array column."""
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select("vec_id", F.explode("embedding").alias("v")).select(
        "vec_id", F.col("v").cast("double").alias("val")
    )


@register(
    "q_array_lambda",
    oracle="""
    SELECT vec_id,
      CAST(length(embedding) AS BIGINT) AS dim,
      CAST(length(list_filter(embedding, x -> x > 0)) AS BIGINT) AS n_pos,
      CAST(embedding[1] AS DOUBLE) AS first_val,
      list_reduce(
        list_prepend(CAST(0 AS DOUBLE), list_transform(embedding, x -> CAST(x AS DOUBLE))),
        (a, b) -> a + b) AS sum_all
    FROM embeddings
    """,
)
def q_array_lambda(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B24 higher-order array functions: size / filter / element_at /
    aggregate (left fold in doubles — bit-deterministic)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        F.size("embedding").cast("bigint").alias("dim"),
        F.size(F.filter("embedding", lambda x: x > 0)).cast("bigint").alias("n_pos"),
        F.element_at("embedding", 1).cast("double").alias("first_val"),
        F.aggregate(
            F.transform("embedding", lambda x: x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ).alias("sum_all"),
    )


@register(
    "q_map_funcs",
    oracle="""
    WITH m_t AS (
      SELECT l_orderkey, l_linenumber,
        map(['price', 'qty'], [l_extendedprice, l_quantity]) AS m
      FROM lineitem
    )
    SELECT l_orderkey, l_linenumber,
      CAST(cardinality(m) AS INTEGER) AS m_size,
      m['price'][1] AS price_val,
      m['qty'][1] AS qty_val,
      array_to_string(map_keys(m), ',') AS keys_joined
    FROM m_t
    """,
)
def q_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B25 map functions: construct, size, element access, keys.
    Scalar outputs only — map/array cells hash differently across
    drivers; the semantics are fully exercised through extraction."""
    li = load_table(spark, sf_dir, "lineitem")
    m = F.map_from_arrays(
        F.array(F.lit("price"), F.lit("qty")),
        F.array(F.col("l_extendedprice"), F.col("l_quantity")),
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.size(m).alias("m_size"),
        F.element_at(m, "price").alias("price_val"),
        F.element_at(m, "qty").alias("qty_val"),
        F.array_join(F.map_keys(m), ",").alias("keys_joined"),
    )


@register(
    "q_json_get",
    oracle="SELECT event_id, props->>'$.k' AS k_str FROM events",
)
def q_json_get(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B26 JSON path access on a raw JSON string column (the SUPER-column
    navigation analog, SURVEY.md §1.2)."""
    return load_table(spark, sf_dir, "events").select(
        "event_id", F.get_json_object("props", "$.k").alias("k_str")
    )


@register(
    "q_json_from_schema",
    oracle="""
    SELECT event_id,
      CAST(props->>'$.k' AS INTEGER) AS k_int,
      CAST(to_json(struct_pack(k := CAST(props->>'$.k' AS INTEGER))) AS VARCHAR) AS rebuilt
    FROM events
    """,
)
def q_json_from_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B26 from_json with an explicit schema + to_json round trip."""
    ev = load_table(spark, sf_dir, "events")
    parsed = F.from_json("props", "k INT")
    return ev.select(
        "event_id",
        parsed["k"].alias("k_int"),
        F.to_json(F.struct(parsed["k"].alias("k"))).alias("rebuilt"),
    )


@register(
    "q_null_handling",
    oracle="""
    SELECT l_orderkey, l_linenumber,
      coalesce(nullif(l_discount, 0.0), -1.0) AS disc_or_default,
      (nullif(l_discount, 0.0) IS NOT DISTINCT FROM nullif(l_tax, 0.0)) AS nullsafe_eq,
      CASE WHEN nullif(l_discount, 0.0) IS NULL THEN 'no_disc' ELSE 'disc' END AS disc_flag
    FROM lineitem
    """,
)
def q_null_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B27 null semantics: coalesce / nullif / null-safe equality."""
    _views(spark, sf_dir, "lineitem")
    return spark.sql(
        """
        SELECT l_orderkey, l_linenumber,
          coalesce(nullif(l_discount, 0.0D), -1.0D) AS disc_or_default,
          (nullif(l_discount, 0.0D) <=> nullif(l_tax, 0.0D)) AS nullsafe_eq,
          CASE WHEN nullif(l_discount, 0.0D) IS NULL THEN 'no_disc' ELSE 'disc' END AS disc_flag
        FROM lineitem
        """
    )


@register(
    "q_pivot",
    oracle=f"""
    SELECT l_returnflag,
      CAST(SUM(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(12,2)) END) AS DOUBLE) AS F,
      CAST(SUM(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(12,2)) END) AS DOUBLE) AS O
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B28 pivot with explicit pivot values (explicit values avoid the
    extra distinct-values job — required practice at scale)."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(dsum("l_quantity"))
    )


@register("q_sample")  # non-deterministic across engines — rows-only check
def q_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B29 sampling (seeded Bernoulli sample; deterministic within Spark
    but not replicable in the oracle)."""
    return load_table(spark, sf_dir, "lineitem").sample(fraction=0.1, seed=42).select(
        "l_orderkey", "l_linenumber"
    )


@register("q_sample_stratified")  # non-deterministic across engines — rows-only check
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B29 stratified sampling (`sampleBy`): per-stratum Bernoulli
    fractions — the training-data curation shape (downsample dominant
    classes, keep rare ones whole).  Map-side only: no shuffle, scales
    as pure scan throughput; the fractions dict is a tiny broadcast."""
    return (
        load_table(spark, sf_dir, "events")
        .sampleBy(
            "event_type",
            {"click": 0.1, "view": 0.1, "purchase": 1.0, "signup": 1.0, "error": 0.5},
            seed=42,
        )
        .select("event_id", "user_id", "event_type", "value")
    )


@register(
    "q_window_range_frame",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice,
      COUNT(*) OVER w AS n_similar_price,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) OVER w AS DOUBLE) AS sum_similar_price
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice
                 RANGE BETWEEN 10000 PRECEDING AND 10000 FOLLOWING)
    """,
)
def q_window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B15 RANGE frame: value-based window (orders within ±10000 of the
    current order's price, per customer)."""
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_totalprice"))
        .rangeBetween(-10000, 10000)
    )
    return load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.count(F.lit(1)).over(w).alias("n_similar_price"),
        F.sum(dec("o_totalprice", 14, 2)).over(w).cast("double").alias("sum_similar_price"),
    )


@register(
    "q_percentile",
    oracle="""
    SELECT o_orderpriority,
      round(quantile_cont(o_totalprice, 0.5), 4) AS median_price,
      round(quantile_cont(o_totalprice, 0.95), 4) AS p95_price
    FROM orders GROUP BY o_orderpriority
    """,
)
def q_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B9/B23 exact percentiles (interpolated): Spark `percentile` and
    DuckDB `quantile_cont` share the (n-1)*p linear-interpolation
    definition; rounded to 4dp to absorb interpolation-arithmetic ulps."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("median_price"),
        F.round(F.expr("percentile(o_totalprice, 0.95)"), 4).alias("p95_price"),
    )


@register(
    "q_stats_agg",
    oracle="""
    SELECT l_returnflag,
      round(stddev_samp(l_quantity), 6) AS qty_stddev,
      round(var_samp(l_quantity), 6) AS qty_var,
      round(corr(l_quantity, l_extendedprice), 6) AS qty_price_corr
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_stats_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B9 statistical aggregates (stddev/variance/correlation), rounded
    to 6dp — both engines use single-pass covariance updates whose last
    ulps can differ."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_quantity"), 6).alias("qty_stddev"),
        F.round(F.var_samp("l_quantity"), 6).alias("qty_var"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("qty_price_corr"),
    )


@register(
    "q_join_salted",
    oracle="""
    SELECT l_orderkey, l_linenumber, o_orderstatus, o_orderpriority
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    """,
)
def q_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B4 + skew handling: the salted join (functions/skew.salted_join,
    celebrity-key scatter across 8 salt partitions) against the PLAIN
    join as oracle — pinning that salting is purely a physical rewrite
    and never changes results.  The join stays equi on (key, salt), so
    Catalyst still plans a hash join; the hot key's rows spread over
    salt_n tasks instead of melting one executor."""
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.functions.skew import salted_join

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_orderpriority"
    )
    return salted_join(li, o, "l_orderkey", "o_orderkey").select(
        "l_orderkey", "l_linenumber", "o_orderstatus", "o_orderpriority"
    )


@register(
    "q_join_cross",
    oracle="""
    SELECT r_name, n_name FROM region CROSS JOIN nation
    """,
)
def q_join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B7 explicit cross join — only ever against bounded dimensions
    (region x nation = 125 rows at every scale factor); an unbounded
    cross join is a design error, not an operator gap."""
    r = load_table(spark, sf_dir, "region").select("r_name")
    n = load_table(spark, sf_dir, "nation").select("n_name")
    return r.crossJoin(n)


@register(
    "q_explode_outer",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
        list_filter({_SQL_TOKS},
                    x -> length(x) > 8) AS long_toks
      FROM documents
    )
    SELECT doc_id,
      unnest(CASE WHEN long_toks IS NULL OR length(long_toks) = 0
                  THEN [NULL] ELSE long_toks END) AS tok
    FROM t
    """,
)
def q_explode_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B24 explode_outer: rows with an empty array survive with a null
    element (a plain explode silently drops them — the classic
    lost-document bug in token pipelines).  The oracle emulates outer
    semantics by substituting [NULL] for empty arrays before unnest."""
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.functions import text as X

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.filter(X.tokens("text"), lambda t: F.length(t) > 8).alias("long_toks"),
    )
    return docs.select("doc_id", F.explode_outer("long_toks").alias("tok"))


@register(
    "q_regexp_extract_all",
    oracle="""
    SELECT doc_id,
      CAST(length(regexp_extract_all(text, '[a-z]+a[a-z]*')) AS BIGINT) AS n_a_words,
      -- empty match list: Spark array_join gives '', DuckDB
      -- array_to_string gives NULL — spell the '' case out (NULL text
      -- still propagates NULL through the ELSE branch)
      CASE WHEN length(regexp_extract_all(text, '[a-z]+a[a-z]*')) = 0 THEN ''
           ELSE array_to_string(regexp_extract_all(text, '[a-z]+a[a-z]*'), ',')
      END AS a_words
    FROM documents
    """,
)
def q_regexp_extract_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B21 regexp_extract_all + array join (all matches, not just the
    first — the scrape-cleaning shape)."""
    docs = load_table(spark, sf_dir, "documents")
    matches = F.regexp_extract_all("text", F.lit("[a-z]+a[a-z]*"), 0)
    return docs.select(
        "doc_id",
        F.size(matches).cast("bigint").alias("n_a_words"),
        F.array_join(matches, ",").alias("a_words"),
    )


@register(
    "q_window_distribution",
    oracle="""
    SELECT c_custkey, c_mktsegment, c_acctbal,
      percent_rank() OVER w AS pct_rank,
      cume_dist() OVER w AS cume
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
    """,
)
def q_window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B13 distribution window functions: percent_rank/cume_dist —
    rational-valued, so the double results are bitwise identical across
    engines (same integer operands, one division)."""
    # asc_nulls_last mirrors DuckDB's ASC default (Spark: NULLS FIRST)
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.asc_nulls_last("c_acctbal"), F.asc_nulls_last("c_custkey")
    )
    return load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


@register(
    "q_histogram",
    oracle="""
    SELECT CAST(floor(o_totalprice / 50000.0) AS BIGINT) AS bucket,
      COUNT(*) AS n,
      MIN(o_totalprice) AS lo,
      MAX(o_totalprice) AS hi
    FROM orders
    GROUP BY CAST(floor(o_totalprice / 50000.0) AS BIGINT)
    """,
)
def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B9/B23 histogram binning: fixed-width buckets as a computed
    group key — the dashboard-distribution shape.  Binning is a pure
    projection, so the aggregate partial-combines map-side and the
    exchange carries one row per bucket."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(F.floor(F.col("o_totalprice") / 50000.0).cast("bigint").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
        )
    )


@register(
    "q_array_agg",
    oracle="""
    WITH a AS (
      -- NULL prices excluded on BOTH sides: Spark's collect_list
      -- drops NULL elements while DuckDB's list() keeps them — the
      -- filter makes the declared non-null-collect semantics explicit
      SELECT o_custkey, list_sort(list(o_totalprice)) AS prices
      FROM orders
      WHERE o_custkey < 100 AND o_totalprice IS NOT NULL
      GROUP BY o_custkey
    )
    SELECT o_custkey, CAST(length(prices) AS INTEGER) AS n_orders,
      CAST(i - 1 AS INTEGER) AS pos, prices[i] AS price
    FROM a CROSS JOIN (
      SELECT unnest(generate_series(
        1, (SELECT MAX(length(prices)) FROM a))) AS i
    ) t
    WHERE i <= length(prices)
    """,
)
def q_array_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B9/B24 array aggregation (collect_list + sort): nested-result
    construction — the document-building shape for feature stores.
    collect_list order is partitioning-dependent, so the result is
    always array_sort'ed; unsorted collect is nondeterministic by
    design and refused here.

    Verified in the EXPLODED (o_custkey, n_orders, pos, price) shape:
    the harness canonicalizer cannot hash array cells (round-3 driver
    ERR), and positional explode of the sorted array pins exactly the
    same semantics — order, multiplicity, and per-group cardinality.
    NULL prices are filtered explicitly on both engines (Spark's
    collect_list silently drops NULL elements, DuckDB's list() keeps
    them; fixture-caught)."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_custkey") < 100) & F.col("o_totalprice").isNotNull()
    )
    agg = o.groupBy("o_custkey").agg(
        F.array_sort(F.collect_list("o_totalprice")).alias("prices"),
    )
    return agg.select(
        "o_custkey",
        F.size("prices").alias("n_orders"),
        F.posexplode("prices").alias("pos", "price"),
    )


@register(
    "q_correlated_min",
    oracle="""
    SELECT o.l_partkey, o.l_suppkey, o.l_extendedprice
    FROM lineitem o
    WHERE o.l_extendedprice = (
      SELECT MIN(i.l_extendedprice) FROM lineitem i
      WHERE i.l_partkey = o.l_partkey)
    """,
)
def q_correlated_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B19 correlated scalar subquery (TPC-H Q2 shape: the cheapest
    supplier per part).  Declared as the correlated form on purpose —
    Catalyst decorrelates it into a per-key MIN aggregate joined back
    (one shuffle on l_partkey), never a per-row subquery execution;
    tests/test_plans.py asserts the rewritten plan.  Ties at the
    minimum survive in both engines (no arbitrary row pick)."""
    _views(spark, sf_dir, "lineitem")
    return spark.sql(
        """
        SELECT o.l_partkey, o.l_suppkey, o.l_extendedprice
        FROM lineitem o
        WHERE o.l_extendedprice = (
          SELECT MIN(i.l_extendedprice) FROM lineitem i
          WHERE i.l_partkey = o.l_partkey)
        """
    )


@register(
    "q_sample_per_group",
    oracle="""
    SELECT doc_id, source, lang FROM (
      SELECT doc_id, source, lang,
        row_number() OVER (PARTITION BY source ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      FROM documents
    ) WHERE rn <= 20
    """,
)
def q_sample_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B29 deterministic per-group sampling: k docs per source, ordered
    by md5(doc_id) — a pseudo-random but engine-independent shuffle, so
    unlike seeded RNG sampling this IS oracle-checkable and replays
    identically on any cluster.  The training-data shape: cap each
    source's contribution without a global sort (one shuffle on the
    group key, rank state O(1))."""
    w = Window.partitionBy("source").orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
    return (
        load_table(spark, sf_dir, "documents")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .select("doc_id", "source", "lang")
    )


@register(
    "q_min_cost_supplier",
    oracle="""
    WITH offer AS (
      SELECT l_partkey, l_suppkey, MIN(l_extendedprice) AS cost
      FROM lineitem GROUP BY l_partkey, l_suppkey
    ), eu AS (
      SELECT s_suppkey, s_name, s_acctbal, n_name
      FROM supplier
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'EUROPE'
    ), eu_offer AS (
      SELECT o.l_partkey, o.cost, eu.s_name, eu.s_acctbal, eu.n_name
      FROM offer o JOIN eu ON eu.s_suppkey = o.l_suppkey
    )
    SELECT p.p_partkey, p.p_brand, p.p_type, e.s_name, e.s_acctbal, e.n_name,
      e.cost AS min_cost
    FROM part p JOIN eu_offer e ON e.l_partkey = p.p_partkey
    WHERE p.p_type = 'ECONOMY' AND p.p_size <= 20
      AND e.cost = (
        SELECT MIN(e2.cost) FROM eu_offer e2 WHERE e2.l_partkey = p.p_partkey)
    """,
)
def q_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (minimum-cost supplier): for each small ECONOMY
    part, the EUROPE supplier(s) whose best lineitem price hits the
    part's regional minimum — part ⋈ supplier ⋈ nation ⋈ region plus a
    correlated MIN, with lineitem as the part↔supplier bridge (the
    testdata carries no partsupp table; reference anchor: the Redshift
    warehouse exists for exactly this dimensional lookup, reference
    README.md:3).

    Plan shape at 100 TB: the supplier⋈nation⋈region dimension closure
    is broadcast (bounded by the supplier domain), the offer table
    partial-aggregates lineitem map-side before its one shuffle on
    (l_partkey, l_suppkey), and the correlated MIN decorrelates to a
    per-part aggregate re-joined on l_partkey — the part filter prunes
    the probe side before any join.  Ties at the minimum survive in
    both engines (no arbitrary row pick); MIN of doubles picks an
    existing value, so the equality is exact."""
    li = load_table(spark, sf_dir, "lineitem")
    offer = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min("l_extendedprice").alias("cost")
    )
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    eu = (
        sup.join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    # eu (region-filtered SUPPLIER closure) scales with the data — no
    # broadcast hint, AQE decides.  eu_offer is deliberately NOT
    # checkpointed although two consumers recompute it: the recompute
    # is two column-pruned scans + cheap partial aggs, while a
    # checkpoint would materialize a lineitem-proportional
    # intermediate (measured slower at sf0.1, and a storage write of
    # the same order at 100 TB)
    eu_offer = offer.join(eu, F.col("s_suppkey") == F.col("l_suppkey"))
    min_per_part = eu_offer.groupBy("l_partkey").agg(F.min("cost").alias("min_cost"))
    parts = load_table(spark, sf_dir, "part").filter(
        (F.col("p_type") == "ECONOMY") & (F.col("p_size") <= 20)
    )
    return (
        parts.join(eu_offer, F.col("l_partkey") == F.col("p_partkey"))
        .join(
            min_per_part.withColumnRenamed("l_partkey", "mp_partkey"),
            (F.col("mp_partkey") == F.col("p_partkey"))
            & (F.col("cost") == F.col("min_cost")),
        )
        .select(
            "p_partkey", "p_brand", "p_type", "s_name", "s_acctbal", "n_name", "min_cost"
        )
    )


@register(
    "q_local_supplier_volume",
    oracle="""
    SELECT n_name,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
               * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE)
        AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n_name
    """,
)
def q_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape (local supplier volume): revenue by nation for
    orders where customer and supplier share the nation, one region,
    one year.  Five-way join exercising supplier alongside the
    customer-side star.

    Plan: supplier⋈nation⋈region closes to a broadcast dimension; the
    c_nationkey = s_nationkey residual rides the supplier join; orders'
    date filter is pushed to its scan so the fact-fact shuffle carries
    one year.  Exact decimal revenue, cast to double at the edge."""
    cutoff_lo = F.lit("1996-01-01 00:00:00").cast("timestamp")
    cutoff_hi = F.lit("1997-01-01 00:00:00").cast("timestamp")
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= cutoff_lo) & (F.col("o_orderdate") < cutoff_hi)
    )
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    dim = (
        sup.join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_nationkey", "n_name")
    )
    one = F.lit(1).cast("decimal(3,2)")
    revenue = F.col("l_extendedprice").cast("decimal(12,2)") * (
        one - F.col("l_discount").cast("decimal(3,2)")
    )
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        # dim is the region-filtered supplier closure — data-scaled, so
        # no hard broadcast hint (q_min_cost_supplier's documented rule;
        # review-caught inconsistency): AQE broadcasts while it fits
        .join(
            dim,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy("n_name")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
    )


@register(
    "q_returned_item_revenue",
    oracle="""
    SELECT c_custkey, c_name, n_name,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
               * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE)
        AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-10-01 00:00:00'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey LIMIT 20
    """,
)
def q_returned_item_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape (returned item reporting): top-20 customers by
    revenue lost to returns in one quarter.  Nation broadcast, order
    date pushed to the orders scan, returnflag pushed to lineitem's,
    exact decimal revenue so the top-20 cut is deterministic
    (c_custkey tie-break), TakeOrderedAndProject for the limit."""
    lo = F.lit("1996-07-01 00:00:00").cast("timestamp")
    hi = F.lit("1996-10-01 00:00:00").cast("timestamp")
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nat = load_table(spark, sf_dir, "nation")
    one = F.lit(1).cast("decimal(3,2)")
    revenue = F.col("l_extendedprice").cast("decimal(12,2)") * (
        one - F.col("l_discount").cast("decimal(3,2)")
    )
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@register(
    "q_lateral_topk",
    oracle="""
    SELECT n_name, c.c_custkey, c.c_acctbal
    FROM nation, LATERAL (
      SELECT c_custkey, c_acctbal FROM customer
      WHERE c_nationkey = n_nationkey
      ORDER BY c_acctbal DESC, c_custkey LIMIT 2
    ) c
    """,
)
def q_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B19′ correlated LATERAL subquery: per nation, the two customers
    with the highest account balance — the dependent-join surface the
    SQL frontend must accept beyond plain IN/EXISTS/scalar subqueries.

    Catalyst DECORRELATES the lateral limit into a ranking window
    partitioned by the correlation key (verified in the plan: no
    per-row re-execution of the inner query) — the same plan a
    hand-written row_number()<=2 produces, so it scales like any
    window, not like a nested loop.  Ties break on c_custkey, so the
    top-2 cut is deterministic in both engines."""
    _views(spark, sf_dir, "nation", "customer")
    return spark.sql(
        """
        SELECT n_name, c.c_custkey, c.c_acctbal
        FROM nation JOIN LATERAL (
          SELECT c_custkey, c_acctbal FROM customer
          WHERE c_nationkey = n_nationkey
          ORDER BY c_acctbal DESC, c_custkey LIMIT 2
        ) c
        """
    )


_PROFILE_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


@register(
    "q_table_profile",
    oracle=" UNION ALL ".join(
        f"""
        SELECT '{c}' AS column_name,
          COUNT(*) AS n_rows,
          COUNT(*) - COUNT({c}) AS n_nulls,
          COUNT(DISTINCT {c}) AS n_distinct,
          CAST(MIN({c}) AS DOUBLE) AS min_val,
          CAST(MAX({c}) AS DOUBLE) AS max_val
        FROM lineitem
        """
        for c in _PROFILE_COLS
    ),
)
def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style numeric column profile of lineitem: per column,
    row/null/distinct counts and min/max — the statistics a warehouse
    keeps for optimizer cardinality estimates and data-quality
    monitoring.

    Plan: ONE scan computes every metric for every column (a single
    aggregate with 4 exact distinct counts — Catalyst plans the
    multi-distinct through one Expand, not four scans; the oracle's
    UNION ALL of per-column scans is the shape we explicitly avoid),
    then a stack() unpivot emits one row per column.  At 100 TB the
    scan dominates and it happens once."""
    li = load_table(spark, sf_dir, "lineitem")
    aggs = []
    for c in _PROFILE_COLS:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__rows"),
            (F.count(F.lit(1)) - F.count(c)).alias(f"{c}__nulls"),
            F.countDistinct(c).alias(f"{c}__dist"),
            F.min(c).cast("double").alias(f"{c}__min"),
            F.max(c).cast("double").alias(f"{c}__max"),
        ]
    one = li.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {c}__rows, {c}__nulls, {c}__dist, {c}__min, {c}__max"
        for c in _PROFILE_COLS
    )
    return one.selectExpr(
        f"stack({len(_PROFILE_COLS)}, {stack_args}) AS "
        "(column_name, n_rows, n_nulls, n_distinct, min_val, max_val)"
    )


@register(
    "q_join_null_safe",
    oracle="""
    WITH a AS (
      SELECT nullif(c_nationkey % 5, 0) AS cust_key, COUNT(*) AS n_cust
      FROM customer GROUP BY nullif(c_nationkey % 5, 0)
    ),
    b AS (
      SELECT nullif(s_nationkey % 5, 0) AS supp_key, COUNT(*) AS n_supp
      FROM supplier GROUP BY nullif(s_nationkey % 5, 0)
    )
    SELECT cust_key, supp_key, n_cust, n_supp
    FROM a FULL JOIN b ON a.cust_key IS NOT DISTINCT FROM b.supp_key
    """,
)
def q_join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B4′ null-safe equi-join (`<=>` / IS NOT DISTINCT FROM): NULL
    keys MATCH each other instead of dropping — the semantics a plain
    equi-join silently loses when the join key is nullable (the
    synthetic nullif here stands in for any nullable dimension key).

    Null-safe equality is still a HASH join key in Spark (EqualNullSafe
    is an equi-condition, not a theta residual), so the plan is the
    same shuffle/broadcast hash join as `=` — no nested-loop penalty
    for the safer semantics."""
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    a = c.groupBy(
        F.nullif(F.col("c_nationkey") % 5, F.lit(0)).alias("cust_key")
    ).agg(F.count(F.lit(1)).alias("n_cust"))
    b = s.groupBy(
        F.nullif(F.col("s_nationkey") % 5, F.lit(0)).alias("supp_key")
    ).agg(F.count(F.lit(1)).alias("n_supp"))
    return a.join(b, F.col("cust_key").eqNullSafe(F.col("supp_key")), "full").select(
        "cust_key", "supp_key", "n_cust", "n_supp"
    )


@register(
    "q_window_ntile",
    oracle="""
    SELECT c_custkey, c_nationkey,
      CAST(ntile(4) OVER (PARTITION BY c_nationkey
                          ORDER BY c_acctbal, c_custkey) AS INTEGER) AS quartile
    FROM customer
    """,
)
def q_window_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B13″ ntile bucketing: account-balance quartiles within each
    nation — the equi-depth binning used for stratified reporting and
    skew diagnosis.  Both engines share the SQL-standard ntile fill
    rule (larger buckets first); the c_custkey tie-break makes the
    assignment deterministic.  Partitioned by nation, so no global
    single-task window."""
    c = load_table(spark, sf_dir, "customer")
    # asc_nulls_last mirrors DuckDB's ASC default (Spark: NULLS FIRST)
    w = Window.partitionBy("c_nationkey").orderBy(
        F.asc_nulls_last("c_acctbal"), F.asc_nulls_last("c_custkey")
    )
    return c.select(
        "c_custkey",
        "c_nationkey",
        F.ntile(4).over(w).cast("int").alias("quartile"),
    )


@register(
    "q_winsorize",
    oracle="""
    WITH th AS (
      SELECT l_returnflag AS flag,
        round(quantile_cont(l_extendedprice, 0.05), 4) AS lo,
        round(quantile_cont(l_extendedprice, 0.95), 4) AS hi
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_orderkey, l_linenumber, lo, hi,
      least(greatest(l_extendedprice, lo), hi) AS clamped_price
    FROM lineitem JOIN th ON l_returnflag = flag
    """,
)
def q_winsorize(
    spark: SparkSession, sf_dir: str, exact: bool | None = None
) -> DataFrame:
    """B9″/numeric-curation winsorization: clamp each line item's price
    to its return-flag group's [p5, p95] — the outlier-capping pass a
    feature/training pipeline applies before normalization so heavy
    tails don't dominate the loss (the numeric twin of the text
    length-quantile gate, q_length_quantile_filter).

    Plan: the quantiles aggregate to |groups| rows (3 here; bounded by
    the group domain, not the data) and broadcast back onto the scan —
    never a percent_rank window over the fact table, which would sort
    100 TB per group.  Thresholds are rounded to 4dp at the aggregate
    (the same interpolation-ulp guard as q_percentile); the clamp
    itself is then exact on both engines.  Exact/approx percentile
    knob shared with q_robust_scale (functions/quantiles.py): oracle
    windows stay exact, 100 TB groups swap to t-digest state."""
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.functions.quantiles import (
        pct,
        use_exact,
    )

    li = load_table(spark, sf_dir, "lineitem")
    exact = use_exact(li, exact, source_path=f"{sf_dir}/lineitem.parquet")
    # spread the 2-column stats projection ONLY on the exact path: the
    # exact-percentile partial buffers every group value and must not
    # ride the scan's file-layout parallelism (r12,
    # functions/parallelism.py).  On the approx (>50M-row / 100 TB)
    # path the map-side partial is a bounded t-digest sketch — the
    # exchange would move almost nothing afterwards, so a pre-shuffle
    # rebalance just ships the unreduced rows (the q_weighted_quantile
    # negative result, reintroduced here by r12 and gated on review).
    proj = li.select("l_returnflag", "l_extendedprice")
    th = (spread(proj) if exact else proj).groupBy(
        F.col("l_returnflag").alias("flag")
    ).agg(
        F.round(F.expr(pct("l_extendedprice", 0.05, exact)), 4).alias("lo"),
        F.round(F.expr(pct("l_extendedprice", 0.95, exact)), 4).alias("hi"),
    )
    return li.join(F.broadcast(th), F.col("l_returnflag") == F.col("flag")).select(
        "l_orderkey",
        "l_linenumber",
        "lo",
        "hi",
        F.least(F.greatest("l_extendedprice", F.col("lo")), F.col("hi")).alias(
            "clamped_price"
        ),
    )


@register(
    "q_mad_outliers",
    oracle="""
    WITH med AS (
      SELECT event_type AS et, round(quantile_cont(value, 0.5), 4) AS med
      FROM events GROUP BY event_type
    ),
    mad AS (
      SELECT et, med, round(quantile_cont(abs(value - med), 0.5), 4) AS mad
      FROM events JOIN med ON event_type = et GROUP BY et, med
    )
    SELECT event_id, event_type, value, med, mad
    FROM events JOIN mad ON event_type = et
    WHERE abs(value - med) > 3 * mad
    """,
)
def q_mad_outliers(
    spark: SparkSession, sf_dir: str, exact: bool | None = None
) -> DataFrame:
    """B9″/data-quality robust outlier detection: flag events whose
    value deviates from the per-type median by more than 3× the median
    absolute deviation — the robust twin of a z-score gate (median/MAD
    are insensitive to the very outliers being hunted, unlike
    mean/stddev).  The anomaly-quarantine pass of an ingest pipeline.

    Plan: two bounded aggregates (|event_type| rows each — the median
    pass, then the MAD pass over re-centered values) broadcast back
    onto the scan; the fact table is scanned twice but never sorted or
    shuffled per group — at 100 TB both extra passes are column-pruned
    scans, the same trade q_winsorize makes.  Medians round to 4dp at
    the aggregate (the q_percentile interpolation-ulp guard); the
    deviation compare is then exact on both engines.  Exact/approx
    percentile knob shared with q_robust_scale
    (functions/quantiles.py)."""
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.functions.quantiles import (
        pct,
        use_exact,
    )

    ev = load_table(spark, sf_dir, "events")
    exact = use_exact(ev, exact, source_path=f"{sf_dir}/events.parquet")
    med = ev.groupBy(F.col("event_type").alias("et")).agg(
        F.round(F.expr(pct("value", 0.5, exact)), 4).alias("med")
    )
    mad = (
        ev.join(F.broadcast(med), F.col("event_type") == F.col("et"))
        .groupBy("et", "med")
        .agg(
            F.round(F.expr(pct("abs(value - med)", 0.5, exact)), 4).alias("mad")
        )
    )
    return (
        ev.join(F.broadcast(mad), F.col("event_type") == F.col("et"))
        .filter(F.abs(F.col("value") - F.col("med")) > 3 * F.col("mad"))
        .select("event_id", "event_type", "value", "med", "mad")
    )


@register(
    "q_window_first_last",
    oracle="""
    SELECT o_orderkey, o_custkey,
      first_value(o_totalprice) OVER w AS first_price,
      last_value(o_totalprice) OVER w AS last_price,
      nth_value(o_totalprice, 2) OVER w AS second_price
    FROM orders
    WINDOW w AS (
      PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
    )
    """,
)
def q_window_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B14′ boundary-value analytic windows: each order alongside its
    customer's first, latest, and second-ever order totals
    (first_value / last_value / nth_value over the full-partition
    frame) — the "compare to customer's first purchase" cohort shape.

    Plan: one shuffle on o_custkey, one sort per partition; the
    unbounded-both frame means Spark computes the boundary values once
    per partition and broadcasts them down the rows — no per-row
    re-aggregation.  The order-by carries o_orderkey as a tiebreak so
    both engines agree on which row is "first" under equal dates;
    the values are copies, not arithmetic, so no float policy is
    needed."""
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.asc_nulls_last("o_orderdate"), "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.first("o_totalprice").over(w).alias("first_price"),
        F.last("o_totalprice").over(w).alias("last_price"),
        F.nth_value("o_totalprice", 2).over(w).alias("second_price"),
    )


@register(
    "q_linear_fit",
    oracle="""
    SELECT l_returnflag,
      round(regr_slope(l_extendedprice, l_quantity), 6) AS slope,
      round(regr_intercept(l_extendedprice, l_quantity), 6) AS intercept,
      round(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
      CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_linear_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B9 regression aggregates: per-group least-squares fit of price
    on quantity (slope/intercept/R²) — the trend-extraction shape of
    an analytics dashboard and the drift-DETECTION regression a data
    pipeline fits over time buckets.  Single-pass covariance
    aggregates (regr_*), so one scan + one bounded shuffle; rounded to
    6dp because both engines accumulate (co)variances in update order
    (the q_stats_agg ulp policy)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.regr_slope("l_extendedprice", "l_quantity"), 6).alias("slope"),
        F.round(F.regr_intercept("l_extendedprice", "l_quantity"), 6).alias("intercept"),
        F.round(F.regr_r2("l_extendedprice", "l_quantity"), 6).alias("r2"),
        F.regr_count("l_extendedprice", "l_quantity").alias("n"),
    )


@register(
    "q_unpivot",
    oracle="""
    SELECT l_orderkey, l_linenumber, metric, val
    FROM (
      SELECT l_orderkey, l_linenumber,
        l_quantity AS quantity, l_extendedprice AS extendedprice,
        l_discount AS discount, l_tax AS tax
      FROM lineitem
    )
    UNPIVOT (val FOR metric IN (quantity, extendedprice, discount, tax))
    """,
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B28′ UNPIVOT (melt) — the inverse of q_pivot: widen-to-long the
    four lineitem measures into (metric, val) rows, the shape that
    feeds generic per-metric aggregation/charting and the stack step
    of a metrics store.

    Plan: unpivot is a flat map-side expression (Spark compiles it to
    an `Expand` node — each input row emits 4 rows in the same task,
    no shuffle, no join); column pruning still reaches the scan, so
    at 100 TB this reads exactly the 6 projected columns and never
    exchanges.  NULL cells are dropped to match the SQL-standard
    UNPIVOT default (EXCLUDE NULLS — what DuckDB does; Spark's
    unpivot keeps them; fixture-caught)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.select(
            "l_orderkey",
            "l_linenumber",
            F.col("l_quantity").alias("quantity"),
            F.col("l_extendedprice").alias("extendedprice"),
            F.col("l_discount").alias("discount"),
            F.col("l_tax").alias("tax"),
        )
        .unpivot(
            ["l_orderkey", "l_linenumber"],
            ["quantity", "extendedprice", "discount", "tax"],
            "metric",
            "val",
        )
        .filter(F.col("val").isNotNull())
    )


@register(
    "q_ab_ttest",
    oracle="""
    WITH g AS (
      SELECT event_type,
        COUNT(*) AS n,
        round(avg(value), 6) AS mean,
        round(var_samp(value), 6) AS var
      FROM events WHERE event_type IN ('click', 'view')
      GROUP BY event_type
    )
    SELECT a.n AS n_a, b.n AS n_b, a.mean AS mean_a, b.mean AS mean_b,
      round((a.mean - b.mean)
            / sqrt(a.var / a.n + b.var / b.n), 6) AS t_stat
    FROM (SELECT * FROM g WHERE event_type = 'click') a
    CROSS JOIN (SELECT * FROM g WHERE event_type = 'view') b
    """,
)
def q_ab_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B statistical comparison (Welch's t statistic) between the
    click and view cohorts' values — the experiment-analysis readout a
    warehouse serves daily.  Means/variances are rounded at the
    aggregate (single-pass accumulation ulps, the q_stats_agg policy);
    the t statistic is then plain arithmetic on identical doubles with
    its own 6dp guard.

    Plan: one scan with the cohort filter pushed down, one
    2-group aggregate, then a 1×1 join — the entire statistic moves
    two rows over the network at any scale."""
    ev = load_table(spark, sf_dir, "events")
    g = (
        ev.filter(F.col("event_type").isin("click", "view"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("value"), 6).alias("mean"),
            F.round(F.var_samp("value"), 6).alias("var"),
        )
    )
    a = g.filter(F.col("event_type") == "click").select(
        F.col("n").alias("n_a"), F.col("mean").alias("mean_a"), F.col("var").alias("var_a")
    )
    b = g.filter(F.col("event_type") == "view").select(
        F.col("n").alias("n_b"), F.col("mean").alias("mean_b"), F.col("var").alias("var_b")
    )
    return a.join(b).select(
        "n_a",
        "n_b",
        "mean_a",
        "mean_b",
        F.round(
            (F.col("mean_a") - F.col("mean_b"))
            / F.sqrt(F.col("var_a") / F.col("n_a") + F.col("var_b") / F.col("n_b")),
            6,
        ).alias("t_stat"),
    )


@register(
    "q_autocorr",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS rev
      FROM orders GROUP BY CAST(o_orderdate AS DATE)
    ),
    lagged AS (
      SELECT rev, lag(rev) OVER (ORDER BY day) AS prev
      FROM daily
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
      round(corr(rev, prev), 6) AS acf1
    FROM lagged WHERE prev IS NOT NULL
    """,
)
def q_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of daily revenue — the seasonality /
    momentum probe of a time-series health check (an ACF near 0 says
    daily totals are independent; near 1 says strong day-over-day
    persistence, e.g. weekly cycles aliasing).

    Plan: the fact table reduces to |days| rows in one keyed
    aggregate; the lag window and corr then run on the bounded spine
    (the q_interpolate global-window exception).  Revenue sums are
    decimal-exact; corr carries the single-pass 6dp guard."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        dsum("o_totalprice", 14, 2).alias("rev")
    )
    w = Window.orderBy(F.asc_nulls_last("day"))
    lagged = daily.select("rev", F.lag("rev").over(w).alias("prev")).filter(
        F.col("prev").isNotNull()
    )
    return lagged.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.round(F.corr("rev", "prev"), 6).alias("acf1"),
    )


@register(
    "q_rfm_segmentation",
    oracle=f"""
    WITH per_cust AS (
      SELECT o_custkey,
        datediff('day', MAX(CAST(o_orderdate AS DATE)),
                 (SELECT MAX(CAST(o_orderdate AS DATE)) FROM orders)) AS recency,
        COUNT(*) AS frequency,
        {sql_dsum('o_totalprice', '14,2')} AS monetary
      FROM orders GROUP BY o_custkey
    ),
    th AS (
      SELECT round(quantile_cont(recency, 0.5), 4) AS r_med,
        round(quantile_cont(CAST(frequency AS DOUBLE), 0.5), 4) AS f_med,
        round(quantile_cont(monetary, 0.5), 4) AS m_med
      FROM per_cust
    )
    SELECT recency <= r_med AS r_high, frequency > f_med AS f_high,
      monetary > m_med AS m_high,
      COUNT(*) AS n_customers,
      round(CAST(SUM(CAST(monetary AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 4)
        AS avg_monetary
    FROM per_cust CROSS JOIN th
    GROUP BY recency <= r_med, frequency > f_med, monetary > m_med
    """,
)
def q_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation (recency / frequency / monetary,
    median split → 8 segments): the classic BI cohorting every
    warehouse dashboard ships.  High-R means RECENT (recency days ≤
    median).

    Plan: one customer-keyed aggregate over the fact table, a 1-row
    median threshold frame broadcast back (never an ntile window over
    the customer table — the same bounded-thresholds pattern as
    q_winsorize), and a final ≤8-group aggregate.  Monetary goes
    through decimal-exact sums; medians take the 4dp interpolation
    guard; the segment predicates then compare identical doubles.
    The corpus-max order date is a scalar subquery (one row,
    broadcast), so recency needs no second scan."""
    o = load_table(spark, sf_dir, "orders")
    maxd = o.agg(F.max(F.col("o_orderdate").cast("date")).alias("maxd"))
    per_cust = (
        o.groupBy("o_custkey")
        .agg(
            F.max(F.col("o_orderdate").cast("date")).alias("last_order"),
            F.count(F.lit(1)).alias("frequency"),
            dsum("o_totalprice", 14, 2).alias("monetary"),
        )
        .join(F.broadcast(maxd))
        .select(
            F.datediff("maxd", "last_order").alias("recency"),
            "frequency",
            "monetary",
        )
        # consumed by the threshold agg AND the final segmentation —
        # checkpoint the bounded per-customer aggregate (CSE policy)
        # A/B: sf0.1 q_rfm_segmentation 0.80 s with it vs 0.87 s without (IQR 0.02, 3/5 pairs)
        .localCheckpoint(eager=False)
    )
    th = per_cust.agg(
        F.round(F.expr("percentile(recency, 0.5)"), 4).alias("r_med"),
        F.round(F.expr("percentile(CAST(frequency AS DOUBLE), 0.5)"), 4).alias("f_med"),
        F.round(F.expr("percentile(monetary, 0.5)"), 4).alias("m_med"),
    )
    return (
        per_cust.join(F.broadcast(th))
        .groupBy(
            (F.col("recency") <= F.col("r_med")).alias("r_high"),
            (F.col("frequency") > F.col("f_med")).alias("f_high"),
            (F.col("monetary") > F.col("m_med")).alias("m_high"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            # re-enter DECIMAL for the segment sum: monetary is an
            # exact 2dp value rendered as double, so the cast recovers
            # it exactly and the sum is order-insensitive (a raw double
            # sum differs in last ulps between engines — review-caught
            # numeric-policy violation)
            F.round(
                F.sum(F.col("monetary").cast("decimal(18,2)")).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("avg_monetary"),
        )
    )


@register(
    "q_market_basket",
    oracle="""
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS c_ab
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey
    ),
    freq AS (SELECT l_partkey, COUNT(*) AS c FROM items GROUP BY l_partkey),
    tot AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS DOUBLE) AS n FROM items)
    SELECT part_a, part_b, c_ab,
      round((c_ab * n) / (fa.c * fb.c), 6) AS lift
    FROM pairs
    JOIN freq fa ON part_a = fa.l_partkey
    JOIN freq fb ON part_b = fb.l_partkey
    CROSS JOIN tot
    WHERE c_ab >= 2
    ORDER BY lift DESC, part_a, part_b LIMIT 50
    """,
)
def q_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association: top-50 part pairs by LIFT
    (P(a,b) / (P(a)·P(b)) over orders) with joint support ≥ 2 — the
    co-purchase miner behind "frequently bought together".

    Plan: the pair generation is a SELF-JOIN ON THE ORDER KEY — both
    sides shuffle once on l_orderkey and the quadratic blowup is
    bounded by basket size (≤7 lines/order in TPC-H, ~tens in retail),
    never corpus-quadratic — the same bounded-block principle as the
    dedup band buckets.  Item frequencies are vocabulary-sized joins
    (unhinted, AQE); totals are 1-row broadcasts; top-50 is
    TakeOrderedAndProject on the rounded lift.  Lift divides exact
    integer-derived doubles: c_ab·n and fa·fb are exact, the single
    division is deterministic, rounded 6dp for belt."""
    li = load_table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    a = items.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_a"))
    b = items.select(
        F.col("l_orderkey").alias("ok2"), F.col("l_partkey").alias("part_b")
    )
    pairs = (
        a.join(b, (F.col("ok") == F.col("ok2")) & (F.col("part_a") < F.col("part_b")))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("c_ab"))
    )
    freq = items.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("c"))
    tot = items.agg(F.countDistinct("l_orderkey").cast("double").alias("n"))
    fa = freq.select(F.col("l_partkey").alias("pa"), F.col("c").alias("ca"))
    fb = freq.select(F.col("l_partkey").alias("pb"), F.col("c").alias("cb"))
    return (
        pairs.filter(F.col("c_ab") >= 2)
        .join(fa, F.col("part_a") == F.col("pa"))
        .join(fb, F.col("part_b") == F.col("pb"))
        .join(F.broadcast(tot))
        .select(
            "part_a",
            "part_b",
            "c_ab",
            F.round(
                (F.col("c_ab") * F.col("n")) / (F.col("ca") * F.col("cb")), 6
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), "part_a", "part_b")
        .limit(50)
    )


@register(
    "q_benford",
    oracle="""
    WITH d AS (
      SELECT CAST(substr(CAST(CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100
                               AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS digit
      FROM orders WHERE o_totalprice > 0
    ),
    c AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY digit),
    t AS (SELECT CAST(SUM(n) AS DOUBLE) AS total FROM c)
    SELECT digit, n,
      round(n / total, 6) AS observed,
      round(log10(1.0 + 1.0 / digit), 6) AS expected
    FROM c CROSS JOIN t
    """,
)
def q_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order totals: observed vs
    expected log10(1 + 1/d) leading-digit frequencies — the classic
    fabricated-data / unit-mixing detector an ingest QA pass runs on
    money columns (human-invented numbers overuse 5-9; a currency
    rescale shifts the whole curve).

    Plan: ONE scan → 9-group aggregate → 1-row total broadcast: nine
    rows over the network at any scale.  The leading digit is taken
    from the INTEGER cents' decimal string (exact decimal → bigint →
    varchar is engine-identical), never from float log10/division,
    which round-trips through libm and can misclassify exact powers
    of ten; only the two output ratios carry the 6dp guard."""
    o = load_table(spark, sf_dir, "orders")
    cents = (F.col("o_totalprice").cast("decimal(14,2)") * 100).cast("bigint")
    d = o.filter(F.col("o_totalprice") > 0).select(
        F.substring(cents.cast("string"), 1, 1).cast("int").alias("digit")
    )
    c = d.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    t = c.agg(F.sum("n").cast("double").alias("total"))
    return c.join(F.broadcast(t)).select(
        "digit",
        "n",
        F.round(F.col("n") / F.col("total"), 6).alias("observed"),
        F.round(F.log10(1.0 + 1.0 / F.col("digit")), 6).alias("expected"),
    )


@register("q_hll_incremental_distinct", oracle=None)
def q_hll_incremental_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-rollup distinct counting: per-day HLL sketches of active
    users, unioned into period totals WITHOUT re-touching the raw
    events — the materialized-rollup pattern that makes "distinct users
    this quarter" a merge of 90 pre-aggregated sketches instead of a
    quarter-long rescan.  This is the one aggregate that exact
    pre-aggregation cannot provide (distinct doesn't sum), which is
    why warehouses ship sketch columns (Datasketches HLL — public,
    Spark 3.5+ built-in).

    Registered rows-only: the sketch binary and its estimate are
    engine-specific (DuckDB's approx_count_distinct uses a different
    sketch), so the driver checks shape; the ±5% accuracy vs the exact
    count and the merge-associativity invariant are pinned in
    tests/test_mlprep.py.

    Plan: one scan → per-day hll_sketch_agg (map-side partials, one
    small binary per day) → hll_union_agg over |days| rows.  At 100 TB
    the daily sketches live in the rollup table and the union is
    O(days), not O(events)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("sketch"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("n_events").alias("n_events"),
        F.hll_sketch_estimate(F.hll_union_agg("sketch"))
        .cast("bigint")
        .alias("est_distinct_users"),
    )


@register(
    "q_rollup_merge",
    oracle="""
    WITH half AS (
      SELECT l_returnflag, l_orderkey % 2 AS h,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2))) AS DECIMAL(16,2)) AS s,
        COUNT(*) AS n,
        MIN(l_extendedprice) AS mn, MAX(l_extendedprice) AS mx
      FROM lineitem GROUP BY l_returnflag, l_orderkey % 2
    )
    SELECT l_returnflag,
      CAST(SUM(s) AS DOUBLE) AS total,
      CAST(SUM(n) AS BIGINT) AS n_rows,
      MIN(mn) AS min_price, MAX(mx) AS max_price,
      CAST(SUM(s) AS DOUBLE) / SUM(n) AS avg_price
    FROM half GROUP BY l_returnflag
    """,
)
def q_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable aggregate state — the algebra that makes incremental
    rollups valid: aggregate two disjoint shards (orderkey parity
    stands in for 'yesterday's rollup' + 'today's micro-batch') into
    partial states (sum, count, min, max), then MERGE the partials and
    derive the final stats.  The merged result provably equals a
    direct aggregate because sum/count/min/max are commutative
    monoids and avg is DERIVED from merged sum/count — never averaged
    across shards (avg-of-avgs is the classic wrong answer).

    Plan: the partial aggregate keys on (group, shard) — map-side
    combine works as usual — and the merge aggregate keys on the
    group alone, touching only |groups|·|shards| partial rows.  This
    is exactly refresh_rollup_incremental's correctness argument
    (sources/sinks.py) as an oracle-checked query; decimal-exact sums
    make the merge bit-identical to the direct aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    half = li.groupBy(
        "l_returnflag", (F.col("l_orderkey") % 2).alias("h")
    ).agg(
        F.sum(F.col("l_extendedprice").cast("decimal(14,2)"))
        .cast("decimal(16,2)")
        .alias("s"),
        F.count(F.lit(1)).alias("n"),
        F.min("l_extendedprice").alias("mn"),
        F.max("l_extendedprice").alias("mx"),
    )
    return half.groupBy("l_returnflag").agg(
        F.sum("s").cast("double").alias("total"),
        F.sum("n").cast("bigint").alias("n_rows"),
        F.min("mn").alias("min_price"),
        F.max("mx").alias("max_price"),
        (F.sum("s").cast("double") / F.sum("n")).alias("avg_price"),
    )


@register(
    "q_equidepth_bins",
    oracle="""
    WITH th AS (
      SELECT round(quantile_cont(o_totalprice, 0.25), 4) AS q1,
        round(quantile_cont(o_totalprice, 0.50), 4) AS q2,
        round(quantile_cont(o_totalprice, 0.75), 4) AS q3
      FROM orders
    )
    SELECT CASE
        WHEN o_totalprice <= q1 THEN 0
        WHEN o_totalprice <= q2 THEN 1
        WHEN o_totalprice <= q3 THEN 2
        ELSE 3 END AS bin,
      COUNT(*) AS n,
      MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi
    FROM orders CROSS JOIN th
    GROUP BY 1
    """,
)
def q_equidepth_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (quartile) binning of order totals — the feature
    bucketizer of an ML pipeline and the histogram equalizer of a BI
    layer (q_histogram is the equi-WIDTH twin).  Each bin lands ~25%
    of rows regardless of skew.

    Plan: thresholds are ONE 1-row percentile aggregate broadcast
    back onto the scan — never an ntile window, which would globally
    sort the fact table to produce the same labels.  Thresholds carry
    the 4dp interpolation guard; bin assignment then compares
    identical doubles in both engines."""
    o = load_table(spark, sf_dir, "orders")
    # r13: the EXACT percentile buffers all values in its partial agg,
    # and the scan is one partition on single-row-group files — spread
    # the 1-column projection so the partials run at shuffle width and
    # per-task state stays bounded at scale (guide §2.5/§5; the
    # q_robust_scale exact-path shape.  A/B: med 1.44→1.34 and
    # 2.23→2.04 on two windows, min neutral).
    th = spread(o.select("o_totalprice")).agg(
        F.round(F.expr("percentile(o_totalprice, 0.25)"), 4).alias("q1"),
        F.round(F.expr("percentile(o_totalprice, 0.50)"), 4).alias("q2"),
        F.round(F.expr("percentile(o_totalprice, 0.75)"), 4).alias("q3"),
    )
    binned = o.join(F.broadcast(th)).select(
        F.when(F.col("o_totalprice") <= F.col("q1"), 0)
        .when(F.col("o_totalprice") <= F.col("q2"), 1)
        .when(F.col("o_totalprice") <= F.col("q3"), 2)
        .otherwise(3)
        .alias("bin"),
        "o_totalprice",
    )
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("o_totalprice").alias("lo"),
        F.max("o_totalprice").alias("hi"),
    )


_CATALOG_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


@register(
    "q_catalog_summary",
    oracle=" UNION ALL ".join(
        f"SELECT '{t}' AS table_name, CAST(COUNT(*) AS BIGINT) AS n_rows FROM {t}"
        for t in _CATALOG_TABLES
    ),
)
def q_catalog_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog inventory: one row per registered table with its row
    count — the first query a user migrating from the reference
    warehouse runs against the engine (the COUNT(*) parity check of
    A20 widened to the whole catalog; per-column depth is
    q_table_profile).

    Plan: ten parquet COUNT(*)s answered from footer STATISTICS — no
    column chunk is read, so the whole inventory costs file-listing
    plus metadata regardless of data volume; the union is ten 1-row
    frames."""
    parts = [
        load_table(spark, sf_dir, t).agg(
            F.lit(t).alias("table_name"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        )
        for t in _CATALOG_TABLES
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


@register("q_audience_overlap_hll", oracle=None)
def q_audience_overlap_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-algebra set intersection: estimated user-audience overlap
    between every pair of event types via HLL inclusion-exclusion
    (|A∩B| ≈ est(A) + est(B) − est(A∪B)) — "how many purchasers also
    viewed" WITHOUT a user-level self-join.  The exact form shuffles
    |users| rows per pair; this form ships one ~1.5 KB sketch per event
    type and does pure sketch math on a domain-bounded self-join.

    Rows-only (sketch estimates are engine-specific); the accuracy vs
    the exact intersection and the inclusion-exclusion identity are
    pinned in tests/test_mlprep.py.

    Plan: one events scan → |event_types| HLL partials (map-side
    combine) → broadcast self-join of a handful of sketch rows →
    hll_union + three estimates per pair.  At 100 TB the sketches come
    from the rollup table (q_hll_incremental_distinct's daily partials
    union per type), so pairwise overlap never re-touches raw events."""
    ev = load_table(spark, sf_dir, "events")
    sk = ev.groupBy("event_type").agg(F.hll_sketch_agg("user_id").alias("sk"))
    a = sk.select(
        F.col("event_type").alias("type_a"), F.col("sk").alias("sk_a")
    )
    b = sk.select(
        F.col("event_type").alias("type_b"), F.col("sk").alias("sk_b")
    )
    pairs = a.join(F.broadcast(b), F.col("type_a") < F.col("type_b"))
    est_a = F.hll_sketch_estimate("sk_a")
    est_b = F.hll_sketch_estimate("sk_b")
    est_u = F.hll_sketch_estimate(F.hll_union("sk_a", "sk_b"))
    return pairs.select(
        "type_a",
        "type_b",
        est_a.cast("bigint").alias("est_users_a"),
        est_b.cast("bigint").alias("est_users_b"),
        est_u.cast("bigint").alias("est_users_union"),
        F.greatest(est_a + est_b - est_u, F.lit(0.0))
        .cast("bigint")
        .alias("est_users_overlap"),
    )


@register(
    "q_topk_incremental",
    oracle="""
    WITH partials AS (
      SELECT o_orderkey, o_totalprice
      FROM (
        SELECT o_orderkey, o_totalprice,
          row_number() OVER (PARTITION BY o_orderkey % 4
                             ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders
      ) WHERE rn <= 10
    )
    SELECT o_orderkey, o_totalprice
    FROM (
      SELECT o_orderkey, o_totalprice,
        row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM partials
    ) WHERE rn <= 10
    """,
)
def q_topk_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable top-k state (the incremental-top-k refinement problem,
    EDBT'20 family): top-k is a MERGEABLE aggregate —
    topk(A ∪ B) = topk(topk(A) ∪ topk(B)) — so per-shard k-row states
    (here 4 shards standing in for daily partitions) merge into the
    exact global answer without re-touching shard data.  The oracle
    computes the same two-level form; q_topk's direct global form gives
    the identical result by the merge identity (deterministic total
    order: price DESC, orderkey).

    Plan: per-shard top-k is a WindowGroupLimit-pushed window (rank
    filter pushes the limit below the sort — each shard keeps k rows
    per partition BEFORE the shuffle); the merge ranks 4·k rows.
    At 100 TB: store each partition's k-row state in the rollup table;
    a new day's data updates ONE state, and any date-range top-k is a
    merge of |days|·k rows — never a fact-table rescan (the same
    partial-state algebra as q_rollup_merge / q_mv_incremental)."""
    o = load_table(spark, sf_dir, "orders")
    shard_w = Window.partitionBy(F.col("o_orderkey") % 4).orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    partials = (
        o.select(
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(shard_w).alias("rn"),
        )
        .filter(F.col("rn") <= 10)
        .drop("rn")
    )
    return (
        partials.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_totalprice")
    )


# q_class_balance pre-filter slack: keep ~25% extra plus an absolute
# floor so the binomial tail below n_min survivors is negligible; the
# exact survivor-count fallback makes correctness unconditional anyway.
_BALANCE_OVERSAMPLE = 1.25
_BALANCE_FLOOR = 64.0
# 13 hex chars = 52 bits — exactly representable in a double
_HASH_PREFIX_CHARS = 13
_HASH_PREFIX_SPACE = float(16**_HASH_PREFIX_CHARS)


def _md5_prefix_frac(col) -> "F.Column":
    """This row's md5 position in [0,1): the numeric value of the first
    13 hex chars of md5(col) over 16^13.  Lowercase-hex lexicographic
    order equals numeric prefix order, so a strict threshold on this
    fraction selects a lexicographic PREFIX of the md5 ordering."""
    return (
        F.conv(
            F.substring(F.md5(col.cast("string")), 1, _HASH_PREFIX_CHARS),
            16,
            10,
        ).cast("double")
        / F.lit(_HASH_PREFIX_SPACE)
    )


def _class_balance_survivors(docs: DataFrame) -> DataFrame:
    """Bound every per-language window partition to ~n_min rows BEFORE
    the rank: keep rows whose md5 fraction falls below the language's
    keep-fraction (n_min/n_lang, oversampled), verify per language that
    at least n_min rows survived (md5 is uniform, so this essentially
    always holds), and fall back to the whole language where it did not.

    Exactness: if ≥ n_min rows of a language have md5 prefix below the
    threshold, then EVERY rank-≤ n_min row does (a row at/above the
    threshold is lexicographically after all sub-threshold rows, so its
    rank exceeds the sub-threshold count) — the pre-filter can never
    drop a row the exact rank would keep.  The fallback covers the
    remaining measure-zero case, so the operator is exact, not
    approximate.  Returns survivors with `n_min` attached."""
    frac = _md5_prefix_frac(F.col("doc_id"))
    sized = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_lang"))
    cap = sized.agg(F.min("n_lang").alias("n_min"))
    thresh = sized.crossJoin(F.broadcast(cap)).select(
        "lang",
        "n_min",
        F.least(
            F.lit(1.0),
            (F.col("n_min") * _BALANCE_OVERSAMPLE + _BALANCE_FLOOR)
            / F.col("n_lang"),
        ).alias("keep_frac"),
    )
    # one conditional aggregate counts the sub-threshold rows per
    # language with the SAME comparison the filter below uses.  Joins
    # are NULL-SAFE: a NULL language is a real group (the oracle's
    # GROUP BY/PARTITION BY keep it) and an equi-join would silently
    # drop those rows (measured on the null-doc-meta fixture).
    thresh_t = thresh.withColumnsRenamed({"lang": "lang_t"})
    surv = (
        docs.join(
            F.broadcast(thresh_t),
            F.col("lang").eqNullSafe(F.col("lang_t")),
        )
        .groupBy("lang", "n_min", "keep_frac")
        .agg(F.count(F.when(frac < F.col("keep_frac"), 1)).alias("n_kept"))
        .select(
            F.col("lang").alias("lang_t"),
            "n_min",
            "keep_frac",
            (F.col("n_kept") >= F.col("n_min")).alias("prefilter_valid"),
        )
    )
    return (
        docs.join(
            F.broadcast(surv), F.col("lang").eqNullSafe(F.col("lang_t"))
        )
        .filter((~F.col("prefilter_valid")) | (frac < F.col("keep_frac")))
        .drop("lang_t")
    )


@register(
    "q_class_balance",
    oracle="""
    WITH keyed AS (
      SELECT doc_id, lang FROM documents WHERE doc_id IS NOT NULL
    ),
    sized AS (
      SELECT lang, COUNT(*) AS n FROM keyed GROUP BY lang
    ),
    cap AS (SELECT MIN(n) AS n_min FROM sized)
    SELECT doc_id, lang
    FROM (
      SELECT doc_id, lang,
        row_number() OVER (PARTITION BY lang
                           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      FROM keyed
    ) CROSS JOIN cap
    WHERE rn <= n_min
    """,
)
def q_class_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data prep: class-balanced downsampling — every language
    capped at the minority class's size, membership chosen by
    DETERMINISTIC md5 order (content-stable: re-running on a grown
    corpus keeps previously selected rows selected unless new rows
    hash earlier — no RNG, so the sample is reproducible and
    cross-engine identical, the q_sample_per_group policy applied to
    label balancing).

    Plan: class sizes are one |langs|-row aggregate; the cap is a
    1-row broadcast; a sampled md5-threshold pre-filter
    (_class_balance_survivors) bounds every per-language window
    partition to ~n_min·1.25+64 rows BEFORE the exact rank, so a
    dominant language (60% of a 100 TB corpus) never funnels into one
    sorting task — the rank's non-literal cap (a column, so Spark's
    WindowGroupLimit rewrite cannot fire) only ever sees pre-bounded
    partitions.  Three scans of documents, each a broadcast-joined
    map-side filter; the only shuffles are |langs|-row aggregates and
    the bounded window exchange.

    Key contract (ADVICE r10): doc_id must be non-NULL — it is the
    deterministic sampling key, and a NULL key has no md5 position
    (the pre-filter's frac is NULL so the strict `<` drops it, while
    the exact rank would place it by the engines' DIVERGENT null
    ordering — Spark NULLS FIRST, DuckDB NULLS LAST).  Filtered
    explicitly in both engine and oracle."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull()
    )
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        _class_balance_survivors(docs)
        .select(
            "doc_id",
            "lang",
            "n_min",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= F.col("n_min"))
        .select("doc_id", "lang")
    )


# ------------------------------------------------------ ordered string_agg


@register(
    "q_string_agg",
    oracle="""
    SELECT c_nationkey,
      CAST(COUNT(*) AS BIGINT) AS n_vips,
      string_agg(c_name, ',' ORDER BY c_name) AS vip_names
    FROM customer WHERE c_acctbal >= 9000
    GROUP BY c_nationkey
    """,
)
def q_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered LISTAGG/STRING_AGG: comma-joined VIP customer names per
    nation — the standard "denormalize a small group into one cell"
    reporting op.

    Spark has no ordered string_agg aggregate, so it is composed as
    ``array_join(array_sort(collect_list(name)))`` — one hash
    aggregate; the sort happens per-group on the collected array (the
    group is already filtered to the VIP tier, so the array is small
    by construction).  The deliberate input bound is the honest scale
    contract of ANY string_agg: an unbounded group would build an
    unbounded cell, in every engine."""
    c = load_table(spark, sf_dir, "customer")
    return (
        c.filter(F.col("c_acctbal") >= 9000)
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("n_vips"),
            F.array_join(F.array_sort(F.collect_list("c_name")), ",").alias(
                "vip_names"
            ),
        )
    )


# ---------------------------------------------------------- mode aggregate


@register(
    "q_mode_agg",
    oracle="""
    WITH c AS (
      SELECT o_orderstatus, o_orderpriority, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM orders GROUP BY 1, 2
    )
    SELECT o_orderstatus, o_orderpriority AS mode_priority, cnt
    FROM c
    QUALIFY row_number() OVER (
      PARTITION BY o_orderstatus ORDER BY cnt DESC, o_orderpriority
    ) = 1
    """,
)
def q_mode_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic MODE per group: the most frequent order priority
    per order status, ties broken by priority string — built-in
    ``mode()`` is tie-nondeterministic in BOTH engines, so the
    portable form is count + rank with an explicit total order.

    Plan: hash aggregate over the fact table (map-side partials),
    then a window over the ALREADY-AGGREGATED frame whose size is the
    key-domain product (|status|×|priority| ≤ 15 rows) — the window
    never sees data-scaled input, so this survives any corpus size."""
    o = load_table(spark, sf_dir, "orders")
    cnts = o.groupBy("o_orderstatus", "o_orderpriority").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.desc("cnt"), F.asc("o_orderpriority")
    )
    return (
        cnts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_orderstatus", F.col("o_orderpriority").alias("mode_priority"), "cnt"
        )
    )


# ---------------------------------------------------------- bit aggregates


@register(
    "q_bit_aggregates",
    oracle="""
    SELECT l_returnflag,
      bit_and(l_partkey) AS pk_and,
      bit_or(l_partkey)  AS pk_or,
      bit_xor(l_partkey) AS pk_xor,
      CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_bit_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise AND/OR/XOR aggregates per return flag — the aggregate
    family behind bitmap-index maintenance and feature-flag rollups.
    All three are associative and commutative, so Spark computes them
    with map-side partial aggregation in one shuffle, exactly like
    SUM; values are integers, so cross-engine equality is exact."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.bit_and("l_partkey").alias("pk_and"),
        F.bit_or("l_partkey").alias("pk_or"),
        F.bit_xor("l_partkey").alias("pk_xor"),
        F.count("*").alias("n"),
    )


# ---------------------------------------------------------- union by name


@register(
    "q_union_by_name",
    oracle="""
    SELECT * FROM (
      SELECT c_custkey AS id, c_name AS name, c_acctbal AS bal,
             'customer' AS kind
      FROM customer WHERE c_acctbal >= 9500
      UNION ALL BY NAME
      SELECT 'supplier' AS kind, s_name AS name, s_suppkey AS id
      FROM supplier WHERE s_acctbal >= 9500
    )
    """,
)
def q_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolving UNION: append two entity ledgers whose columns
    arrive in different orders and where one side lacks a column —
    ``unionByName(allowMissingColumns=True)`` aligns by NAME and
    null-fills the gap (DuckDB: UNION ALL BY NAME).  This is the
    batch-append shape of every long-lived ingest pipeline after a
    schema change (reference full-load + CDC merge, SURVEY.md §2.1
    A17): positional UNION would silently mis-bind columns."""
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    left = c.filter(F.col("c_acctbal") >= 9500).select(
        F.col("c_custkey").alias("id"),
        F.col("c_name").alias("name"),
        F.col("c_acctbal").alias("bal"),
        F.lit("customer").alias("kind"),
    )
    right = s.filter(F.col("s_acctbal") >= 9500).select(
        F.lit("supplier").alias("kind"),
        F.col("s_name").alias("name"),
        F.col("s_suppkey").alias("id"),
    )
    return left.unionByName(right, allowMissingColumns=True)


# ------------------------------------------------------------ GROUP BY ALL


@register(
    "q_group_by_all",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority,
      CAST(COUNT(*) AS BIGINT) AS n,
      {sql_dsum("o_totalprice", "14,2")} AS revenue
    FROM orders GROUP BY ALL
    """,
)
def q_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL (modern-SQL sugar, Spark 3.4+/DuckDB): every
    non-aggregate select item becomes a grouping key.  Catalyst
    resolves it to the identical hash aggregate as an explicit
    GROUP BY — this query pins that the sugar exists and that the
    resolved plan aggregates exactly like the written-out form."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
          COUNT(*) AS n,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS revenue
        FROM orders GROUP BY ALL
        """
    )


# ------------------------------------------------- NOT IN vs NOT EXISTS


@register(
    "q_not_in_nulls",
    oracle="""
    WITH probe AS (
      SELECT CASE WHEN o_totalprice < 5000 THEN NULL ELSE o_custkey END AS k
      FROM orders
    )
    SELECT
      (SELECT CAST(COUNT(*) AS BIGINT) FROM customer
        WHERE c_custkey NOT IN (SELECT k FROM probe)) AS not_in_cnt,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM probe p WHERE p.k = c.c_custkey))
        AS not_exists_cnt,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM customer
        WHERE c_custkey NOT IN (SELECT k FROM probe WHERE k IS NOT NULL))
        AS not_in_filtered_cnt
    """,
)
def q_not_in_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NOT IN / NULL trap, pinned: a NULL in the subquery makes
    ``NOT IN`` three-valued — no row can prove it is not-equal to
    NULL, so the count collapses to 0 — while NOT EXISTS and the
    null-filtered NOT IN return the intuitive anti-join count.

    Spark plans the three probes differently (null-aware anti join
    for NOT IN — a broadcast of the build side's null bit — vs a
    plain left-anti for NOT EXISTS); this query pins that all three
    agree with ANSI semantics, because a CDC pipeline that filters
    "keys not in the tombstone set" hits exactly this the day a
    tombstone key is NULL."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(
        """
        WITH probe AS (
          SELECT CASE WHEN o_totalprice < 5000 THEN NULL ELSE o_custkey END AS k
          FROM orders
        )
        SELECT
          (SELECT COUNT(*) FROM customer
            WHERE c_custkey NOT IN (SELECT k FROM probe)) AS not_in_cnt,
          (SELECT COUNT(*) FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM probe p WHERE p.k = c.c_custkey))
            AS not_exists_cnt,
          (SELECT COUNT(*) FROM customer
            WHERE c_custkey NOT IN (SELECT k FROM probe WHERE k IS NOT NULL))
            AS not_in_filtered_cnt
        """
    )


# --------------------------------------------------------- calendar edges


@register(
    "q_calendar_edges",
    oracle="""
    WITH d AS (SELECT DISTINCT o_orderdate::DATE AS day FROM orders)
    SELECT day,
      CAST(day + INTERVAL 1 MONTH AS DATE) AS plus_month,
      last_day(day) AS eom,
      CAST(weekofyear(day) AS INT) AS iso_week,
      CAST(isodow(day) - 1 AS INT) AS weekday_mon0,
      CAST(date_diff('day', DATE '1995-01-01', day) AS INT) AS days_since_epoch0
    FROM d
    """,
)
def q_calendar_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar edge-case battery over the live date domain: month
    arithmetic with end-of-month clamping (Jan 31 + 1 month = Feb 29
    on leap years — both engines clamp), last_day, ISO week numbers
    (week 53 spillover), Monday-based weekday, and day deltas.  These
    are the expressions every partition-pruning layout and retention
    rule is built from; a silent engine disagreement here corrupts
    daily partitions at the year boundary, so the whole battery is
    oracle-pinned on the distinct date domain (bounded; one narrow
    DISTINCT over the scan)."""
    o = load_table(spark, sf_dir, "orders")
    d = o.select(F.col("o_orderdate").cast("date").alias("day")).distinct()
    return d.select(
        "day",
        F.add_months("day", 1).alias("plus_month"),
        F.last_day("day").alias("eom"),
        F.weekofyear("day").alias("iso_week"),
        F.weekday("day").alias("weekday_mon0"),
        F.datediff("day", F.lit("1995-01-01").cast("date")).alias(
            "days_since_epoch0"
        ),
    )


# ----------------------------------------------------------- 2-D histogram


@register(
    "q_histogram_2d",
    oracle="""
    SELECT
      CAST(least(floor(l_extendedprice / 10000), 9) AS INT) AS price_bin,
      CAST(floor((l_quantity - 1) / 10) AS INT) AS qty_bin,
      CAST(COUNT(*) AS BIGINT) AS n,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
    FROM lineitem GROUP BY 1, 2
    """,
)
def q_histogram_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-dimensional fixed-width histogram (price × quantity) — the
    heatmap / joint-distribution profile behind data-quality drift
    checks and density sketches.  Binning is a pure projection
    (floor + clamp, whole-stage codegen), so the whole query is one
    hash aggregate on the bounded 10×5 bin grid; double division by
    an integer constant is bitwise identical across engines."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy(
            F.least(F.floor(F.col("l_extendedprice") / 10000), F.lit(9))
            .cast("int")
            .alias("price_bin"),
            F.floor((F.col("l_quantity") - 1) / 10).cast("int").alias("qty_bin"),
        )
        .agg(
            F.count("*").alias("n"),
            dsum("l_extendedprice").alias("revenue"),
        )
    )


# ------------------------------------------------- chi-square independence

_SQL_SORTED_DSUM = (
    "list_reduce(list_prepend(CAST(0 AS DOUBLE), list_sort(list({t}))),"
    " (a, b) -> a + b)"
)


@register(
    "q_chi2_independence",
    oracle=f"""
    WITH cells AS (
      SELECT l_returnflag AS rf, l_linestatus AS ls,
        CAST(COUNT(*) AS BIGINT) AS obs
      FROM lineitem GROUP BY 1, 2
    ),
    rt AS (SELECT rf, CAST(SUM(obs) AS BIGINT) AS rtot FROM cells GROUP BY rf),
    ct AS (SELECT ls, CAST(SUM(obs) AS BIGINT) AS ctot FROM cells GROUP BY ls),
    n AS (SELECT CAST(SUM(obs) AS BIGINT) AS tot FROM cells),
    contrib AS (
      SELECT tot,
        (CAST(obs AS DOUBLE)
          - CAST(rtot AS DOUBLE) * CAST(ctot AS DOUBLE) / CAST(tot AS DOUBLE))
        * (CAST(obs AS DOUBLE)
          - CAST(rtot AS DOUBLE) * CAST(ctot AS DOUBLE) / CAST(tot AS DOUBLE))
        / (CAST(rtot AS DOUBLE) * CAST(ctot AS DOUBLE) / CAST(tot AS DOUBLE))
          AS x
      FROM cells JOIN rt USING (rf) JOIN ct USING (ls) CROSS JOIN n
    )
    -- grouped on the (constant) grand total so an EMPTY input yields
    -- zero rows on both engines, not SQL's ungrouped 1-NULL-row
    SELECT
      {_SQL_SORTED_DSUM.format(t='x')} AS chi2,
      CAST((SELECT COUNT(*) FROM rt) - 1 AS BIGINT)
        * CAST((SELECT COUNT(*) FROM ct) - 1 AS BIGINT) AS dof,
      tot AS n_rows
    FROM contrib GROUP BY tot
    """,
)
def q_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence between return flag and line
    status — the categorical-drift detector of a data-quality suite
    (are two label columns still independent after an ingest change?).

    The contingency table is ONE map-side-combined hash aggregate over
    the fact table; row/column marginals and the grand total are then
    aggregates of the ≤|rf|×|ls| cell frame, so everything after the
    first shuffle is key-domain-bounded.  Expected counts use
    double-cast marginal products (bigint×bigint would overflow at
    10^11 rows); the final statistic folds the per-cell contributions
    in sorted order (q_embedding_centroids trick) so the float sum is
    partition-order-independent and engine-exact."""
    li = load_table(spark, sf_dir, "lineitem")
    cells = (
        li.groupBy(F.col("l_returnflag").alias("rf"), F.col("l_linestatus").alias("ls"))
        .agg(F.count("*").alias("obs"))
        # A/B: sf0.1 q_chi2_independence 0.63 s with it vs 1.19 s without (IQR 0.03, 5/5 pairs)
        .localCheckpoint(eager=False)  # tiny; consumed by 4 branches
    )
    rt = cells.groupBy("rf").agg(F.sum("obs").alias("rtot"))
    ct = cells.groupBy("ls").agg(F.sum("obs").alias("ctot"))
    n = cells.agg(F.sum("obs").alias("tot"))
    nr = rt.agg((F.count("*") - 1).alias("r1"))
    nc = ct.agg((F.count("*") - 1).alias("c1"))
    exp = (
        F.col("rtot").cast("double")
        * F.col("ctot").cast("double")
        / F.col("tot").cast("double")
    )
    contrib = (
        cells.join(rt, "rf")
        .join(ct, "ls")
        .crossJoin(F.broadcast(n))
        .select(
            (
                (F.col("obs").cast("double") - exp)
                * (F.col("obs").cast("double") - exp)
                / exp
            ).alias("x"),
            "tot",
        )
    )
    folded = contrib.groupBy("tot").agg(
        F.aggregate(
            F.array_sort(F.collect_list("x")), F.lit(0.0), lambda a, b: a + b
        ).alias("chi2")
    )
    return (
        folded.crossJoin(F.broadcast(nr))
        .crossJoin(F.broadcast(nc))
        .select(
            "chi2",
            (F.col("r1") * F.col("c1")).alias("dof"),
            F.col("tot").alias("n_rows"),
        )
    )


# --------------------------------------------------------- Gini coefficient


@register(
    "q_gini_concentration",
    oracle="""
    WITH rev AS (
      SELECT s_nationkey, l_suppkey,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) * 100 AS BIGINT)
          AS cents
      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT s_nationkey, cents,
        row_number() OVER (
          PARTITION BY s_nationkey ORDER BY cents, l_suppkey
        ) AS i,
        COUNT(*) OVER (PARTITION BY s_nationkey) AS n_sup
      FROM rev
    )
    SELECT s_nationkey,
      CAST(MAX(n_sup) AS BIGINT) AS n_suppliers,
      2.0 * CAST(SUM(CAST(i AS DECIMAL(38,0)) * cents) AS DOUBLE)
        / (CAST(MAX(n_sup) AS DOUBLE)
           * CAST(SUM(CAST(cents AS DECIMAL(38,0))) AS DOUBLE))
      - (CAST(MAX(n_sup) AS DOUBLE) + 1.0) / CAST(MAX(n_sup) AS DOUBLE)
        AS gini
    FROM ranked GROUP BY s_nationkey
    """,
)
def q_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of supplier revenue concentration per nation —
    the inequality metric a corpus curator runs on source/domain token
    shares to spot a dataset dominated by one crawl host.

    Uses the rank formulation G = 2·Σ(i·xᵢ)/(n·Σxᵢ) − (n+1)/n over
    revenues sorted ascending with a (cents, suppkey) total order.
    The data-scaled work is the one fact-table hash aggregate; the
    rank window then runs on the per-(nation, supplier) AGGREGATE
    (key-domain-bounded, partitioned by nation — never a global
    single-task sort).  Rank-weighted sums go through DECIMAL(38,0)
    so i·cents stays exact where bigint would overflow at warehouse
    scale; the float expression tree is identical on both sides."""
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    rev = (
        li.join(F.broadcast(sup.select("s_suppkey", "s_nationkey")),
                F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_nationkey", "l_suppkey")
        .agg((F.sum(dec("l_extendedprice")) * 100).cast("bigint").alias("cents"))
    )
    w = Window.partitionBy("s_nationkey").orderBy("cents", "l_suppkey")
    ranked = rev.select(
        "s_nationkey",
        "cents",
        F.row_number().over(w).alias("i"),
        F.count("*").over(Window.partitionBy("s_nationkey")).alias("n_sup"),
    )
    n_d = F.max("n_sup").cast("double")
    return ranked.groupBy("s_nationkey").agg(
        F.max("n_sup").alias("n_suppliers"),
        (
            F.lit(2.0)
            * F.sum(F.col("i").cast("decimal(38,0)") * F.col("cents")).cast("double")
            / (n_d * F.sum(F.col("cents").cast("decimal(38,0)")).cast("double"))
            - (n_d + F.lit(1.0)) / n_d
        ).alias("gini"),
    )


# -------------------------------------------------- correlation matrix


_CORR_COLS = [
    ("quantity", "l_quantity"),
    ("extendedprice", "l_extendedprice"),
    ("discount", "l_discount"),
    ("tax", "l_tax"),
]


def _corr_matrix_oracle() -> str:
    sums = ["CAST(COUNT(*) AS DOUBLE) AS n"]
    for a, c in _CORR_COLS:
        sums.append(f"CAST(SUM(CAST({c} AS DECIMAL(12,2))) AS DOUBLE) AS s_{a}")
        sums.append(
            f"CAST(SUM(CAST({c} AS DECIMAL(12,2)) * CAST({c} AS DECIMAL(12,2)))"
            f" AS DOUBLE) AS ss_{a}"
        )
    pairs = []
    for i, (a, ca) in enumerate(_CORR_COLS):
        for b, cb in _CORR_COLS[i + 1 :]:
            sums.append(
                f"CAST(SUM(CAST({ca} AS DECIMAL(12,2)) * CAST({cb} AS DECIMAL(12,2)))"
                f" AS DOUBLE) AS sp_{a}_{b}"
            )
            pairs.append(
                f"SELECT '{a}' AS var1, '{b}' AS var2, "
                f"(n * sp_{a}_{b} - s_{a} * s_{b}) / "
                f"sqrt((n * ss_{a} - s_{a} * s_{a}) * (n * ss_{b} - s_{b} * s_{b}))"
                f" AS corr FROM s"
            )
    return f"WITH s AS (SELECT {', '.join(sums)} FROM lineitem)\n" + "\nUNION ALL ".join(
        pairs
    )


@register("q_corr_matrix", oracle=_corr_matrix_oracle())
def q_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix over the four lineitem
    measures — the feature-redundancy screen run before model
    training (drop one of any highly-correlated pair).

    Built from sufficient statistics, not per-pair passes: ONE hash
    aggregate computes every Σx, Σx², Σxy exactly in DECIMAL (the
    2-dp inputs and their products round-trip decimals exactly, so
    the sums are associative and partition-order-free), then all six
    correlations are pure float expressions over that single 1-row
    frame — the same fixed tree in DuckDB, hence bitwise equal with
    NO rounding tolerance, unlike built-in corr() which accumulates
    floats in partition order.  Scan cost: one pass regardless of how
    many pairs are requested."""
    li = load_table(spark, sf_dir, "lineitem")
    aggs = [F.count("*").cast("double").alias("n")]
    for a, c in _CORR_COLS:
        d = F.col(c).cast("decimal(12,2)")
        aggs.append(F.sum(d).cast("double").alias(f"s_{a}"))
        aggs.append(F.sum(d * d).cast("double").alias(f"ss_{a}"))
    pair_names = []
    for i, (a, ca) in enumerate(_CORR_COLS):
        for b, cb in _CORR_COLS[i + 1 :]:
            da = F.col(ca).cast("decimal(12,2)")
            db = F.col(cb).cast("decimal(12,2)")
            aggs.append(F.sum(da * db).cast("double").alias(f"sp_{a}_{b}"))
            pair_names.append((a, b))
    s = li.agg(*aggs)
    corrs = s.select(
        *[
            (
                (F.col("n") * F.col(f"sp_{a}_{b}") - F.col(f"s_{a}") * F.col(f"s_{b}"))
                / F.sqrt(
                    (F.col("n") * F.col(f"ss_{a}") - F.col(f"s_{a}") * F.col(f"s_{a}"))
                    * (F.col("n") * F.col(f"ss_{b}") - F.col(f"s_{b}") * F.col(f"s_{b}"))
                )
            ).alias(f"c_{a}_{b}")
            for a, b in pair_names
        ]
    )
    stack_args = ", ".join(
        f"'{a}', '{b}', c_{a}_{b}" for a, b in pair_names
    )
    return corrs.selectExpr(
        f"stack({len(pair_names)}, {stack_args}) AS (var1, var2, corr)"
    )


@register(
    "q_mutual_information",
    oracle="""
    WITH cells AS (
      SELECT l_returnflag AS rf, l_linestatus AS ls, COUNT(*) AS obs
      FROM lineitem GROUP BY 1, 2
    ),
    rt AS (SELECT rf, SUM(obs) AS rtot FROM cells GROUP BY rf),
    ct AS (SELECT ls, SUM(obs) AS ctot FROM cells GROUP BY ls),
    n AS (SELECT SUM(obs) AS tot FROM cells),
    terms AS (
      SELECT
        round((CAST(obs AS DOUBLE) / tot)
              * ln(CAST(obs AS DOUBLE) * tot
                   / (CAST(rtot AS DOUBLE) * ctot)), 6) AS mi_t,
        round(-(CAST(obs AS DOUBLE) / tot)
              * ln(CAST(obs AS DOUBLE) / tot), 6) AS hj_t
      FROM cells JOIN rt USING (rf) JOIN ct USING (ls) CROSS JOIN n
    ),
    hr AS (
      SELECT SUM(CAST(round(-(CAST(rtot AS DOUBLE) / tot)
                 * ln(CAST(rtot AS DOUBLE) / tot), 6) AS DECIMAL(18,6)))
        AS h_rf
      FROM rt CROSS JOIN n
    ),
    hc AS (
      SELECT SUM(CAST(round(-(CAST(ctot AS DOUBLE) / tot)
                 * ln(CAST(ctot AS DOUBLE) / tot), 6) AS DECIMAL(18,6)))
        AS h_ls
      FROM ct CROSS JOIN n
    ),
    mi AS (
      SELECT SUM(CAST(mi_t AS DECIMAL(18,6))) AS mi_nats,
             SUM(CAST(hj_t AS DECIMAL(18,6))) AS h_joint
      FROM terms
    )
    SELECT CAST(mi_nats AS DOUBLE) AS mi_nats,
      CAST(h_rf AS DOUBLE) AS h_rf,
      CAST(h_ls AS DOUBLE) AS h_ls,
      CAST(h_joint AS DOUBLE) AS h_joint,
      round(CAST(mi_nats AS DOUBLE)
            / least(CAST(h_rf AS DOUBLE), CAST(h_ls AS DOUBLE)), 6) AS nmi
    FROM mi CROSS JOIN hr CROSS JOIN hc
    """,
)
def q_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between two categorical columns (return flag
    × line status) in nats, with marginal/joint entropies and the
    min-entropy-normalized NMI — chi-square's companion statistic for
    categorical dependence, the feature-relevance score of a selection
    pass.

    Float policy (the q_chi2/q_retrieval_ndcg precedent): every
    transcendental TERM is rounded to 6dp immediately, then summed as
    DECIMAL(18,6) — exact, associative, partition-order-independent;
    the single final division is rounded once.  Scale: one map-side-
    combined hash agg to the |rf|×|ls| cell frame; everything after is
    key-domain-bounded (≤ dozens of rows)."""
    li = load_table(spark, sf_dir, "lineitem")
    cells = (
        li.groupBy(F.col("l_returnflag").alias("rf"), F.col("l_linestatus").alias("ls"))
        .agg(F.count("*").alias("obs"))
        # A/B: sf0.1 q_mutual_information 0.62 s with it vs 0.88 s without (IQR 0.09, 4/5 pairs)
        .localCheckpoint(eager=False)  # tiny; consumed by 4 branches
    )
    rt = cells.groupBy("rf").agg(F.sum("obs").alias("rtot"))
    ct = cells.groupBy("ls").agg(F.sum("obs").alias("ctot"))
    n = cells.agg(F.sum("obs").alias("tot"))

    def dsum6(col: F.Column, alias: str) -> F.Column:
        return F.sum(col.cast("decimal(18,6)")).alias(alias)

    obs_d = F.col("obs").cast("double")
    terms = (
        cells.join(rt, "rf")
        .join(ct, "ls")
        .crossJoin(F.broadcast(n))
        .select(
            F.round(
                (obs_d / F.col("tot"))
                * F.log(
                    obs_d * F.col("tot")
                    / (F.col("rtot").cast("double") * F.col("ctot"))
                ),
                6,
            ).alias("mi_t"),
            F.round(
                -(obs_d / F.col("tot")) * F.log(obs_d / F.col("tot")), 6
            ).alias("hj_t"),
        )
    )
    mi = terms.agg(dsum6(F.col("mi_t"), "mi_nats"), dsum6(F.col("hj_t"), "h_joint"))
    hr = (
        rt.crossJoin(F.broadcast(n))
        .select(
            F.round(
                -(F.col("rtot").cast("double") / F.col("tot"))
                * F.log(F.col("rtot").cast("double") / F.col("tot")),
                6,
            ).alias("t")
        )
        .agg(dsum6(F.col("t"), "h_rf"))
    )
    hc = (
        ct.crossJoin(F.broadcast(n))
        .select(
            F.round(
                -(F.col("ctot").cast("double") / F.col("tot"))
                * F.log(F.col("ctot").cast("double") / F.col("tot")),
                6,
            ).alias("t")
        )
        .agg(dsum6(F.col("t"), "h_ls"))
    )
    return (
        mi.crossJoin(F.broadcast(hr))
        .crossJoin(F.broadcast(hc))
        .select(
            F.col("mi_nats").cast("double").alias("mi_nats"),
            F.col("h_rf").cast("double").alias("h_rf"),
            F.col("h_ls").cast("double").alias("h_ls"),
            F.col("h_joint").cast("double").alias("h_joint"),
            F.round(
                F.col("mi_nats").cast("double")
                / F.least(F.col("h_rf").cast("double"), F.col("h_ls").cast("double")),
                6,
            ).alias("nmi"),
        )
    )
