"""Classic warehouse query shapes beyond the round-1 set (SURVEY.md §2.2
Tier B breadth): the remaining TPC-H plan patterns expressible over the
testdata tables — multi-fact joins with disjunctive residuals, two-level
aggregation, correlated scalar subqueries, anti-join opportunity scans.

Every query is the *plan shape* of its TPC-H counterpart adapted to the
testdata schema (no partsupp table; no l_shipmode/receiptdate columns —
see each docstring for the substitution), with a DuckDB oracle twin.
Reference anchor: these are the dimensional-warehouse queries the
reference's Redshift target exists to serve (reference README.md:3,
cdk_infrastructure/__init__.py Redshift cluster).

Money aggregates follow the exact-decimal policy (functions/exact.py):
SUM over DECIMAL(12,2), cast to DOUBLE at the edge, so hashes match the
oracle bitwise.  l_quantity is an integer-valued DOUBLE, so its sums and
averages are exact in any order in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators import register
from cdc_from_sql_and_nosql_to_data_warehouse_spark.sources.readers import load_table

_SQL_VOLUME = (
    "CAST(l_extendedprice AS DECIMAL(12,2))"
    " * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))"
)


def _volume() -> F.Column:
    one = F.lit(1).cast("decimal(3,2)")
    return F.col("l_extendedprice").cast("decimal(12,2)") * (
        one - F.col("l_discount").cast("decimal(3,2)")
    )


def _ts_range(col: str, lo: str, hi: str) -> F.Column:
    """Half-open ``[lo, hi)`` timestamp-range predicate — the one
    definition of the shipdate/orderdate window every seasonal query
    repeats (was hand-copied six times with two local-variable
    conventions; both boundary operators live here now)."""
    c = F.col(col)
    return (c >= F.lit(f"{lo} 00:00:00").cast("timestamp")) & (
        c < F.lit(f"{hi} 00:00:00").cast("timestamp")
    )


@register(
    "q_volume_shipping",
    oracle=f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      CAST(year(l_shipdate) AS INTEGER) AS l_year,
      CAST(SUM({_SQL_VOLUME}) AS DOUBLE) AS revenue
    FROM supplier
    JOIN lineitem ON s_suppkey = l_suppkey
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n1.n_name, n2.n_name, CAST(year(l_shipdate) AS INTEGER)
    """,
)
def q_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (volume shipping): bilateral trade revenue between
    two nations by ship year, where the supplier sits in one nation and
    the customer in the other.

    Plan: both nation lookups broadcast (25 rows); supplier joins
    without a hint — it is unbounded in principle, so AQE picks
    broadcast only when the runtime size allows (the q_range_join
    lesson).  The disjunctive nation-pair predicate runs as a residual
    AFTER the cheap dimension joins, so the two fact-fact shuffles
    (lineitem⋈orders on orderkey, ⋈customer on custkey) carry only the
    two-year shipdate slice, which is pushed to the lineitem scan."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        _ts_range("l_shipdate", "1996-01-01", "1998-01-01")
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    n1 = nat.select(F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation"))
    n2 = nat.select(F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation"))
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(sup, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(F.sum(_volume()).cast("double").alias("revenue"))
    )


@register(
    "q_market_share",
    oracle=f"""
    WITH allrev AS (
      SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
        {_SQL_VOLUME} AS volume,
        n2.n_name AS supp_nation
      FROM part
      JOIN lineitem ON p_partkey = l_partkey
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN region   ON n1.n_regionkey = r_regionkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'AMERICA' AND p_type = 'PROMO'
        AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    )
    SELECT o_year,
      COALESCE(CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN volume END) AS DOUBLE), 0.0)
        / CAST(SUM(volume) AS DOUBLE) AS mkt_share
    FROM allrev GROUP BY o_year
    """,
)
def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (national market share): NATION_3 suppliers' share
    of PROMO-part revenue sold into AMERICA customers, per order year.
    The share is a conditional-sum / total-sum ratio computed in ONE
    aggregation pass (no self-join, no second scan).

    Plan: the customer-side nation⋈region closure broadcasts (bounded
    domain); the PROMO-filtered part and the supplier⋈nation lookup
    carry no hint — part and supplier scale with the data, so AQE
    broadcasts them only while their runtime size allows.  The big shuffles are lineitem⋈orders and ⋈customer.
    Both decimal sums exit exact; the double division of two
    identical-valued doubles is bitwise deterministic."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(
        _ts_range("o_orderdate", "1996-01-01", "1998-01-01")
    )
    c = load_table(spark, sf_dir, "customer")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    cust_dim = (
        nat.join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey"))
        .select(F.col("n_nationkey").alias("cn_key"))
    )
    supp_dim = (
        sup.join(
            F.broadcast(nat.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))),
            F.col("s_nationkey") == F.col("sn_key"),
        ).select("s_suppkey", "supp_nation")
    )
    vol = _volume()
    return (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(cust_dim), F.col("c_nationkey") == F.col("cn_key"))
        .join(supp_dim, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            (
                F.coalesce(
                    F.sum(F.when(F.col("supp_nation") == "NATION_3", vol)).cast("double"),
                    F.lit(0.0),
                )
                / F.sum(vol).cast("double")
            ).alias("mkt_share")
        )
    )


@register(
    "q_product_profit",
    oracle=f"""
    SELECT n_name, CAST(year(o_orderdate) AS INTEGER) AS o_year,
      CAST(SUM({_SQL_VOLUME}) AS DOUBLE) AS profit
    FROM part
    JOIN lineitem ON p_partkey = l_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN nation   ON s_nationkey = n_nationkey
    WHERE p_name LIKE '%red%'
    GROUP BY n_name, CAST(year(o_orderdate) AS INTEGER)
    """,
)
def q_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit): profit on red-named parts
    by supplier nation and order year.  The testdata has no partsupp /
    ps_supplycost, so profit degrades to discounted revenue — the plan
    shape (part-name LIKE filter driving a 5-way join, two-key group)
    is what's being exercised.

    Plan: the LIKE-filtered part and the supplier⋈nation lookup are
    unhinted (both scale with the data; AQE broadcasts them while they
    fit); lineitem⋈orders is the one big shuffle;
    year extraction happens in the aggregate projection, not a
    pre-pass."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    supp_dim = sup.join(
        F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey", "n_name")
    return (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .join(supp_dim, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("n_name", F.year("o_orderdate").alias("o_year"))
        .agg(F.sum(_volume()).cast("double").alias("profit"))
    )


@register(
    "q_shipmode_priority",
    oracle="""
    SELECT l_returnflag,
      CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l_returnflag
    """,
)
def q_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipping modes and order priority): per lineitem
    category, how many high- vs low-priority orders shipped in a year.
    The testdata lineitem has no l_shipmode/receiptdate, so l_returnflag
    stands in as the category and l_shipdate as the date gate — the
    pattern (fact⋈fact join + complementary conditional counts) is the
    point.

    Plan: shipdate pushed to the lineitem scan, one shuffle join on
    orderkey, both CASE sums in a single aggregate pass."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        _ts_range("l_shipdate", "1996-01-01", "1997-01-01")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@register(
    "q_customer_distribution",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT OUTER JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '4-NOT SPECIFIED'
      GROUP BY c_custkey
    )
    GROUP BY c_count
    """,
)
def q_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape (customer order-count distribution): histogram of
    customers by number of qualifying orders, INCLUDING zero-order
    customers — the left outer join with the filter in the JOIN
    condition (not WHERE) is the semantic crux.

    Plan: two-level aggregation; the first group is on the join key
    itself so it reuses the join's hash partitioning (no extra
    exchange), the second shuffles the tiny (count, custdist) relation."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(
            o,
            (F.col("c_custkey") == F.col("o_custkey"))
            & (F.col("o_orderpriority") != "4-NOT SPECIFIED"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


@register(
    "q_promo_revenue",
    oracle=f"""
    SELECT CAST(100 AS DOUBLE)
      * COALESCE(CAST(SUM(CASE WHEN p_type = 'PROMO' THEN {_SQL_VOLUME} END) AS DOUBLE), 0.0)
      / CAST(SUM({_SQL_VOLUME}) AS DOUBLE) AS promo_revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
    """,
)
def q_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape (promotion effect): percentage of one month's
    revenue from PROMO parts — conditional-sum / total-sum in a single
    aggregation, month pushed to the lineitem scan.  The part side is
    unfiltered (every part's type decides the CASE), so it carries no
    broadcast hint — AQE picks the strategy at runtime."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        _ts_range("l_shipdate", "1996-03-01", "1996-04-01")
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    vol = _volume()
    return (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            (
                F.lit(100).cast("double")
                * F.coalesce(
                    F.sum(F.when(F.col("p_type") == "PROMO", vol)).cast("double"),
                    F.lit(0.0),
                )
                / F.sum(vol).cast("double")
            ).alias("promo_revenue")
        )
    )


@register(
    "q_small_qty_revenue",
    oracle="""
    WITH pa AS (
      SELECT l_partkey AS pa_partkey,
        CAST(0.2 AS DOUBLE) * AVG(l_quantity) AS qty_thresh
      FROM lineitem GROUP BY l_partkey
    )
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
      / CAST(7 AS DOUBLE) AS avg_yearly
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN pa ON pa_partkey = l_partkey
    WHERE p_brand = 'Brand#3' AND p_size < 10 AND l_quantity < qty_thresh
    """,
)
def q_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (small-quantity-order revenue): revenue that
    would vanish if below-fifth-of-average-quantity orders stopped, for
    one brand of small parts.  The correlated scalar subquery
    (per-part average quantity) decorrelates to a window average.

    Plan: ONE lineitem scan.  Because the part-side filter removes whole
    partkeys (never individual lineitem rows of a surviving part), the
    per-part average over the post-join rows equals the decorrelated
    grouped aggregate exactly — so a Window.partitionBy(l_partkey) AVG
    replaces the separate aggregate-and-join-back, which cost a second
    full fact-table scan plus an extra partkey shuffle (review-caught:
    the old plan showed 2 lineitem FileScans / 4 Exchanges; the plan is
    pinned single-scan in tests/test_plans.py).  The brand/size-filtered
    part is unhinted (AQE broadcasts it while small); l_quantity is an
    integer-valued double, so AVG is exact in any order and the 0.2×
    threshold compares identically in both engines."""
    from pyspark.sql.window import Window

    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") == "Brand#3") & (F.col("p_size") < 10)
    )
    qty_thresh = F.lit(0.2).cast("double") * F.avg("l_quantity").over(
        Window.partitionBy("l_partkey")
    )
    return (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .withColumn("qty_thresh", qty_thresh)
        .filter(F.col("l_quantity") < F.col("qty_thresh"))
        .agg(
            (
                F.sum(F.col("l_extendedprice").cast("decimal(12,2)")).cast("double")
                / F.lit(7).cast("double")
            ).alias("avg_yearly")
        )
    )


@register(
    "q_large_volume_customer",
    oracle="""
    SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice,
      total_qty
    FROM (
      SELECT l_orderkey, SUM(l_quantity) AS total_qty
      FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 300
    ) big
    JOIN orders   ON o_orderkey = big.l_orderkey
    JOIN customer ON c_custkey = o_custkey
    """,
)
def q_large_volume_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume customers): orders whose total
    quantity exceeds 300 units, with their customers.  The IN-subquery
    of the original is the same plan as aggregate-then-join: the HAVING
    cut runs BEFORE the joins, so only qualifying orderkeys (a tiny
    fraction) reach the orders/customer lookups.

    Plan: one shuffle to aggregate lineitem by orderkey (map-side
    partials), the surviving set joins orders then customer; at scale
    AQE converts both to broadcast joins because the HAVING output is
    small.  Integer-valued double quantities sum exactly."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 300)
    )
    return (
        big.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .select(
            "c_custkey", "c_name", "o_orderkey", "o_orderdate", "o_totalprice",
            "total_qty",
        )
    )


@register(
    "q_disjunctive_join",
    oracle=f"""
    SELECT CAST(SUM({_SQL_VOLUME}) AS DOUBLE) AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#3'  AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 20 AND 30)
    """,
)
def q_disjunctive_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (discounted revenue, disjunctive predicates):
    revenue over an OR of three brand/size/quantity conjunction groups.
    The crux is predicate placement: the join stays a plain equi-join
    on partkey and the disjunction runs as a post-join residual, while
    the OR-factored single-table prefilters (p_size >= 1, quantity
    bounds) still prune each side's scan.

    Plan: the factored prefilters (brand ∈ {12,23,3}, size ∈ [1,15],
    quantity ∈ [1,30] — each implied by every OR branch) are applied
    explicitly so they reach the scans; the filtered part side is
    unhinted (AQE broadcasts it while small); Catalyst keeps the OR
    residual out of the join condition so the build side stays
    hashable."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_quantity").between(1, 30)
    )
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_brand").isin("Brand#12", "Brand#23", "Brand#3")
        & F.col("p_size").between(1, 15)
    )
    branch = (
        (F.col("p_brand") == "Brand#12")
        & F.col("p_size").between(1, 5)
        & F.col("l_quantity").between(1, 11)
    ) | (
        (F.col("p_brand") == "Brand#23")
        & F.col("p_size").between(1, 10)
        & F.col("l_quantity").between(10, 20)
    ) | (
        (F.col("p_brand") == "Brand#3")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(20, 30)
    )
    return (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .filter(branch)
        .agg(F.sum(_volume()).cast("double").alias("revenue"))
    )


@register(
    "q_global_sales_opportunity",
    oracle="""
    WITH avg_bal AS (
      SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*)
        AS threshold
      FROM customer
      WHERE c_acctbal > 0
        AND c_mktsegment IN ('BUILDING', 'MACHINERY', 'AUTOMOBILE')
    )
    SELECT c_mktsegment, COUNT(*) AS numcust,
      CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS totacctbal
    FROM customer, avg_bal
    WHERE c_mktsegment IN ('BUILDING', 'MACHINERY', 'AUTOMOBILE')
      AND c_acctbal > threshold
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY c_mktsegment
    """,
)
def q_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (global sales opportunity): well-funded customers
    in target segments who have never ordered — a scalar AVG subquery
    feeding a filter plus a NOT EXISTS anti-join, grouped by segment.

    Plan: the scalar average is a one-row aggregate broadcast via cross
    join (no driver collect); the NOT EXISTS is a LEFT ANTI join on
    custkey — at scale the anti join shuffles on the key while the
    1-row threshold rides along for free.  Exact-decimal balance sums."""
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment").isin("BUILDING", "MACHINERY", "AUTOMOBILE")
    )
    o = load_table(spark, sf_dir, "orders")
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(
        (
            F.sum(F.col("c_acctbal").cast("decimal(12,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("threshold")
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("threshold"))
        .join(o, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(F.col("c_acctbal").cast("decimal(12,2)")).cast("double").alias("totacctbal"),
        )
    )


@register(
    "q_forecast_revenue",
    oracle=f"""
    SELECT CAST(SUM(
      CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(3,2))
    ) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape (forecasting revenue change): revenue lost if
    small-quantity mid-discount sales were eliminated for a year.

    The canonical scan-bound query: every predicate reaches the
    parquet scan (plan-tested pushdown family), the aggregate is one
    map-side partial SUM — zero joins, one exchange of a single
    decimal.  At 100 TB this is the query that measures raw scan + 
    codegen throughput and nothing else."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            _ts_range("l_shipdate", "1996-01-01", "1997-01-01")
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(12,2)")
                * F.col("l_discount").cast("decimal(3,2)")
            )
            .cast("double")
            .alias("revenue")
        )
    )


@register(
    "q_top_supplier",
    oracle=f"""
    WITH rev AS (
      SELECT l_suppkey AS supplier_no,
        CAST(SUM({_SQL_VOLUME}) AS DOUBLE) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN rev ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
    """,
)
def q_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape (top supplier): quarterly revenue per supplier,
    keep the supplier(s) achieving the maximum.

    Plan: one partial-agg shuffle builds the per-supplier revenue; the
    global max is a one-row aggregate broadcast back over it (the
    scalar subquery decorrelates to exactly this); the supplier
    dimension attaches by an unhinted equi-join.  Revenue equality is
    safe because both sides compare the same DECIMAL-exact sum cast
    once to double."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        _ts_range("l_shipdate", "1996-01-01", "1996-04-01")
    )
    # rev feeds both the max subquery and the equality filter:
    # checkpoint so lineitem is scanned and aggregated once
    rev = (
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.sum(_volume()).cast("double").alias("total_revenue"))
        # A/B: sf0.1 q_top_supplier 0.39 s with it vs 0.51 s without (IQR 0.06, 5/5 pairs)
        .localCheckpoint(eager=False)
    )
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    sup = load_table(spark, sf_dir, "supplier")
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("mx"))
        .join(sup, F.col("s_suppkey") == F.col("supplier_no"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@register(
    "q_waiting_supplier",
    oracle="""
    SELECT s_name, COUNT(*) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders ON o_orderkey = l1.l_orderkey
    WHERE o_orderstatus = 'F'
      AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
    GROUP BY s_name
    """,
)
def q_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting): in
    finished multi-supplier orders, count line items where THIS
    supplier shipped late (>60 days after order date — the repo's
    lateness predicate; testdata has no receipt/commit dates) and no
    OTHER supplier did.

    Plan: the fact side joins orders once; the EXISTS becomes a
    LEFT SEMI join and the NOT EXISTS a LEFT ANTI join, both equi on
    l_orderkey with the supplier-inequality (and lateness) as residual
    conditions — three shuffles on the same key, which AQE can
    co-locate, and no correlated re-scan per row."""
    sup = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY")
    l1 = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(late)
        .select("l_orderkey", "l_suppkey", "o_orderdate")
    )
    l2 = li.select(
        F.col("l_orderkey").alias("k2"), F.col("l_suppkey").alias("s2")
    )
    l3 = li.select(
        F.col("l_orderkey").alias("k3"),
        F.col("l_suppkey").alias("s3"),
        F.col("l_shipdate").alias("d3"),
    )
    cand = l1.join(
        l2,
        (F.col("l_orderkey") == F.col("k2")) & (F.col("l_suppkey") != F.col("s2")),
        "left_semi",
    ).join(
        l3,
        (F.col("l_orderkey") == F.col("k3"))
        & (F.col("l_suppkey") != F.col("s3"))
        & (F.col("d3") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY")),
        "left_anti",
    )
    return (
        cand.join(sup, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


@register(
    "q_dominant_supplier",
    oracle="""
    WITH red AS (
      SELECT p_partkey FROM part WHERE p_name LIKE '%red%'
    ),
    ship AS (
      SELECT l_partkey, l_suppkey, SUM(l_quantity) AS qty
      FROM lineitem JOIN red ON p_partkey = l_partkey
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      GROUP BY l_partkey, l_suppkey
    ),
    tot AS (
      SELECT l_partkey, SUM(qty) AS total FROM ship GROUP BY l_partkey
    )
    SELECT s_suppkey, s_name, COUNT(*) AS n_parts_dominated
    FROM ship
    JOIN tot USING (l_partkey)
    JOIN supplier ON s_suppkey = l_suppkey
    WHERE qty > 0.5 * total
    GROUP BY s_suppkey, s_name
    """,
)
def q_dominant_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20-flavored shape (excess/dominant supply): suppliers
    who shipped more than half of a red part's yearly volume, per
    part — the correlated share-threshold pattern of Q20's
    "availqty > half of sold" rewritten over shipped quantities
    (testdata has no partsupp).

    Plan: ONE lineitem scan feeds the per-(part, supplier) aggregate;
    the per-part total is a WINDOW sum partitioned by part over the
    already-aggregated rows — not a self-join of the aggregate, which
    would recompute the whole subtree twice (measured in the plan; the
    plan test pins the single scan).  l_quantity is an integer-valued
    double, so both sums are order-exact and the 0.5× compare is
    deterministic."""
    from pyspark.sql.window import Window
    red = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("%red%")
    ).select("p_partkey")
    li = load_table(spark, sf_dir, "lineitem").filter(
        _ts_range("l_shipdate", "1996-01-01", "1997-01-01")
    )
    ship = (
        li.join(red, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    sup = load_table(spark, sf_dir, "supplier")
    total = F.sum("qty").over(Window.partitionBy("l_partkey"))
    return (
        ship.withColumn("total", total)
        .filter(F.col("qty") > F.lit(0.5) * F.col("total"))
        .join(sup, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_suppkey", "s_name")
        .agg(F.count(F.lit(1)).alias("n_parts_dominated"))
    )


# ---------------------------------------------------------------- Q11/Q16
#
# The two remaining classic shapes need a partsupp table, which the
# driver's testdata does not ship (SURVEY.md §2.4) and which must NOT be
# faked out of lineitem.  They are therefore plain DataFrame→DataFrame
# operators over a caller-provided partsupp, verified in pytest against
# a DuckDB oracle on a generated fixture (tests/test_partsupp_shapes.py)
# instead of carrying a driver registry entry.


def important_stock(
    partsupp: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    nation_name: str = "NATION_1",
    fraction: float = 0.0001,
) -> DataFrame:
    """TPC-H Q11 plan shape (important stock): per-part inventory value
    within one nation, kept when above a fraction of the national total.

    100 TB plan: nation is domain-bounded → broadcast; the national
    total is a ONE-ROW aggregate cross-joined back (broadcast), so the
    HAVING-scalar-subquery never rescans partsupp; per-part sums
    partial-aggregate map-side before the single ps_partkey shuffle.
    Value sums are DECIMAL-exact, cast to double at the edge."""
    nat = nation.filter(F.col("n_name") == nation_name).select("n_nationkey")
    supp = supplier.join(
        F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey")
    val = F.col("ps_supplycost").cast("decimal(12,2)") * F.col("ps_availqty").cast(
        "decimal(10,0)"
    )
    per_part = (
        partsupp.join(supp, F.col("ps_suppkey") == F.col("s_suppkey"))
        .groupBy("ps_partkey")
        .agg(F.sum(val).alias("value_dec"))
    )
    total = per_part.agg(F.sum("value_dec").alias("total_dec"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(
            F.col("value_dec").cast("double")
            > F.col("total_dec").cast("double") * F.lit(fraction)
        )
        .select("ps_partkey", F.col("value_dec").cast("double").alias("value"))
    )


def parts_supplier_count(
    partsupp: DataFrame,
    part: DataFrame,
    supplier: DataFrame,
    brand: str = "Brand#1",
    type_prefix: str = "PROMO",
    sizes: tuple[int, ...] = (1, 5, 9, 13),
) -> DataFrame:
    """TPC-H Q16 plan shape (parts/supplier relationship): distinct
    suppliers per (brand, type, size) for parts outside one brand/type,
    excluding flagged suppliers (testdata has no s_comment, so the
    'Customer Complaints' exclusion substitutes s_acctbal < 0 — same
    anti-join shape).

    Defaults are drawn from the REAL testdata domain (p_brand is
    'Brand#1'..'Brand#25', p_type starts ECONOMY/LARGE/MEDIUM/PROMO/
    SMALL/STANDARD) so the exclusion predicates actually exclude rows
    under test — the previous 'BRAND_1'/'TYPE_1' defaults matched
    nothing, certifying the Q16 semantics vacuously (review-caught).

    100 TB plan: the exclusion list is an anti-join (never NOT IN over
    a collected list); part's filters push to its scan; the distinct
    count shuffles once on the (brand, type, size) grouping key."""
    flagged = supplier.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    ps = partsupp.join(
        flagged, F.col("ps_suppkey") == F.col("s_suppkey"), "left_anti"
    )
    p = part.filter(
        (F.col("p_brand") != brand)
        & ~F.col("p_type").startswith(type_prefix)
        & F.col("p_size").isin(*sizes)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    return (
        ps.join(p, F.col("ps_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct(F.col("ps_suppkey")).alias("supplier_cnt"))
    )


def excess_stock_suppliers(
    partsupp: DataFrame,
    part: DataFrame,
    supplier: DataFrame,
    lineitem: DataFrame,
    nation: DataFrame,
    nation_name: str = "NATION_1",
    type_prefix: str = "PROMO",
    year: str = "1996",
) -> DataFrame:
    """TPC-H Q20 plan shape (potential part promotion): suppliers in
    one nation holding EXCESS STOCK — availqty above half of what they
    actually shipped of that part in one year — for parts of one type
    family.  The textbook form is a doubly-nested correlated scalar
    subquery (per (part, supplier): 0.5·SUM of that pair's shipments);
    the Spark-first form DECORRELATES it into one keyed aggregate
    joined back, the same rewrite Catalyst itself cannot always reach
    through IN-chains (tests pin the equivalence against the
    correlated DuckDB oracle).

    Substitutions on the testdata schema: p_name LIKE 'forest%' →
    p_type prefix; s_address is absent, s_name carries the output.

    100 TB plan: the year filter pushes to the lineitem scan; shipped
    quantities aggregate ONCE on (l_partkey, l_suppkey) — never a
    per-row rescan; the part-type filter reaches partsupp as a
    semi-join; supplier⋈nation is a broadcast (nation domain-bounded).
    A (part, supplier) pair with NO shipments is excluded, exactly as
    the correlated form's NULL comparison does."""
    nat = nation.filter(F.col("n_name") == nation_name).select("n_nationkey")
    parts = part.filter(F.col("p_type").startswith(type_prefix)).select(
        "p_partkey"
    )
    shipped = (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit(f"{year}-01-01 00:00:00").cast("timestamp"))
            & (
                F.col("l_shipdate")
                < F.lit(f"{int(year) + 1}-01-01 00:00:00").cast("timestamp")
            )
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    excess = (
        partsupp.join(
            parts, F.col("ps_partkey") == F.col("p_partkey"), "left_semi"
        )
        .join(
            shipped,
            (F.col("ps_partkey") == F.col("l_partkey"))
            & (F.col("ps_suppkey") == F.col("l_suppkey")),
        )
        .filter(F.col("ps_availqty").cast("double") > 0.5 * F.col("qty"))
        .select("ps_suppkey")
        .distinct()
    )
    return (
        supplier.join(
            excess, F.col("s_suppkey") == F.col("ps_suppkey"), "left_semi"
        )
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name")
        .orderBy("s_name")
    )
