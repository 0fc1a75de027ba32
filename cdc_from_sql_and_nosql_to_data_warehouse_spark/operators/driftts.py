"""Drift and time-series evaluation: KS test, seasonal decomposition,
SAX encoding, zone-map/file-skipping audit (split from evalprep.py,
round 7).
"""

from __future__ import annotations

from decimal import Decimal as PyDecimal

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cdc_from_sql_and_nosql_to_data_warehouse_spark.functions import vectors as V
from cdc_from_sql_and_nosql_to_data_warehouse_spark.functions.exact import dec
from cdc_from_sql_and_nosql_to_data_warehouse_spark.functions.ids import (
    assign_dense_ids,
    running_total,
)
from cdc_from_sql_and_nosql_to_data_warehouse_spark.functions.portable_hash import (
    SQL_TOKS_EXPR,
    md5_prefix_int,
    md5_unit,
    sql_md5_int,
    sql_md5_unit,
)
from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators import register
from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.evalcommon import (
    _SQL_DOT,
    _sql_cos,
)
from cdc_from_sql_and_nosql_to_data_warehouse_spark.sources.readers import load_table

_SAX_SEGMENTS = 16
# Gaussian breakpoints for a 4-letter SAX alphabet (Lin et al. 2003,
# public): P(z < -0.6745) = P(z > 0.6745) = 0.25
_SAX_BP = 0.6745


@register(
    "q_sax_encode",
    oracle=f"""
    WITH daily AS (
      SELECT o_orderdate AS d,
        CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS DECIMAL(18,0))
          AS cents
      FROM orders WHERE o_orderdate IS NOT NULL GROUP BY o_orderdate
    ),
    stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(cents) AS DOUBLE) AS sx,
        CAST(SUM(CAST(cents AS DECIMAL(38,0)) * cents) AS DOUBLE) AS sxx
      FROM daily
    ),
    idx AS (
      SELECT d, cents, row_number() OVER (ORDER BY d) AS day_idx FROM daily
    ),
    seg AS (
      SELECT (({_SAX_SEGMENTS} * (day_idx - 1)) // (SELECT n FROM stats)) AS seg,
        CAST(COUNT(*) AS BIGINT) AS n_days,
        CAST(SUM(cents) AS DOUBLE) AS seg_cents
      FROM idx GROUP BY 1
    )
    SELECT seg, n_days,
      round((seg_cents / n_days - sx / n)
        / sqrt((sxx - sx * sx / n) / (n - 1)), 6) AS seg_z,
      CASE
        WHEN (seg_cents / n_days - sx / n)
             / sqrt((sxx - sx * sx / n) / (n - 1)) < -{_SAX_BP} THEN 'a'
        WHEN (seg_cents / n_days - sx / n)
             / sqrt((sxx - sx * sx / n) / (n - 1)) < 0 THEN 'b'
        WHEN (seg_cents / n_days - sx / n)
             / sqrt((sxx - sx * sx / n) / (n - 1)) < {_SAX_BP} THEN 'c'
        ELSE 'd' END AS symbol
    FROM seg CROSS JOIN stats
    """,
)
def q_sax_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX symbolic encoding of the daily-revenue series (Lin et al.
    2003, public): z-normalize the series, piecewise-aggregate into 16
    segments (PAA), then map each segment mean to a 4-letter alphabet
    at the Gaussian quartile breakpoints ±0.6745 — the compact motif
    representation time-series search/anomaly pipelines index.

    Determinism: daily revenue is exact integer cents; the global
    mean/std come from exact Σx/Σx² (cents fit DECIMAL(18), squares
    DECIMAL(36)) lowered to double in ONE fixed expression, and each
    segment mean is an exact-integer ratio — so z values are bitwise
    engine-identical and the breakpoint CASE can never straddle
    engines.  Output z rounded to 6dp for display only.

    Scale: one hash aggregate to the per-day series (calendar-bounded
    — the Gini pattern), a row_number window over those bounded rows,
    a 16-group aggregate, and two 1-row broadcast cross joins.  Fact
    rows are touched exactly once."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").isNotNull()
    )
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    daily = orders.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.sum(cents).cast("decimal(18,0)").alias("cents")
    )
    stats = daily.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").cast("double").alias("sx"),
        F.sum(F.col("cents") * F.col("cents")).cast("double").alias("sxx"),
    )
    idx = daily.withColumn(
        "day_idx", F.row_number().over(Window.orderBy("d"))
    )
    seg = (
        idx.crossJoin(F.broadcast(stats.select("n")))
        .withColumn(
            "seg", F.expr(f"({_SAX_SEGMENTS} * (day_idx - 1)) DIV n")
        )
        .groupBy("seg")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.sum("cents").cast("double").alias("seg_cents"),
        )
    )
    z = (F.col("seg_cents") / F.col("n_days") - F.col("sx") / F.col("n")) / F.sqrt(
        (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")) / (F.col("n") - 1)
    )
    return seg.crossJoin(F.broadcast(stats)).select(
        "seg",
        "n_days",
        F.round(z, 6).alias("seg_z"),
        F.when(z < -_SAX_BP, "a")
        .when(z < 0, "b")
        .when(z < _SAX_BP, "c")
        .otherwise("d")
        .alias("symbol"),
    )




_FS_EPOCH = "1992-01-01"
_FS_LO, _FS_HI = "1997-01-01", "1997-04-01"


@register(
    "q_file_skipping_stats",
    oracle=f"""
    WITH rows_ AS (
      SELECT CAST(l_shipdate AS DATE) AS d, l_orderkey FROM lineitem
      WHERE l_shipdate IS NOT NULL AND l_orderkey IS NOT NULL
    ),
    laid AS (
      SELECT 'by_orderkey' AS layout, l_orderkey // 256 AS file_id, d FROM rows_
      UNION ALL
      SELECT 'by_shipdate' AS layout,
        CAST(date_diff('day', DATE '{_FS_EPOCH}', d) AS BIGINT) // 30 AS file_id, d
      FROM rows_
    ),
    files AS (
      SELECT layout, file_id, CAST(COUNT(*) AS BIGINT) AS n_rows,
        min(d) AS min_d, max(d) AS max_d,
        CAST(SUM(CASE WHEN d >= DATE '{_FS_LO}' AND d < DATE '{_FS_HI}'
                      THEN 1 ELSE 0 END) AS BIGINT) AS matched
      FROM laid GROUP BY layout, file_id
    )
    SELECT layout,
      CAST(COUNT(*) AS BIGINT) AS n_files,
      CAST(SUM(CASE WHEN max_d < DATE '{_FS_LO}' OR min_d >= DATE '{_FS_HI}'
                    THEN 1 ELSE 0 END) AS BIGINT) AS files_skipped,
      CAST(SUM(CASE WHEN max_d < DATE '{_FS_LO}' OR min_d >= DATE '{_FS_HI}'
                    THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS skip_fraction,
      CAST(SUM(CASE WHEN max_d < DATE '{_FS_LO}' OR min_d >= DATE '{_FS_HI}'
                    THEN 0 ELSE n_rows END) AS BIGINT) AS rows_scanned,
      CAST(SUM(matched) AS BIGINT) AS rows_matched
    FROM files GROUP BY layout
    """,
)
def q_file_skipping_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map (min/max) file-skipping audit under two physical
    layouts: cluster-by-orderkey vs cluster-by-shipdate, for a
    3-month shipdate predicate.  Per layout: how many files a min/max
    zone map lets the scan SKIP entirely, and how many rows the
    surviving files force it to read vs the rows that actually match —
    the quantified motivation for q_zorder_layout/q_compaction_plan
    (layout.py): the same table, the same predicate, ~0% skipping
    under key order vs ~95% under date order.

    Scale: files are modeled as fixed-width key ranges (what a sorted
    write produces); the audit is one scan exploded ×2 layouts, one
    hash aggregate per (layout, file), and a bounded per-layout
    rollup.  This is exactly the stats pass a table-format maintenance
    job (Iceberg/Delta file stats) runs, so its cost profile IS the
    production profile."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").isNotNull() & F.col("l_orderkey").isNotNull()
    )
    d = F.col("l_shipdate").cast("date")
    rows = li.select(
        d.alias("d"),
        F.explode(
            F.array(
                F.struct(
                    F.lit("by_orderkey").alias("layout"),
                    F.expr("l_orderkey DIV 256").alias("file_id"),
                ),
                F.struct(
                    F.lit("by_shipdate").alias("layout"),
                    F.expr(
                        f"CAST(datediff(CAST(l_shipdate AS DATE), "
                        f"DATE'{_FS_EPOCH}') AS BIGINT) DIV 30"
                    ).alias("file_id"),
                ),
            )
        ).alias("lf"),
    ).select("d", "lf.layout", "lf.file_id")
    lo, hi = F.lit(_FS_LO).cast("date"), F.lit(_FS_HI).cast("date")
    files = rows.groupBy("layout", "file_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("d").alias("min_d"),
        F.max("d").alias("max_d"),
        F.sum(
            F.when((F.col("d") >= lo) & (F.col("d") < hi), 1).otherwise(0)
        ).alias("matched"),
    )
    skipped = (F.col("max_d") < lo) | (F.col("min_d") >= hi)
    return files.groupBy("layout").agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum(F.when(skipped, 1).otherwise(0)).cast("bigint").alias("files_skipped"),
        (
            F.sum(F.when(skipped, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1))
        ).alias("skip_fraction"),
        F.sum(F.when(skipped, 0).otherwise(F.col("n_rows")))
        .cast("bigint")
        .alias("rows_scanned"),
        F.sum("matched").cast("bigint").alias("rows_matched"),
    )


@register(
    "q_ks_test",
    oracle="""
    WITH d AS (
      SELECT n_chars,
        TRY_CAST(substr(source, 4) AS INTEGER) >= 10 AS is_new
      FROM documents WHERE n_chars IS NOT NULL AND source IS NOT NULL
    ),
    g AS (
      SELECT n_chars,
        CAST(COUNT(*) FILTER (WHERE NOT is_new) AS BIGINT) AS c_base,
        CAST(COUNT(*) FILTER (WHERE is_new) AS BIGINT) AS c_new
      FROM d GROUP BY n_chars
    ),
    r AS (
      SELECT
        CAST(SUM(c_base) OVER (ORDER BY n_chars
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS HUGEINT) AS cum_b,
        CAST(SUM(c_new) OVER (ORDER BY n_chars
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS HUGEINT) AS cum_n,
        CAST(SUM(c_base) OVER () AS HUGEINT) AS t_base,
        CAST(SUM(c_new) OVER () AS HUGEINT) AS t_new
      FROM g
    )
    ,
    s AS (
      SELECT
        CAST(max(t_base) AS BIGINT) AS n_base,
        CAST(max(t_new) AS BIGINT) AS n_new,
        CAST(max(abs(cum_b * t_new - cum_n * t_base)) AS DOUBLE)
          / (CAST(max(t_base) AS DOUBLE) * CAST(max(t_new) AS DOUBLE)) AS d_stat,
        1.358 * sqrt((CAST(max(t_base) AS DOUBLE) + CAST(max(t_new) AS DOUBLE))
          / (CAST(max(t_base) AS DOUBLE) * CAST(max(t_new) AS DOUBLE)))
          AS crit_05
      FROM r
    )
    SELECT n_base, n_new, d_stat, crit_05, d_stat > crit_05 AS drift FROM s
    """,
)
def q_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift test on the document-length
    distribution, base corpus (src0-9) vs incoming batch (src10+) —
    the nonparametric sibling of q_feature_drift's PSI: PSI needs a
    binning choice; KS compares the full empirical CDFs and reports
    the worst-case gap D = max|F_base(x) − F_new(x)| with the α=0.05
    critical value 1.358·√((n₁+n₂)/(n₁n₂)).

    Exactness: the max deviation is computed on INTEGER cross-products
    — |cum_b·N_new − cum_n·N_base| in DECIMAL/HUGEINT (bigint·bigint
    overflows int64 at warehouse scale) — so the maximizing point is
    engine-identical; only the final two divisions are float, in one
    fixed expression.

    Scale: one hash aggregate to the distinct-length frame (bounded by
    the length domain), two parallel prefix sums through
    `running_total`, a 1-row reduce.  No fact row is touched twice."""
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.functions.ids import (
        running_total,
    )
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.functions.normalize import (
        loud_src_n,
    )

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("n_chars").isNotNull() & F.col("source").isNotNull()
    )
    is_new = loud_src_n("source", "q_ks_test") >= 10
    g = docs.select(F.col("n_chars"), is_new.alias("is_new")).groupBy("n_chars").agg(
        F.count_if(~F.col("is_new")).alias("c_base"),
        F.count_if(F.col("is_new")).alias("c_new"),
    )
    r = running_total(g, ["n_chars"], "c_base", total_col="cum_b")
    r = running_total(r, ["n_chars"], "c_new", total_col="cum_n")
    tot = g.agg(
        F.sum("c_base").alias("t_base"), F.sum("c_new").alias("t_new")
    )
    dev = F.abs(
        F.col("cum_b").cast("decimal(19,0)") * F.col("t_new").cast("decimal(19,0)")
        - F.col("cum_n").cast("decimal(19,0)") * F.col("t_base").cast("decimal(19,0)")
    )
    tb = F.col("t_base").cast("double")
    tn = F.col("t_new").cast("double")
    agg = (
        r.crossJoin(F.broadcast(tot))
        .agg(
            F.max("t_base").cast("bigint").alias("n_base"),
            F.max("t_new").cast("bigint").alias("n_new"),
            (F.max(dev).cast("double") / (F.max(tb) * F.max(tn))).alias("d_stat"),
            (
                F.lit(1.358)
                * F.sqrt((F.max(tb) + F.max(tn)) / (F.max(tb) * F.max(tn)))
            ).alias("crit_05"),
        )
    )
    return agg.select(
        "n_base",
        "n_new",
        "d_stat",
        "crit_05",
        (F.col("d_stat") > F.col("crit_05")).alias("drift"),
    )


_SD_HALF = 14  # centered moving-average half-width (29-day trend window)


@register(
    "q_seasonal_decompose",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
        CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1
    ),
    tr AS (
      SELECT d, cents,
        CASE WHEN COUNT(*) OVER w = {2 * _SD_HALF + 1} THEN
          CAST(SUM(cents) OVER w AS DOUBLE) / (COUNT(*) OVER w)
        END AS trend
      FROM daily
      WINDOW w AS (ORDER BY d ROWS BETWEEN {_SD_HALF} PRECEDING
                   AND {_SD_HALF} FOLLOWING)
    ),
    dt AS (
      SELECT d, cents, trend,
        CAST(floor((cents - trend) * 1000000 + 0.5) AS BIGINT) AS dt6,
        -- (x % 7 + 7) % 7: DuckDB % is a truncated remainder (negative
        -- for pre-epoch dates) while Spark's pmod is always 0..6
        (CAST(date_diff('day', DATE '1995-01-01', d) AS BIGINT) % 7 + 7) % 7
          AS dow
      FROM tr
    ),
    seas AS (
      SELECT dow, CAST(SUM(dt6) AS BIGINT) AS s6,
        CAST(COUNT(*) AS BIGINT) AS n6
      FROM dt WHERE trend IS NOT NULL GROUP BY dow
    )
    SELECT dt.d, CAST(dt.cents AS DOUBLE) / 100.0 AS revenue,
      round(dt.trend / 100.0, 6) AS trend,
      round(CAST(seas.s6 AS DOUBLE) / (seas.n6 * 100000000.0), 6)
        AS seasonal,
      CASE WHEN dt.trend IS NOT NULL THEN
        round(CAST(CAST(dt.dt6 AS DECIMAL(38,0)) * seas.n6 - seas.s6
                   AS DOUBLE) / (seas.n6 * 100000000.0), 6)
      END AS residual
    FROM dt JOIN seas USING (dow)
    """,
)
def q_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition of the daily-revenue
    series: trend = centered 29-day moving average, seasonal =
    day-of-week mean of the detrended series, residual = the rest —
    the anomaly-detection preprocessor that separates "weekends are
    slow" from "something broke" (pairs with q_cusum / q_mad_outliers,
    which fire on the RESIDUAL in a real monitor).

    Determinism: daily revenue is exact integer cents; the moving
    average is an exact-integer window sum divided once; the detrended
    value is fixed-pointed (floor(x·10⁶+0.5)) BEFORE the day-of-week
    mean so the seasonal means are exact-integer ratios — no float
    ever accumulates in engine-dependent order.  Day-of-week is
    datediff-mod-7 from a known Sunday, not the engines' divergent
    dayofweek() conventions.

    Scale: everything after the one fact-table aggregate runs on the
    calendar-bounded daily frame (the Gini pattern); the 7-row
    seasonal frame broadcasts back.  Edge days without a full 29-day
    window get NULL trend/residual rather than a biased partial mean."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").isNotNull()
    )
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    daily = orders.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum(cents).alias("cents")
    )
    w = Window.orderBy("d").rowsBetween(-_SD_HALF, _SD_HALF)
    tr = daily.select(
        "d",
        "cents",
        F.when(
            F.count(F.lit(1)).over(w) == 2 * _SD_HALF + 1,
            F.sum("cents").over(w).cast("double") / F.count(F.lit(1)).over(w),
        ).alias("trend"),
    )
    dt = tr.select(
        "d",
        "cents",
        "trend",
        F.floor((F.col("cents") - F.col("trend")) * 1000000 + 0.5)
        .cast("bigint")
        .alias("dt6"),
        F.pmod(
            F.datediff(F.col("d"), F.lit("1995-01-01").cast("date")), F.lit(7)
        ).cast("bigint").alias("dow"),
    )
    seas = (
        dt.filter(F.col("trend").isNotNull())
        .groupBy("dow")
        .agg(
            F.sum("dt6").cast("bigint").alias("s6"),
            F.count(F.lit(1)).cast("bigint").alias("n6"),
        )
    )
    # the seasonal mean and the residual stay EXACT INTEGERS until one
    # double division each: residual = (dt6*n - s6) / (n*10^8) — the
    # earlier float-subtraction form (dt6/1e6 - seasonal) landed within
    # an ulp of a 6dp rounding boundary at sf1 magnitudes and the
    # engines' rounding flipped one day (measured, round 10)
    denom = F.col("n6") * F.lit(100000000.0)
    return dt.join(F.broadcast(seas), "dow").select(
        "d",
        (F.col("cents").cast("double") / 100.0).alias("revenue"),
        F.round(F.col("trend") / 100.0, 6).alias("trend"),
        F.round(F.col("s6").cast("double") / denom, 6).alias("seasonal"),
        F.when(
            F.col("trend").isNotNull(),
            F.round(
                (
                    F.col("dt6").cast("decimal(38,0)") * F.col("n6")
                    - F.col("s6")
                ).cast("double")
                / denom,
                6,
            ),
        ).alias("residual"),
    )


# bootstrap: resample the daily-revenue series B times with
# replacement; picks are md5-derived (replayable, engine-portable).
_BOOT_B = 200


@register(
    "q_bootstrap_ci",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DECIMAL(16,2))
          AS rev
      FROM orders WHERE o_orderdate IS NOT NULL
      GROUP BY CAST(o_orderdate AS DATE)
    ),
    idx AS (
      SELECT rev, row_number() OVER (ORDER BY day) - 1 AS i FROM daily
    ),
    nd AS (SELECT COUNT(*) AS n FROM daily),
    picks AS (
      SELECT b.b,
        {sql_md5_int(
            "CAST(b.b AS VARCHAR) || ':' || CAST(t.i AS VARCHAR)"
        )} % nd.n AS pick
      FROM idx t
      CROSS JOIN (SELECT unnest(generate_series(0, {_BOOT_B - 1})) AS b) b
      CROSS JOIN nd
    ),
    boot AS (
      SELECT p.b,
        round(CAST(SUM(CAST(i2.rev AS DECIMAL(18,2))) AS DOUBLE)
              / COUNT(*), 6) AS mean_b
      FROM picks p JOIN idx i2 ON i2.i = p.pick
      GROUP BY p.b
    ),
    base AS (
      SELECT round(CAST(SUM(CAST(rev AS DECIMAL(18,2))) AS DOUBLE)
                   / COUNT(*), 6) AS mean_rev,
        CAST(COUNT(*) AS BIGINT) AS n_days
      FROM daily
    )
    SELECT base.n_days, CAST({_BOOT_B} AS BIGINT) AS b, base.mean_rev,
      round(quantile_cont(boot.mean_b, 0.025), 4) AS ci_lo,
      round(quantile_cont(boot.mean_b, 0.975), 4) AS ci_hi
    FROM boot CROSS JOIN base
    GROUP BY base.n_days, base.mean_rev
    """,
)
def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOOTSTRAP confidence interval (Efron 1979, public) for the mean
    daily revenue: 200 resamples-with-replacement of the daily series,
    each resample's mean collected into an empirical distribution
    whose 2.5%/97.5% quantiles are the 95% CI — the
    distribution-assumption-free uncertainty quantification that
    complements q_ab_ttest's parametric form.

    Resampling is DETERMINISTIC: draw (b, i) picks day
    md5int(b:i) mod n — replayable across engines, runs and cluster
    sizes (the house rand() replacement).  Daily revenues are
    decimal-exact; each bootstrap mean is an order-free DECIMAL sum
    with one 6dp-rounded division; the CI quantiles use the shared
    (n−1)·p interpolation rounded 4dp.

    Scale: the data-scaled work is ONE day-keyed aggregate; everything
    after rides the date-bounded spine — the resample fan-out is
    B·|days| rows (bounded by the calendar, not the data), the
    pick-join is an equi-join against the |days|-row spine, and B
    bootstrap means reduce to one row."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").isNotNull()
    )
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(dec("o_totalprice", 14, 2)).cast("decimal(16,2)").alias("rev")
    )
    w = Window.orderBy(F.asc_nulls_last("day"))
    idx = daily.select(
        "rev", (F.row_number().over(w) - 1).alias("i")
    )
    nd = daily.agg(F.count(F.lit(1)).alias("n"))
    picks = (
        idx.select("i", F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))).alias("b"))
        .join(F.broadcast(nd))
        .select(
            "b",
            (
                md5_prefix_int(
                    F.concat(
                        F.col("b").cast("string"),
                        F.lit(":"),
                        F.col("i").cast("string"),
                    )
                )
                % F.col("n")
            ).alias("pick"),
        )
    )
    i2 = idx.withColumnsRenamed({"i": "pick", "rev": "rev2"})
    boot = (
        picks.join(i2, "pick")
        .groupBy("b")
        .agg(
            F.round(
                F.sum(F.col("rev2").cast("decimal(18,2)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_b")
        )
    )
    base = daily.agg(
        F.round(
            F.sum(F.col("rev").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_rev"),
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
    )
    return (
        boot.join(F.broadcast(base))
        .groupBy("n_days", "mean_rev")
        .agg(
            F.round(F.expr("percentile(mean_b, 0.025)"), 4).alias("ci_lo"),
            F.round(F.expr("percentile(mean_b, 0.975)"), 4).alias("ci_hi"),
        )
        .select(
            "n_days",
            F.lit(_BOOT_B).cast("bigint").alias("b"),
            "mean_rev",
            "ci_lo",
            "ci_hi",
        )
    )


@register(
    "q_ts_anomaly",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS rev
      FROM orders WHERE o_orderdate IS NOT NULL
      GROUP BY CAST(o_orderdate AS DATE)
    ),
    ma AS (
      SELECT day, rev,
        round(rev - avg(rev) OVER (ORDER BY day
          ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING), 4) AS resid,
        round(avg(rev) OVER (ORDER BY day
          ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING), 4) AS expected
      FROM daily
    ),
    mad AS (
      SELECT round(quantile_cont(abs(resid), 0.5), 4) AS mad FROM ma
    )
    SELECT day, round(rev, 4) AS revenue, expected, resid AS residual
    FROM ma CROSS JOIN mad
    WHERE abs(resid) > 3 * mad.mad
    """,
)
def q_ts_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-SERIES ANOMALY detection on daily revenue: days whose
    residual against a centered 7-day moving average exceeds 3× the
    MAD of all residuals — the robust-residual rule (median absolute
    deviation shrugs off the very outliers it hunts, unlike a σ
    threshold that the anomalies themselves inflate).  The
    q_mad_outliers idea lifted from value space to the TIME dimension,
    composing the q_rolling_bands smoother with a robust gate.

    Determinism: daily sums are decimal-exact; the centered mean
    averages the SAME window rows in frame order on both engines and
    rounds at 4dp, as does the MAD quantile (shared interpolation).

    Scale: one day-keyed aggregate, then windows over the
    DATE-BOUNDED spine (the q_cumulative_users exception) and a 1-row
    MAD broadcast — fact rows cross the network once."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").isNotNull()
    )
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(dec("o_totalprice", 14, 2)).cast("double").alias("rev")
    )
    w = Window.orderBy(F.asc_nulls_last("day")).rowsBetween(-3, 3)
    ma = daily.select(
        "day",
        "rev",
        F.round(F.col("rev") - F.avg("rev").over(w), 4).alias("resid"),
        F.round(F.avg("rev").over(w), 4).alias("expected"),
    )
    mad = ma.agg(
        F.round(F.expr("percentile(abs(resid), 0.5)"), 4).alias("mad")
    )
    return (
        ma.join(F.broadcast(mad))
        .filter(F.abs(F.col("resid")) > 3 * F.col("mad"))
        .select(
            "day",
            F.round("rev", 4).alias("revenue"),
            "expected",
            F.col("resid").alias("residual"),
        )
    )


@register(
    "q_page_hinkley",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS rev
      FROM orders WHERE o_orderdate IS NOT NULL
      GROUP BY CAST(o_orderdate AS DATE)
    ),
    lam AS (
      SELECT round(5 * CAST(SUM(CAST(rev AS DECIMAL(18,2))) AS DOUBLE)
                   / COUNT(*), 4) AS lambda FROM daily
    ),
    dev AS (
      SELECT day, rev,
        CAST(round(rev - round(
          CAST(SUM(CAST(rev AS DECIMAL(18,2))) OVER (ORDER BY day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
          / COUNT(*) OVER (ORDER BY day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6), 6)
          AS DECIMAL(24,6)) AS d
      FROM daily
    ),
    ph AS (
      SELECT day, rev,
        SUM(d) OVER (ORDER BY day
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM dev
    )
    SELECT ph.day, round(ph.rev, 4) AS revenue,
      CAST(ph.cum - MIN(ph.cum) OVER (ORDER BY ph.day
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        AS ph_score,
      CAST(ph.cum - MIN(ph.cum) OVER (ORDER BY ph.day
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        > lam.lambda AS alarm
    FROM ph CROSS JOIN lam
    """,
)
def q_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PAGE-HINKLEY sequential drift detection (Page 1954; the
    standard online-drift test in stream-mining, public) on the daily
    revenue series: the cumulative deviation from the RUNNING mean,
    referenced to its running minimum — an upward level shift makes
    the score climb away from the minimum and cross the alarm
    threshold λ (here 5× the overall daily mean, data-relative so the
    test survives scale-up).  The ONLINE complement to q_ts_anomaly's
    retrospective MAD gate and q_cusum's fixed-mean chart: PH re-
    estimates its mean as it goes, so slow trends don't false-alarm.

    Determinism: the running mean is a frame-ordered DECIMAL sum over
    an integer count rounded 6dp; deviations round 6dp and are then
    CAST BACK TO DECIMAL(24,6) — exact, since a 6dp-rounded double is
    decimal-representable — so the cumulative sum and running minimum
    are EXACT decimal arithmetic, never float accumulation.  (Round 9
    kept the accumulation in doubles with an identical-add-order
    argument; sf1 falsified it — the engines' windowed float sums
    diverged by an ulp at 1e9 magnitude, flipping the 6dp round on
    1207/2405 days.  Measured, round 10.)  The score is the exact
    decimal difference cast to double — exact up to 2^53/10^6 ≈ 9e9,
    an order above the sf1 magnitude; λ 4dp.

    Scale: one day-keyed aggregate, then three windows over the
    DATE-BOUNDED spine (the q_cumulative_users exception) and a 1-row
    λ broadcast."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").isNotNull()
    )
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(dec("o_totalprice", 14, 2)).cast("double").alias("rev")
    )
    lam = daily.agg(
        F.round(
            5
            * F.sum(F.col("rev").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1)),
            4,
        ).alias("lambda")
    )
    w = Window.orderBy(F.asc_nulls_last("day")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    run_mean = F.round(
        F.sum(F.col("rev").cast("decimal(18,2)")).over(w).cast("double")
        / F.count(F.lit(1)).over(w),
        6,
    )
    dev = daily.select(
        "day",
        "rev",
        F.round(F.col("rev") - run_mean, 6).cast("decimal(24,6)").alias("d"),
    )
    ph = dev.select("day", "rev", F.sum("d").over(w).alias("cum"))
    # exact decimal difference, lowered to double once (see docstring)
    score = (F.col("cum") - F.min("cum").over(w)).cast("double")
    return ph.join(F.broadcast(lam)).select(
        "day",
        F.round("rev", 4).alias("revenue"),
        score.alias("ph_score"),
        (score > F.col("lambda")).alias("alarm"),
    )


# SPRT design: H0 conversion p0 vs H1 p1 around the corpus's ~0.2
# empirical purchase rate; alpha = beta = 0.05 Wald boundaries.
_SPRT_P0, _SPRT_P1 = 0.18, 0.22
_SPRT_A = "2.944439"   # round(ln(0.95/0.05), 6)
_SPRT_B = "-2.944439"  # round(ln(0.05/0.95), 6)


@register(
    "q_ab_sequential",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n,
        COUNT(*) FILTER (WHERE event_type = 'purchase') AS k
      FROM events GROUP BY CAST(ts AS DATE)
    ),
    llr AS (
      SELECT day, n, k,
        round(k * round(ln({_SPRT_P1} / {_SPRT_P0}), 6)
              + (n - k) * round(ln((1 - {_SPRT_P1}) / (1 - {_SPRT_P0})), 6),
              6) AS d
      FROM daily
    ),
    cum AS (
      SELECT day, n, k,
        round(SUM(d) OVER (ORDER BY day
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS cum_llr
      FROM llr
    )
    SELECT day, CAST(n AS BIGINT) AS n_events, CAST(k AS BIGINT) AS n_conv,
      cum_llr,
      CASE WHEN cum_llr >= {_SPRT_A} THEN 'accept_h1'
           WHEN cum_llr <= {_SPRT_B} THEN 'accept_h0'
      END AS crossed
    FROM cum
    """,
)
def q_ab_sequential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEQUENTIAL probability ratio test (Wald 1945, public) on the
    daily conversion stream: the cumulative log-likelihood ratio of
    H1 (p = 0.22) against H0 (p = 0.18), with the ±ln(19) boundaries
    of α = β = 0.05 — the always-valid peeking complement to
    q_ab_ttest's fixed-horizon test (look every day; stop the moment
    a boundary is crossed, at a fraction of the fixed-n sample).  The
    decision-theoretic sibling of q_page_hinkley's drift chart.

    Determinism: per-day increments are integer counts times
    6dp-rounded ln constants, rounded 6dp; the cumulative sum runs in
    frame order (identical float adds) and the final round matches
    the summands' 6dp scale (the q_page_hinkley lesson); boundaries
    are exact literals.

    Scale: ONE day-keyed conditional aggregate (the only data-scaled
    shuffle), then a running sum over the DATE-BOUNDED spine."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("k"),
    )
    import math

    w_inc = round(math.log(_SPRT_P1 / _SPRT_P0), 6)
    l_inc = round(math.log((1 - _SPRT_P1) / (1 - _SPRT_P0)), 6)
    llr = daily.select(
        "day",
        "n",
        "k",
        F.round(
            F.col("k") * F.lit(w_inc) + (F.col("n") - F.col("k")) * F.lit(l_inc),
            6,
        ).alias("d"),
    )
    w = Window.orderBy(F.asc_nulls_last("day")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = llr.select(
        "day", "n", "k", F.round(F.sum("d").over(w), 6).alias("cum_llr")
    )
    a, b = float(_SPRT_A), float(_SPRT_B)
    return cum.select(
        "day",
        F.col("n").cast("bigint").alias("n_events"),
        F.col("k").cast("bigint").alias("n_conv"),
        "cum_llr",
        F.when(F.col("cum_llr") >= a, "accept_h1")
        .when(F.col("cum_llr") <= b, "accept_h0")
        .alias("crossed"),
    )


_HILL_K = 200


@register(
    "q_tail_index",
    oracle=f"""
    WITH topk AS (
      SELECT CAST(CAST(o_totalprice AS DECIMAL(14,2)) AS DOUBLE) AS x
      FROM orders WHERE o_totalprice IS NOT NULL AND o_totalprice > 0
      ORDER BY o_totalprice DESC, o_orderkey
      LIMIT {_HILL_K + 1}
    ),
    xmin AS (SELECT MIN(x) AS xk FROM topk),
    logs AS (
      SELECT round(ln(x / xmin.xk), 6) AS lx
      FROM topk CROSS JOIN xmin WHERE x > xmin.xk
    )
    SELECT CAST({_HILL_K} AS BIGINT) AS k,
      CAST(COUNT(*) AS BIGINT) AS n_used,
      round(CAST(COUNT(*) AS DOUBLE)
            / CAST(SUM(CAST(lx AS DECIMAL(18,6))) AS DOUBLE), 6)
        AS hill_alpha
    FROM logs
    """,
)
def q_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HILL ESTIMATOR of the power-law tail index (Hill 1975, public):
    α̂ = n / Σ ln(x_i / x_(k+1)) over the k = 200 largest order totals
    — the standard heavy-tail diagnostic (α ≤ 2 means infinite
    variance: your mean-based dashboards are lying) that belongs in
    any distribution-profiling pass next to q_benford and
    q_gini_concentration.  Ties with the threshold order statistic are
    excluded (ln 0 would poison the sum) and reported via n_used.

    Determinism: the top-(k+1) selection uses the total
    (value DESC, orderkey) key; each log rounds 6dp before the
    order-free DECIMAL sum; one final division.

    Scale: TakeOrdered ships k+1 rows per partition max (the
    q_quantile_sample_sketch shape); everything after operates on
    ≤ k+1 rows."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice").isNotNull() & (F.col("o_totalprice") > 0)
    )
    topk = (
        o.select(
            F.col("o_totalprice")
            .cast("decimal(14,2)")
            .cast("double")
            .alias("x"),
            "o_orderkey",
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(_HILL_K + 1)
    )
    xmin = topk.agg(F.min("x").alias("xk"))
    logs = (
        topk.join(F.broadcast(xmin))
        .filter(F.col("x") > F.col("xk"))
        .select(F.round(F.log(F.col("x") / F.col("xk")), 6).alias("lx"))
    )
    return logs.agg(
        F.lit(_HILL_K).cast("bigint").alias("k"),
        F.count(F.lit(1)).cast("bigint").alias("n_used"),
        F.round(
            F.count(F.lit(1)).cast("double")
            / F.sum(F.col("lx").cast("decimal(18,6)")).cast("double"),
            6,
        ).alias("hill_alpha"),
    )


@register(
    "q_mann_whitney",
    oracle="""
    WITH pool AS (
      SELECT CAST(o_totalprice AS DECIMAL(12,2)) AS v,
        c_mktsegment = 'BUILDING' AS is_a
      FROM orders JOIN customer ON o_custkey = c_custkey
      WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
        AND o_totalprice IS NOT NULL
    ),
    g AS (
      SELECT v,
        CAST(COUNT(*) FILTER (WHERE is_a) AS BIGINT) AS c_a,
        CAST(COUNT(*) FILTER (WHERE NOT is_a) AS BIGINT) AS c_b
      FROM pool GROUP BY v
    ),
    r AS (
      SELECT c_a, c_b, c_a + c_b AS c,
        SUM(c_a + c_b) OVER (ORDER BY v
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          - (c_a + c_b) AS p
      FROM g
    ),
    s AS (
      SELECT
        CAST(SUM(c_a) AS BIGINT) AS n_a,
        CAST(SUM(c_b) AS BIGINT) AS n_b,
        CAST(SUM(CAST(c_a AS DECIMAL(38,0)) * (2*p + c + 1))
             AS DECIMAL(38,0)) AS r2_a,
        CAST(SUM(CAST(c AS DECIMAL(38,0)) * c * c - c)
             AS DECIMAL(38,0)) AS ties
      FROM r
    ),
    u AS (
      SELECT n_a, n_b,
        r2_a - CAST(n_a AS DECIMAL(38,0)) * (n_a + 1) AS u2_a,
        ties, n_a + n_b AS n
      FROM s
    )
    SELECT n_a, n_b,
      CAST(CAST(u2_a AS DECIMAL(20,0)) * CAST(0.5 AS DECIMAL(2,1))
           AS DECIMAL(21,1)) AS u_a,
      CASE WHEN n_a > 0 AND n_b > 0 AND n > 1
                AND (CAST(n_a AS DOUBLE) * n_b / 12.0)
                    * ((n + 1) - CAST(ties AS DOUBLE)
                       / (CAST(n AS DOUBLE) * (n - 1))) > 0 THEN
        round(
          (CAST(u2_a AS DOUBLE) - CAST(n_a AS DOUBLE) * n_b)
          / (2.0 * sqrt(
              (CAST(n_a AS DOUBLE) * n_b / 12.0)
              * ((n + 1) - CAST(ties AS DOUBLE)
                 / (CAST(n AS DOUBLE) * (n - 1))))),
          6)
      END AS z_score
    FROM u
    """,
)
def q_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Mann-Whitney U (Wilcoxon rank-sum) test: do BUILDING
    and MACHINERY customers draw order totals from the same
    distribution?  The nonparametric mean-shift sibling of q_ks_test's
    CDF-gap test and q_t_test's parametric form — the workhorse
    significance test when metric distributions are heavy-tailed
    (revenue, latency), which is exactly when the t-test misleads.

    Exactness (the doubled-average-rank trick, q_retrieval_auc
    precedent): group the pool by DISTINCT 2-dp value, take the
    exclusive prefix count p per value, and the A-side rank sum is
    2R_A = Σ c_a·(2p + c + 1) — INTEGER throughout, so ties contribute
    their average rank with no float in sight; 2U_A = 2R_A − n_a(n_a+1).
    The tie-corrected normal approximation
    z = (U − n_a·n_b/2)/σ, σ² = (n_a n_b/12)·((n+1) − Σ(c³−c)/(n(n−1)))
    is two fixed double expressions rounded at 6dp.  DECIMAL(38,0)
    accumulators: c_a·p products pass int64 at warehouse scale.

    Scale: one hash aggregate to the distinct-value frame (bounded by
    the price domain, not row count), ONE parallel prefix sum via
    ``functions.ids.running_total`` (range-partition + per-partition
    cumsum + driver prefix of per-partition totals — no single-task
    global window), a 1-row reduce.  The rank-based test family is
    usually written with a global ORDER BY rank() — the one window
    shape that cannot scale; this decomposition is how it ships at
    100 TB."""
    o = load_table(spark, sf_dir, "orders").filter(
        # NULL placement in ordered prefix sums diverges across engines
        F.col("o_totalprice").isNotNull()
    )
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment").isin("BUILDING", "MACHINERY")
    )
    pool = o.join(c, o["o_custkey"] == c["c_custkey"]).select(
        dec("o_totalprice").alias("v"),
        (F.col("c_mktsegment") == "BUILDING").alias("is_a"),
    )
    g = pool.groupBy("v").agg(
        F.count_if(F.col("is_a")).alias("c_a"),
        F.count_if(~F.col("is_a")).alias("c_b"),
    )
    r = running_total(
        g.withColumn("c", F.col("c_a") + F.col("c_b")), ["v"], "c",
        total_col="cum",
    ).withColumn("p", F.col("cum") - F.col("c"))
    d38 = "decimal(38,0)"
    s = r.agg(
        F.sum("c_a").cast("bigint").alias("n_a"),
        F.sum("c_b").cast("bigint").alias("n_b"),
        F.sum(
            F.col("c_a").cast(d38)
            * (2 * F.col("p") + F.col("c") + 1)
        ).cast(d38).alias("r2_a"),
        F.sum(
            F.col("c").cast(d38) * F.col("c") * F.col("c") - F.col("c")
        ).cast(d38).alias("ties"),
    )
    u2 = F.col("r2_a") - F.col("n_a").cast(d38) * (F.col("n_a") + 1)
    n = F.col("n_a") + F.col("n_b")
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    sigma2 = (na * nb / 12.0) * (
        (n + 1) - F.col("ties").cast("double") / (n.cast("double") * (n - 1))
    )
    # degenerate pools (one side empty, n<=1, or every value tied ->
    # zero variance) report NULL z instead of an ANSI divide-by-zero
    ok = (F.col("n_a") > 0) & (F.col("n_b") > 0) & (n > 1) & (sigma2 > 0)
    # u_a = u2/2 exactly, emitted as DECIMAL so the engines never cast
    # a >2^53 integer to double themselves (ADVICE r10: Spark and
    # DuckDB decimal->double conversions diverge by one ulp past 2^53;
    # the canonicalizer's python float(Decimal) is correctly rounded
    # and identical on both sides).  u2 <= 2*n_a*n_b stays under 1e17
    # even at sf100 (~1.5e7 customers/side), far inside DECIMAL(20,0).
    u_a = (
        u2.cast("decimal(20,0)") * F.lit(PyDecimal("0.5"))
    ).cast("decimal(21,1)")
    return s.select(
        "n_a",
        "n_b",
        u_a.alias("u_a"),
        F.when(
            ok,
            F.round(
                (u2.cast("double") - na * nb) / (2.0 * F.sqrt(sigma2)), 6
            ),
        ).alias("z_score"),
    )


@register(
    "q_forecast_backtest",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DECIMAL(16,2))
          AS rev
      FROM orders WHERE o_orderdate IS NOT NULL
      GROUP BY CAST(o_orderdate AS DATE)
    ),
    joined AS (
      SELECT a.day, a.rev AS actual, f.rev AS forecast,
        round(abs(CAST(a.rev - f.rev AS DOUBLE)) / CAST(a.rev AS DOUBLE),
              6) AS ape,
        round(CAST(a.rev - f.rev AS DOUBLE) / CAST(a.rev AS DOUBLE), 6)
          AS pe
      FROM daily a JOIN daily f ON a.day = f.day + INTERVAL 7 DAY
      WHERE a.rev > 0
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
      CASE WHEN COUNT(*) > 0 THEN
        round(CAST(SUM(CAST(ape AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6)
      END AS mape,
      CASE WHEN COUNT(*) > 0 THEN
        round(CAST(SUM(CAST(pe AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6)
      END AS bias
    FROM joined
    """,
)
def q_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLING-ORIGIN forecast backtest for the seasonal-naive baseline
    (forecast(d) = revenue(d−7), the week-ago carry-forward every
    forecasting system must beat — public: Hyndman & Athanasopoulos,
    "Forecasting: Principles and Practice"): every day is scored
    against the forecast made from its own past, so the evaluation
    never leaks the future — the time-series analogue of
    q_group_split_no_leakage.  Reports MAPE (accuracy) and signed bias
    (systematic over/under-forecast), the backtest pair a demand
    planner reads before trusting any fancier model.

    Exactness: daily revenues are exact decimal sums; each APE/PE is
    ONE double division rounded at 6dp; the means sum the ROUNDED
    per-day terms as DECIMAL(18,6) (order-free — the q_retrieval_ndcg
    round-then-sum policy) with one final division.

    Scale: one day-keyed aggregate is the only data-scaled work;
    everything after rides the calendar-bounded spine (a self-join on
    day = day+7 over |days| rows)."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").isNotNull()
    )
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(dec("o_totalprice", 14, 2)).cast("decimal(16,2)").alias("rev")
    )
    f = daily.withColumnsRenamed({"day": "f_day", "rev": "forecast"})
    joined = (
        daily.join(f, F.col("day") == F.date_add(F.col("f_day"), 7))
        .filter(F.col("rev") > 0)
        .select(
            F.round(
                F.abs((F.col("rev") - F.col("forecast")).cast("double"))
                / F.col("rev").cast("double"),
                6,
            ).alias("ape"),
            F.round(
                (F.col("rev") - F.col("forecast")).cast("double")
                / F.col("rev").cast("double"),
                6,
            ).alias("pe"),
        )
    )
    nonempty = F.count(F.lit(1)) > 0  # empty spine -> NULL, not 0/0
    return joined.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.when(
            nonempty,
            F.round(
                F.sum(F.col("ape").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ),
        ).alias("mape"),
        F.when(
            nonempty,
            F.round(
                F.sum(F.col("pe").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ),
        ).alias("bias"),
    )


# ------------------------------------------------------ power analysis

# round(z, 6) constants for alpha = 0.05 (two-sided) and power = 0.8 —
# literal so both engines compute from identical doubles
_Z_ALPHA = "1.959964"
_Z_BETA = "0.841621"


@register(
    "q_power_analysis",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id,
        CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8'
          THEN 'A' ELSE 'B' END AS arm,
        CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS outcome
      FROM events
      WHERE event_type = 'purchase' AND user_id IS NOT NULL
        AND value IS NOT NULL
      GROUP BY user_id
    ),
    g AS (
      SELECT arm, CAST(COUNT(*) AS BIGINT) AS n,
        round(avg(outcome), 6) AS mean,
        round(var_samp(outcome), 6) AS var
      FROM per_user GROUP BY arm
    ),
    j AS (
      SELECT a.n AS n_a, b.n AS n_b, a.mean AS mean_a, b.mean AS mean_b,
        round(((a.n - 1) * a.var + (b.n - 1) * b.var)
              / (a.n + b.n - 2), 6) AS var_pooled
      FROM (SELECT * FROM g WHERE arm = 'A') a
      CROSS JOIN (SELECT * FROM g WHERE arm = 'B') b
      WHERE a.n >= 2 AND b.n >= 2
    )
    SELECT n_a, n_b, mean_a, mean_b, var_pooled,
      round(mean_a - mean_b, 6) AS delta,
      CASE WHEN mean_a <> mean_b THEN
        round(2 * var_pooled * ({_Z_ALPHA} + {_Z_BETA}) * ({_Z_ALPHA} + {_Z_BETA})
              / (round(mean_a - mean_b, 6) * round(mean_a - mean_b, 6)), 2)
      END AS n_required_per_arm,
      round(({_Z_ALPHA} + {_Z_BETA}) * sqrt(2 * var_pooled / n_a), 6)
        AS mde_at_current_n
    FROM j
    """,
)
def q_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXPERIMENT POWER ANALYSIS (two-sample means, normal
    approximation — the standard pre-registration readout): per-user
    purchase outcomes split into two deterministic md5 hash arms, then
    the required sample size per arm to detect the observed lift at
    α = 0.05 / power = 0.8 (n = 2σ²(z_{α/2}+z_β)²/δ²) and the minimum
    detectable effect at the CURRENT n (MDE = (z_{α/2}+z_β)·√(2σ²/n)).
    Complements q_ab_ttest (is the observed lift significant?) and
    q_ab_srm (is the split itself broken?) with "how long must this
    run?".

    Exactness: per-user outcomes are exact decimal sums cast to
    identical doubles; means/variances follow the q_ab_ttest policy
    (round at the aggregate, 6dp); every downstream step is plain
    arithmetic on identical doubles with its own rounding guard
    (sqrt is correctly rounded IEEE, deterministic on identical
    inputs); n_required is emitted as a 2dp double, never a
    float-boundary ceil; degenerate arms (n < 2) or δ = 0 yield
    zero rows / NULL instead of an ANSI divide-by-zero.

    Scale: one user-keyed aggregate (map-side partials on the
    high-cardinality key), one 2-group aggregate, one 1×1 join —
    two rows move at any corpus size."""
    ev = load_table(spark, sf_dir, "events")
    per_user = (
        ev.filter(
            (F.col("event_type") == "purchase")
            & F.col("user_id").isNotNull()
            & F.col("value").isNotNull()
        )
        .groupBy("user_id")
        .agg(
            F.sum(F.col("value").cast("decimal(12,2)"))
            .cast("double")
            .alias("outcome")
        )
        .withColumn(
            "arm",
            F.when(
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 1) < "8",
                F.lit("A"),
            ).otherwise(F.lit("B")),
        )
    )
    g = per_user.groupBy("arm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.avg("outcome"), 6).alias("mean"),
        F.round(F.var_samp("outcome"), 6).alias("var"),
    )
    a = g.filter(F.col("arm") == "A").select(
        F.col("n").alias("n_a"), F.col("mean").alias("mean_a"),
        F.col("var").alias("var_a"),
    )
    b = g.filter(F.col("arm") == "B").select(
        F.col("n").alias("n_b"), F.col("mean").alias("mean_b"),
        F.col("var").alias("var_b"),
    )
    zsum = F.lit(float(_Z_ALPHA)) + F.lit(float(_Z_BETA))
    j = (
        a.join(b)
        .filter((F.col("n_a") >= 2) & (F.col("n_b") >= 2))
        .withColumn(
            "var_pooled",
            F.round(
                (
                    (F.col("n_a") - 1) * F.col("var_a")
                    + (F.col("n_b") - 1) * F.col("var_b")
                )
                / (F.col("n_a") + F.col("n_b") - 2),
                6,
            ),
        )
    )
    delta = F.round(F.col("mean_a") - F.col("mean_b"), 6)
    return j.select(
        "n_a", "n_b", "mean_a", "mean_b", "var_pooled",
        delta.alias("delta"),
        F.when(
            F.col("mean_a") != F.col("mean_b"),
            F.round(2 * F.col("var_pooled") * zsum * zsum / (delta * delta), 2),
        ).alias("n_required_per_arm"),
        F.round(zsum * F.sqrt(2 * F.col("var_pooled") / F.col("n_a")), 6).alias(
            "mde_at_current_n"
        ),
    )
