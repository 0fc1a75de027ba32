"""Tier A operators — the data operators the reference literally
implements (SURVEY.md §2.1), re-expressed as batch DataFrame queries over
the driver testdata so the DuckDB oracle can check them.

Reference anchors are cited per function.  The streaming versions of the
same semantics live in ``streaming/cdc.py``; these batch forms share the
transformation logic, which is the Structured Streaming model (same
DataFrame function applied in foreachBatch).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators import register
from cdc_from_sql_and_nosql_to_data_warehouse_spark.sources.readers import load_table
from cdc_from_sql_and_nosql_to_data_warehouse_spark.streaming.cdc import latest_wins


@register("q_csv_scan", oracle="SELECT COUNT(*) AS n_rows FROM lineitem")
def q_csv_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 CSV scan analog: scan + count (reference parses txns.csv and
    materializes all rows, source/load_data_to_rds_lambda/handler.py:22-28).
    The CSV reader itself is sources.read_csv_normalized, golden-tested on
    a txns.csv replica in tests/."""
    return load_table(spark, sf_dir, "lineitem").agg(F.count(F.lit(1)).alias("n_rows"))


@register(
    "q_rename_project",
    oracle="""
    SELECT c_custkey AS customer_key, c_name AS customer_name,
           c_mktsegment AS market_segment
    FROM customer
    """,
)
def q_rename_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 header normalization: projection + rename, the reference's
    `replace(' ','_').lower()` (source/load_data_to_rds_lambda/handler.py:25-27)."""
    df = load_table(spark, sf_dir, "customer")
    renamed = df.toDF(
        *[{"c_custkey": "customer_key", "c_name": "customer_name", "c_mktsegment": "market_segment"}.get(c, c) for c in df.columns]
    )
    return renamed.select("customer_key", "customer_name", "market_segment")


@register(
    "q_typed_parse",
    oracle="""
    SELECT l_orderkey, l_linenumber,
      CAST(CAST(TRIM(REPLACE(money_str, ',', '')) AS DECIMAL(12,2)) AS DOUBLE) AS price_parsed,
      CAST(strptime(date_str, '%d-%b-%Y') AS DATE) AS ship_date_parsed,
      CAST(bool_str AS BOOLEAN) AS chip_used
    FROM (
      SELECT l_orderkey, l_linenumber,
        '  ' || CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS VARCHAR) || ' ' AS money_str,
        strftime(CAST(l_shipdate AS DATE), '%-d-%b-%Y') AS date_str,
        CASE WHEN l_linenumber % 2 = 0 THEN 'TRUE' ELSE 'FALSE' END AS bool_str
      FROM lineitem
    )
    """,
)
def q_typed_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 inverse: typed parse of the reference's stringly dialect —
    padded money strings, d-MMM-yyyy dates, TRUE/FALSE booleans
    (txns.csv shapes; every RDS column is varchar(40),
    configure_rds_lambda/handler.py:46).  Builds the strings from
    lineitem, then parses them back with functions.normalize."""
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.functions import normalize as N

    df = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.concat(
            F.lit("  "), F.col("l_extendedprice").cast("decimal(12,2)").cast("string"), F.lit(" ")
        ).alias("money_str"),
        F.date_format(F.col("l_shipdate").cast("date"), "d-MMM-yyyy").alias("date_str"),
        F.when(F.col("l_linenumber") % 2 == 0, "TRUE").otherwise("FALSE").alias("bool_str"),
    )
    return df.select(
        "l_orderkey",
        "l_linenumber",
        N.parse_money("money_str", 12, 2).cast("double").alias("price_parsed"),
        N.parse_date_dmmm("date_str", "d-MMM-yyyy").alias("ship_date_parsed"),
        N.parse_bool("bool_str").alias("chip_used"),
    )


@register(
    "q_append_count",
    oracle="""
    SELECT COUNT(*) AS n_rows FROM (
      SELECT * FROM lineitem UNION ALL SELECT * FROM lineitem
    )
    """,
)
def q_append_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 append sink semantics: the reference re-INSERTs the same 24 CSV
    rows every 5-minute tick into a PK-less table, so rows accumulate
    (load_data_to_rds_lambda/handler.py:29-40; README.md:11).  Two ticks
    = exact duplication; count doubles."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.unionAll(li).agg(F.count(F.lit(1)).alias("n_rows"))


@register(
    "q_json_scan",
    oracle="""
    SELECT event_id, CAST(props->>'$.k' AS INTEGER) AS prop_k, event_type
    FROM events
    """,
)
def q_json_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 JSON document scan: schema-on-read of a JSON payload column
    (reference loads trades.json documents,
    load_data_to_dynamodb_lambda/handler.py:12-14)."""
    ev = load_table(spark, sf_dir, "events")
    parsed = F.from_json(F.col("props"), "k INT")
    return ev.select("event_id", parsed["k"].alias("prop_k"), "event_type")


@register(
    "q_upsert_latest_wins",
    oracle="""
    SELECT user_id, ts AS last_ts, event_type AS last_event_type, value AS last_value
    FROM (
      SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def q_upsert_latest_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 keyed upsert: DynamoDB put_item keyed on id — re-running
    replaces, latest image wins (load_data_to_dynamodb_lambda/handler.py:12-15).
    Spark-native: one shuffle on the key, row_number desc, keep rn=1.
    At scale this is the standard MERGE-free dedup-on-read."""
    ev = load_table(spark, sf_dir, "events")
    # ts DESC is NULLS LAST in Spark SQL: a NULL ts loses to any timestamp
    return latest_wins(ev, "user_id", "ts", tiebreak=["event_id DESC"]).select(
        "user_id",
        F.col("ts").alias("last_ts"),
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
    )


@register(
    "q_event_filter",
    oracle="""
    SELECT event_id, user_id, event_type, value
    FROM events
    WHERE event_type IN ('click', 'purchase') AND value > 50.0
    """,
)
def q_event_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10 change-event filter: keep INSERT/MODIFY, drop REMOVE
    (write_dynamodb_stream_to_s3_lambda/handler.py:27-38) — an isin
    predicate that Catalyst pushes into the parquet scan.  The
    unknown-event error channel is unit-tested in tests/test_cdc.py."""
    ev = load_table(spark, sf_dir, "events")
    return ev.filter(F.col("event_type").isin("click", "purchase") & (F.col("value") > 50.0)).select(
        "event_id", "user_id", "event_type", "value"
    )


@register(
    "q_json_extract_cast",
    oracle="""
    SELECT event_id,
      CAST(props->>'$.k' AS DOUBLE) AS k_as_double,
      props->>'$.k' AS k_as_string
    FROM events
    """,
)
def q_json_extract_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11 wire-format deserialization + decimal→float projection:
    TypeDeserializer + DecimalEncoder
    (write_dynamodb_stream_to_s3_lambda/handler.py:30,16-20) — extract a
    JSON field and cast it to double (the reference's lossy policy)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("double").alias("k_as_double"),
        F.get_json_object("props", "$.k").alias("k_as_string"),
    )


@register(
    "q_append_by_name",
    oracle="""
    SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
    UNION ALL
    SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
    """,
)
def q_append_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A14 COPY json 'auto' semantics: by-NAME column matching into the
    target schema, blind append, duplicates accumulate
    (load_s3_files…_lambda/handler.py:54-71; UNIQUE unenforced per DDL
    at configure_redshift…/handler.py:24)."""
    o = load_table(spark, sf_dir, "orders")
    a = o.select("o_orderkey", "o_totalprice", "o_orderstatus")
    # incoming batch arrives with a different column order; unionByName
    # receives it AS-IS — a pre-select(*a.columns) would positionally
    # re-align first and certify the by-name semantics vacuously
    # (review-caught)
    b = o.select("o_orderstatus", "o_orderkey", "o_totalprice")
    return a.unionByName(b)


@register(
    "q_snapshot_union_cdc",
    oracle="""
    WITH snap AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice, 1 AS seq FROM orders
    ), cdc AS (
      SELECT o_orderkey, 'U' AS o_orderstatus, o_totalprice, 2 AS seq
      FROM orders WHERE o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
    ), unioned AS (
      SELECT * FROM snap UNION ALL SELECT * FROM cdc
    )
    SELECT o_orderkey, o_orderstatus, o_totalprice FROM (
      SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY seq DESC) AS rn
      FROM unioned
    ) WHERE rn = 1
    """,
)
def q_snapshot_union_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A17 full-load-and-cdc: initial snapshot ∪ continuous change apply
    (DMS migration_type='full-load-and-cdc',
    cdk_infrastructure/__init__.py:260).  Later change images override
    snapshot rows by sequence — one shuffle on the key."""
    o = load_table(spark, sf_dir, "orders")
    snap = o.select("o_orderkey", "o_orderstatus", "o_totalprice", F.lit(1).alias("seq"))
    cdc = (
        o.filter(F.col("o_orderdate") >= F.lit("2000-01-01 00:00:00").cast("timestamp"))
        .select("o_orderkey", F.lit("U").alias("o_orderstatus"), "o_totalprice", F.lit(2).alias("seq"))
    )
    return latest_wins(snap.unionByName(cdc), "o_orderkey").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )


@register(
    "q_count_star",
    oracle="""
    SELECT
      (SELECT COUNT(*) FROM orders) AS source_rows,
      (SELECT COUNT(*) FROM customer) AS target_rows,
      (SELECT COUNT(*) FROM orders) - (SELECT COUNT(*) FROM customer) AS row_lag
    """,
)
def q_count_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A20 COUNT(*) parity validation, source vs target — implemented as
    intended, not as the reference's bug (target count executed but never
    fetched, start_dms_replication_task_lambda/handler.py:52-57)."""
    src = load_table(spark, sf_dir, "orders").agg(F.count(F.lit(1)).alias("source_rows"))
    tgt = load_table(spark, sf_dir, "customer").agg(F.count(F.lit(1)).alias("target_rows"))
    return src.crossJoin(tgt).select(
        "source_rows",
        "target_rows",
        (F.col("source_rows") - F.col("target_rows")).alias("row_lag"),
    )


@register(
    "q_scd2_build",
    oracle="""
    SELECT user_id, value, ts AS valid_from,
      lead(ts) OVER w AS valid_to,
      lead(ts) OVER w IS NULL AS is_current
    FROM events WHERE event_type = 'purchase'
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def q_scd2_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension build from a change history: each change
    image becomes a version row with a [valid_from, valid_to) interval,
    open-ended (and flagged current) for the latest image per key.

    This is the warehouse-maintenance step downstream of the
    reference's CDC feed — the full-image change stream (binlog ROW
    full-image, cdk_infrastructure/__init__.py:107-110; DynamoDB
    NEW_IMAGE, :370) is exactly the input SCD2 needs, and the engine
    derives validity intervals with one `lead` window pass: a single
    shuffle on the key, no self-join, no state beyond the frame.
    event_id tie-breaks equal timestamps for determinism.
    """
    w = Window.partitionBy("user_id").orderBy(F.asc_nulls_last("ts"), "event_id")
    return (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            "value",
            F.col("ts").alias("valid_from"),
            F.lead("ts").over(w).alias("valid_to"),
            F.lead("ts").over(w).isNull().alias("is_current"),
        )
    )


@register(
    "q_snapshot_diff",
    oracle="""
    WITH old AS (
      SELECT c_custkey, c_name, c_acctbal FROM customer
    ), new AS (
      SELECT c_custkey, c_name,
        CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 100.0 ELSE c_acctbal END AS c_acctbal
      FROM customer WHERE c_custkey % 10 <> 0
      UNION ALL
      SELECT c_custkey + 1000000 AS c_custkey, c_name, c_acctbal
      FROM customer WHERE c_custkey % 13 = 0
    )
    SELECT COALESCE(o.c_custkey, n.c_custkey) AS c_custkey,
      CASE WHEN o.c_custkey IS NULL THEN 'insert'
           WHEN n.c_custkey IS NULL THEN 'delete'
           ELSE 'update' END AS change_type,
      o.c_acctbal AS old_acctbal, n.c_acctbal AS new_acctbal
    FROM old o FULL OUTER JOIN new n ON o.c_custkey = n.c_custkey
    WHERE o.c_custkey IS NULL OR n.c_custkey IS NULL
       OR o.c_acctbal <> n.c_acctbal OR o.c_name <> n.c_name
    """,
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot differencing: derive a change feed (insert/update/delete
    rows) by comparing two keyed snapshots — the inverse of A17's
    snapshot∪cdc apply, and the fallback CDC strategy when a source has
    no binlog/stream to tail (the reference's DMS does this internally
    during its full-load phase, cdk_infrastructure/__init__.py:260).

    One full outer join on the key (single shuffle; AQE may broadcast
    the smaller snapshot), change rows classified from the null
    pattern, unchanged rows dropped.  The simulated "new" snapshot
    applies deterministic deletes/updates/inserts to the customer table
    so the oracle sees identical inputs.
    """
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_acctbal")
    old = c
    new = (
        c.filter(F.col("c_custkey") % 10 != 0)
        .select(
            "c_custkey",
            "c_name",
            F.when(F.col("c_custkey") % 7 == 0, F.col("c_acctbal") + 100.0)
            .otherwise(F.col("c_acctbal"))
            .alias("c_acctbal"),
        )
        .unionByName(
            c.filter(F.col("c_custkey") % 13 == 0).select(
                (F.col("c_custkey") + 1000000).alias("c_custkey"), "c_name", "c_acctbal"
            )
        )
    )
    o, n = old.alias("o"), new.alias("n")
    return (
        o.join(n, F.col("o.c_custkey") == F.col("n.c_custkey"), "full_outer")
        .filter(
            F.col("o.c_custkey").isNull()
            | F.col("n.c_custkey").isNull()
            | (F.col("o.c_acctbal") != F.col("n.c_acctbal"))
            | (F.col("o.c_name") != F.col("n.c_name"))
        )
        .select(
            F.coalesce(F.col("o.c_custkey"), F.col("n.c_custkey")).alias("c_custkey"),
            F.when(F.col("o.c_custkey").isNull(), "insert")
            .when(F.col("n.c_custkey").isNull(), "delete")
            .otherwise("update")
            .alias("change_type"),
            F.col("o.c_acctbal").alias("old_acctbal"),
            F.col("n.c_acctbal").alias("new_acctbal"),
        )
    )


@register(
    "q_debezium_roundtrip",
    oracle="""
    SELECT event_id,
      CASE WHEN event_type IN ('signup', 'purchase') THEN 'INSERT'
           WHEN event_type IN ('click', 'view') THEN 'MODIFY'
           ELSE 'REMOVE' END AS eventName,
      user_id, value,
      epoch_ms(ts) AS seq
    FROM events
    """,
)
def q_debezium_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Debezium envelope decode (sources/debezium.py) — the engine's
    production CDC wire format, the open twin of the reference's DMS
    binlog tail (cdk_infrastructure/__init__.py:257-282).

    The query synthesizes real Debezium JSON envelopes from the events
    table (op c/u/d per event type; deletes carry only a before-image,
    as Debezium emits them), then decodes them with the actual
    `decode_debezium` expressions.  The oracle computes the expected
    normalization straight from the base table — so what's verified is
    the full JSON serialize→parse→normalize round trip, including
    double fidelity through JSON text.  Pure column expressions: decode
    at scan throughput, no Python per row.
    """
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.sources.debezium import (
        decode_debezium,
    )

    ev = load_table(spark, sf_dir, "events")
    payload_t = "struct<user_id:bigint,value:double>"
    payload = F.struct("user_id", "value")
    op = (
        F.when(F.col("event_type") == "signup", "c")
        .when(F.col("event_type") == "purchase", "r")
        .when(F.col("event_type").isin("click", "view"), "u")
        .otherwise("d")
    )
    enveloped = ev.select(
        "event_id",
        F.to_json(
            F.struct(
                F.when(op == "d", payload).alias("before"),
                F.when(op != "d", payload).alias("after"),
                op.alias("op"),
                F.unix_millis("ts").alias("ts_ms"),
            )
        ).alias("value"),
    )
    from pyspark.sql.types import _parse_datatype_string

    decoded = decode_debezium(enveloped, _parse_datatype_string(payload_t))
    return decoded.select(
        "event_id",
        "eventName",
        F.col("image.user_id").alias("user_id"),
        F.col("image.value").alias("value"),
        "seq",
    )


@register(
    "q_merge_into",
    oracle="""
    WITH tgt AS (
      SELECT c_custkey AS k, c_name, c_acctbal AS bal
      FROM customer WHERE c_custkey % 5 <> 0
    ),
    src AS (
      SELECT c_custkey AS k, c_name, c_acctbal AS bal
      FROM customer WHERE c_custkey % 2 = 0
    )
    SELECT COALESCE(tgt.k, src.k) AS c_custkey,
      COALESCE(src.c_name, tgt.c_name) AS c_name,
      CASE WHEN src.k IS NULL THEN tgt.bal
           ELSE CAST(CAST(src.bal AS DECIMAL(12,2)) + 100 AS DOUBLE) END
        AS acctbal,
      CASE WHEN src.k IS NULL THEN 'K'
           WHEN tgt.k IS NULL THEN 'I' ELSE 'U' END AS action
    FROM tgt FULL JOIN src ON tgt.k = src.k
    WHERE NOT (tgt.k IS NOT NULL AND src.k IS NOT NULL AND src.bal < 0)
    """,
)
def q_merge_into(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8″ full MERGE INTO semantics in one batch op — the general form
    of the reference's keyed upsert (REPLACE INTO,
    source/load_data_to_rds_lambda/handler.py:29-33, which only ever
    updates-or-inserts): WHEN MATCHED AND src.bal < 0 THEN DELETE,
    WHEN MATCHED THEN UPDATE (credit +100), WHEN NOT MATCHED THEN
    INSERT, unmatched target rows kept.  Target = customers with
    custkey % 5 <> 0 (the standing dim), source = the % 2 = 0 batch.

    Plan: MERGE is exactly one full-outer hash join on the key plus a
    row-level CASE — no second pass, no per-clause scans; at 100 TB
    both sides shuffle once on c_custkey (or co-located bucketed
    layout skips even that, sources/sinks.py).  The balance update
    goes through DECIMAL so the +100 arithmetic is exact in both
    engines.  The streaming twin (continuous MERGE from a change
    stream) is streaming/cdc.py start_merge_stream."""
    cust = load_table(spark, sf_dir, "customer")
    tgt = cust.filter(F.col("c_custkey") % 5 != 0).select(
        F.col("c_custkey").alias("tk"),
        F.col("c_name").alias("t_name"),
        F.col("c_acctbal").alias("t_bal"),
    )
    src = cust.filter(F.col("c_custkey") % 2 == 0).select(
        F.col("c_custkey").alias("sk"),
        F.col("c_name").alias("s_name"),
        F.col("c_acctbal").alias("s_bal"),
    )
    merged = tgt.join(src, F.col("tk") == F.col("sk"), "full")
    matched = F.col("tk").isNotNull() & F.col("sk").isNotNull()
    return merged.filter(~(matched & (F.col("s_bal") < 0))).select(
        F.coalesce("tk", "sk").alias("c_custkey"),
        F.coalesce("s_name", "t_name").alias("c_name"),
        F.when(F.col("sk").isNull(), F.col("t_bal"))
        .otherwise(
            (F.col("s_bal").cast("decimal(12,2)") + 100).cast("double")
        )
        .alias("acctbal"),
        F.when(F.col("sk").isNull(), "K")
        .when(F.col("tk").isNull(), "I")
        .otherwise("U")
        .alias("action"),
    )


@register(
    "q_scd2_point_in_time",
    oracle="""
    WITH scd AS (
      SELECT user_id, value, ts AS valid_from,
        lead(ts) OVER w AS valid_to
      FROM events WHERE event_type = 'purchase'
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT c.event_id, c.user_id, c.ts, d.value AS active_value
    FROM events c
    LEFT JOIN scd d ON c.user_id = d.user_id
      AND c.ts >= d.valid_from AND (d.valid_to IS NULL OR c.ts < d.valid_to)
    WHERE c.event_type = 'click'
    """,
)
def q_scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join against the SCD2 dimension (the consuming
    side of q_scd2_build): each fact row picks up the dimension version
    whose [valid_from, valid_to) interval contains its timestamp — the
    query every Kimball-style warehouse runs against a versioned
    dimension.

    Executed WITHOUT an interval join: dimension versions and facts
    union into one stream ordered by (ts, kind, event_id) — versions
    sort before facts at equal instants, a later same-instant version
    supersedes the zero-length earlier one — and a single
    last-non-null window carries the active version onto each fact.
    One shuffle on the key, running state O(1); the oracle's
    interval-predicate LEFT JOIN is the quadratic-per-key shape this
    decomposition replaces at 100 TB (same argument as q_asof_join,
    operators/timeseries.py).  Facts before any version keep a NULL
    active_value (left semantics).
    """
    ev = load_table(spark, sf_dir, "events")
    dim = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        "event_id",
        F.lit(0).alias("kind"),
        F.col("value").alias("dim_value"),
    )
    fact = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        "event_id",
        F.lit(1).alias("kind"),
        F.lit(None).cast("double").alias("dim_value"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.asc_nulls_last("ts"), "kind", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # the carried state is a STRUCT per dimension VERSION, not the bare
    # value: a version whose value is NULL is still the active version
    # (the oracle's interval join returns its NULL), while a bare
    # last(value, ignorenulls) would skip it and resurrect the older
    # version's value (fixture-caught)
    ver = F.last(
        F.when(F.col("kind") == 0, F.struct(F.col("dim_value").alias("v"))),
        ignorenulls=True,
    ).over(w)
    return (
        dim.unionAll(fact)
        .withColumn("active_ver", ver)
        .filter(F.col("kind") == 1)
        # a NULL-ts fact matches NO dimension interval (c.ts >=
        # d.valid_from is NULL) yet sorts after every version here, and
        # a NULL user_id never equi-joins yet shares a window
        # partition — mask both out (review/fixture-caught)
        .withColumn(
            "active_value",
            F.when(
                F.col("ts").isNotNull() & F.col("user_id").isNotNull(),
                F.col("active_ver")["v"],
            ),
        )
        .select("event_id", "user_id", "ts", "active_value")
    )


@register(
    "q_mv_incremental",
    oracle="""
    SELECT l_returnflag,
      CAST(SUM(CAST(CASE WHEN l_orderkey % 11 = 2
                         THEN l_extendedprice + 1.00
                         ELSE l_extendedprice END AS DECIMAL(14,2)))
           AS DOUBLE) AS revenue,
      COUNT(*) AS n_rows,
      CAST(SUM(CAST(CASE WHEN l_orderkey % 11 = 2
                         THEN l_extendedprice + 1.00
                         ELSE l_extendedprice END AS DECIMAL(14,2)))
           AS DOUBLE) / COUNT(*) AS avg_price
    FROM lineitem
    WHERE l_orderkey % 11 <> 1
    GROUP BY l_returnflag
    """,
)
def q_mv_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8/A17′ + B9: incremental MATERIALIZED-VIEW maintenance under a
    CDC delta — the step beyond q_rollup_merge's append-only shard
    merge: the delta carries INSERTs, REMOVEs, and in-place MODIFYs
    (value updates), and the MV is advanced by SIGNED partial states
    (retract/apply), never by rescanning the base table.

    Deterministic scenario carved from lineitem by orderkey residue
    (disjoint classes, so base/insert/remove/modify never overlap):
      base table   = rows with l_orderkey % 11 != 0
      CDC INSERTs  = rows with residue 0 (arrive in the delta)
      CDC REMOVEs  = base rows with residue 1 (deleted)
      CDC MODIFYs  = base rows with residue 2 (price bumped +1.00)

    MV = revenue/count by l_returnflag.  The maintenance algebra:
      - INSERT  → (+price, +1)
      - REMOVE  → (-old_price, -1)
      - MODIFY  → (+new_price - old_price, 0)   [same key, same group]
    and the refreshed MV is SUM over {MV partials} ∪ {delta partials},
    dropping groups whose merged count reaches 0.  Sums are exact
    DECIMAL so retract-then-apply is bit-identical to recompute — with
    float sums, retraction would accumulate rounding drift and the MV
    would diverge from the base over enough batches (why streaming
    engines keep retractable aggregates in exact types).

    Scale: the refresh shuffles |groups ∪ delta-groups| partial rows —
    independent of the base-table size; a 100 TB base is never
    re-read.  The oracle recomputes the final state from scratch,
    proving partial-state maintenance ≡ recompute.

    Reference anchor: the Lambda-driven Redshift upsert keeps only the
    latest row state (reference lambda_function.py upsert path); this
    extends the same change feed to derived-aggregate state.
    """
    li = load_table(spark, sf_dir, "lineitem")
    res = F.col("l_orderkey") % 11
    price = F.col("l_extendedprice").cast("decimal(14,2)")

    base = li.filter(res != 0)
    # yesterday's MV: exact partial states (decimal sum, bigint count)
    mv = base.groupBy("l_returnflag").agg(
        F.sum(price).cast("decimal(16,2)").alias("s"),
        F.count(F.lit(1)).alias("n"),
    )

    inserts = li.filter(res == 0).select(
        "l_returnflag", price.alias("d_s"), F.lit(1).cast("bigint").alias("d_n")
    )
    removes = base.filter(res == 1).select(
        "l_returnflag", (-price).alias("d_s"), F.lit(-1).cast("bigint").alias("d_n")
    )
    modifies = base.filter(res == 2).select(
        "l_returnflag",
        # new − old = +1.00, but ONLY for rows with a price: bumping a
        # NULL price leaves it NULL (NULL + 1 = NULL), so its retract/
        # apply delta is NULL (sum-skipped) — an unconditional +1.00
        # drifted the MV off the recompute on NULL-measure rows
        # (fixture-caught)
        F.when(price.isNotNull(), F.lit(1.00).cast("decimal(14,2)")).alias("d_s"),
        F.lit(0).cast("bigint").alias("d_n"),
    )
    delta = inserts.unionAll(removes).unionAll(modifies)
    # delta partials first (map-side combine), then merge with the MV:
    # the merge aggregate touches |groups| rows, not the base table
    delta_mv = delta.groupBy("l_returnflag").agg(
        F.sum("d_s").cast("decimal(16,2)").alias("s"), F.sum("d_n").alias("n")
    )
    return (
        mv.unionAll(delta_mv)
        .groupBy("l_returnflag")
        .agg(
            F.sum("s").cast("decimal(16,2)").alias("s_m"),
            F.sum("n").cast("bigint").alias("n_rows"),
        )
        .filter(F.col("n_rows") > 0)
        .select(
            "l_returnflag",
            F.col("s_m").cast("double").alias("revenue"),
            "n_rows",
            (F.col("s_m").cast("double") / F.col("n_rows")).alias("avg_price"),
        )
    )


@register(
    "q_schema_evolution",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus,
           o_totalprice, CAST(NULL AS VARCHAR) AS o_channel, 1 AS src_ver
    FROM orders WHERE o_orderkey % 3 = 0
    UNION ALL
    SELECT o_orderkey, o_custkey, CAST(NULL AS VARCHAR) AS o_orderstatus,
           o_totalprice, o_orderpriority AS o_channel, 2 AS src_ver
    FROM orders WHERE o_orderkey % 3 <> 0
    """,
)
def q_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A17′ schema drift: two snapshot generations with DIFFERENT
    columns (v1 carries o_orderstatus, v2 dropped it and added
    o_channel) are unioned BY NAME with missing columns null-filled —
    ``unionByName(allowMissingColumns=True)``, the declarative form of
    parquet ``mergeSchema`` reads.  Position-based UNION would silently
    misalign columns here; name-based resolution is the correctness
    point, and the engine resolves it at plan time (no Python row
    work, no schema sniffing at execution).

    Scale: pure map-side Project/Union — zero shuffles at any size;
    on partitioned parquet each generation keeps its own pushed-down
    scan schema (the v1 scan never reads o_channel bytes).
    """
    o = load_table(spark, sf_dir, "orders")
    v1 = o.filter(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        F.lit(1).alias("src_ver"),
    )
    v2 = o.filter(F.col("o_orderkey") % 3 != 0).select(
        "o_orderkey", "o_custkey", "o_totalprice",
        F.col("o_orderpriority").alias("o_channel"),
        F.lit(2).alias("src_ver"),
    )
    return v1.unionByName(v2, allowMissingColumns=True)


# ----------------------------------------------------- try_cast error channel


@register(
    "q_try_cast_errors",
    oracle="""
    SELECT event_type,
      CAST(COUNT(*) AS BIGINT) AS n_rows,
      CAST(COUNT(TRY_CAST(CASE WHEN regexp_matches(
             json_extract_string(props, '$.k'), '^-?[0-9]+$')
           THEN json_extract_string(props, '$.k') END AS INTEGER))
           AS BIGINT) AS n_parsed_k,
      CAST(SUM(TRY_CAST(CASE WHEN regexp_matches(
             json_extract_string(props, '$.k'), '^-?[0-9]+$')
           THEN json_extract_string(props, '$.k') END AS INTEGER))
           AS BIGINT) AS sum_k,
      CAST(COUNT(*) - COUNT(TRY_CAST(event_type AS DOUBLE)) AS BIGINT)
        AS n_unparseable_as_number
    FROM events GROUP BY event_type
    """,
)
def q_try_cast_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRY_CAST error-channel accounting — the safe-parse primitive of
    every stringly-typed ingest (reference A3 stringly-typing,
    SURVEY.md §2.1): failed casts become NULLs that are COUNTED, not
    exceptions that kill the batch, so the per-type parse success
    rate is itself a queryable data-quality metric.

    ``try_cast`` stays a codegen projection (no Python, no exception
    control flow — Spark's ANSI TryCast returns null on overflow or
    malformed input); JSON field extraction and the cast both fold
    into the single aggregate pass."""
    e = load_table(spark, sf_dir, "events")
    # integer-regex guard BEFORE the cast: Spark try_cast TRUNCATES a
    # decimal string ('12.5' -> 12) where DuckDB TRY_CAST ROUNDS it
    # (-> 13) — gating both engines on ^-?[0-9]+$ removes the only
    # cross-engine divergence class while keeping try_cast for
    # overflow safety
    k = F.expr(
        "try_cast(CASE WHEN get_json_object(props, '$.k')"
        " RLIKE '^-?[0-9]+$'"
        " THEN get_json_object(props, '$.k') END AS INT)"
    )
    bad = F.expr("try_cast(event_type AS DOUBLE)")
    return e.groupBy("event_type").agg(
        F.count("*").alias("n_rows"),
        F.count(k).alias("n_parsed_k"),
        F.sum(k).alias("sum_k"),
        (F.count("*") - F.count(bad)).alias("n_unparseable_as_number"),
    )


# ------------------------------------------------------- table checksum


def _checksum_oracle() -> str:
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.functions.portable_hash import (
        sql_md5_int,
    )

    # every field is NULL-coalesced to an explicit sentinel BEFORE
    # concatenation: SQL || propagates NULL (the whole row hash would
    # vanish from the XOR) while Spark's concat_ws silently DROPS null
    # operands and their separators — two different wrong answers.
    fields = [
        "CAST(o_orderkey AS VARCHAR)",
        "CAST(o_custkey AS VARCHAR)",
        "o_orderstatus",
        "CAST(CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100"
        " AS BIGINT) AS VARCHAR)",
        "strftime(o_orderdate, '%Y-%m-%d')",
        "o_orderpriority",
    ]
    row = " || '|' || ".join(f"coalesce({f}, '<null>')" for f in fields)
    return f"""
    SELECT o_orderstatus,
      CAST(COUNT(*) AS BIGINT) AS n_rows,
      bit_xor({sql_md5_int(row)}) AS checksum
    FROM orders GROUP BY o_orderstatus
    """


@register("q_table_checksum", oracle=_checksum_oracle())
def q_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive table checksum: XOR of a portable 60-bit row
    hash over a canonical row serialization, grouped by status — the
    cheap replica-parity check a CDC pipeline runs after every apply
    (reference A20 COUNT(*) parity, SURVEY.md §2.1, upgraded from
    row COUNT to row CONTENT: two tables agree iff counts AND
    checksums agree, modulo XOR's paired-duplicate blind spot, which
    the count column covers in practice).

    XOR is commutative/associative, so the aggregate map-side-combines
    like a SUM and never cares about partitioning or row order — the
    property that makes it THE distributed-checksum idiom.  The
    canonical form avoids every engine-divergent rendering: money via
    exact-decimal cents (never double→string), dates via explicit
    strftime pattern, and every field NULL-coalesced to a sentinel —
    concat_ws drops null operands where SQL || propagates NULL, so an
    un-coalesced field would silently unhash differently per engine
    (caught by the NULL-dates/-measures fixture sweeps)."""
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.functions.portable_hash import (
        md5_prefix_int,
    )

    o = load_table(spark, sf_dir, "orders")
    null_sentinel = F.lit("<null>")
    row = F.concat_ws(
        "|",
        F.coalesce(F.col("o_orderkey").cast("string"), null_sentinel),
        F.coalesce(F.col("o_custkey").cast("string"), null_sentinel),
        F.coalesce(F.col("o_orderstatus"), null_sentinel),
        F.coalesce(
            (F.col("o_totalprice").cast("decimal(14,2)") * 100)
            .cast("bigint")
            .cast("string"),
            null_sentinel,
        ),
        F.coalesce(F.date_format("o_orderdate", "yyyy-MM-dd"), null_sentinel),
        F.coalesce(F.col("o_orderpriority"), null_sentinel),
    )
    return o.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_rows"),
        F.bit_xor(md5_prefix_int(row)).alias("checksum"),
    )


@register(
    "q_merge_column_lww",
    oracle="""
    WITH base AS (
      SELECT c_custkey AS k, c_name,
        CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE) AS bal
      FROM customer
    ),
    -- stream A (CRM): renames, version = k % 7, touches keys k % 3 = 0
    a AS (
      SELECT k, k % 7 AS ver, 'A:' || c_name AS new_name
      FROM base WHERE k % 3 = 0
    ),
    -- stream B (billing): re-balances AND renames, version = k % 5,
    -- touches keys k % 2 = 0 — overlaps A on k % 6 = 0
    b AS (
      SELECT k, k % 5 AS ver, 'B:' || c_name AS new_name,
        CAST(CAST(bal AS DECIMAL(12,2)) + 10 AS DOUBLE) AS new_bal
      FROM base WHERE k % 2 = 0
    ),
    name_cells AS (
      SELECT k, ver, 1 AS src, new_name AS v FROM a
      UNION ALL
      SELECT k, ver, 2 AS src, new_name AS v FROM b
    ),
    name_win AS (
      SELECT k, v AS name_v, row_number() OVER (
        PARTITION BY k ORDER BY ver DESC, src DESC) AS rn
      FROM name_cells
    )
    SELECT base.k AS c_custkey,
      COALESCE(nw.name_v, base.c_name) AS c_name,
      COALESCE(b.new_bal, base.bal) AS acctbal
    FROM base
    LEFT JOIN (SELECT k, name_v FROM name_win WHERE rn = 1) nw
      ON nw.k = base.k
    LEFT JOIN b ON b.k = base.k
    """,
)
def q_merge_column_lww(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COLUMN-LEVEL last-writer-wins CDC merge: two change streams
    update DIFFERENT (overlapping) columns of the same key at
    different versions — CRM renames, billing re-balances and renames
    — and the merge resolves each COLUMN independently to its
    newest-version writer (ties → higher source id), instead of the
    row-level LWW of q_upsert_latest_wins, which would clobber one
    stream's column with the other's stale value.  This is the
    multi-master / multi-source replication semantic (per-cell vector
    versions, the CRDT LWW-register per column) that row-granular
    MERGE cannot express.

    Determinism: versions are integer key arithmetic; the per-column
    winner is a row_number over the total (ver, src) order.  Scale:
    change cells route through ONE (key)-keyed window bounded by
    |streams| rows per key (never history length — each stream
    contributes its latest cell), and the final assembly is two
    key-equi left joins; at 100 TB all three frames shuffle on the
    same key so AQE co-partitions them."""
    base = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"),
        "c_name",
        F.col("c_acctbal").cast("decimal(12,2)").cast("double").alias("bal"),
    )
    a = base.filter(F.col("k") % 3 == 0).select(
        "k",
        (F.col("k") % 7).alias("ver"),
        F.concat(F.lit("A:"), F.col("c_name")).alias("new_name"),
    )
    b = base.filter(F.col("k") % 2 == 0).select(
        "k",
        (F.col("k") % 5).alias("ver"),
        F.concat(F.lit("B:"), F.col("c_name")).alias("new_name"),
        (F.col("bal").cast("decimal(12,2)") + 10)
        .cast("double")
        .alias("new_bal"),
    )
    name_cells = a.select(
        "k", "ver", F.lit(1).alias("src"), F.col("new_name").alias("v")
    ).unionAll(
        b.select(
            "k", "ver", F.lit(2).alias("src"), F.col("new_name").alias("v")
        )
    )
    w = Window.partitionBy("k").orderBy(F.desc("ver"), F.desc("src"))
    name_win = (
        name_cells.select(
            "k", F.col("v").alias("name_v"), F.row_number().over(w).alias("rn")
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    bal_cells = b.select("k", F.col("new_bal"))
    return (
        base.join(name_win, "k", "left")
        .join(bal_cells, "k", "left")
        .select(
            F.col("k").alias("c_custkey"),
            F.coalesce("name_v", "c_name").alias("c_name"),
            F.coalesce("new_bal", "bal").alias("acctbal"),
        )
    )


# bitemporal probe instants (fixed literals inside the testdata's
# 1992-1998 order-date span; every sf contains orders around them)
_BT_VALID = "1995-09-15"
_BT_TX = "1995-09-30"


@register(
    "q_bitemporal",
    oracle=f"""
    WITH o AS (
      SELECT o_orderkey, CAST(o_orderdate AS DATE) AS od,
        CAST(CAST(o_totalprice AS DECIMAL(14,2)) AS DOUBLE) AS price
      FROM orders WHERE o_orderdate IS NOT NULL
    ),
    versions AS (
      -- v1 as first recorded: full valid range, superseded at od+20
      SELECT o_orderkey, 'v1' AS version, price,
        od AS valid_from, od + 30 AS valid_to,
        od AS tx_from, od + 20 AS tx_to
      FROM o
      UNION ALL
      -- the correction at tx od+20 SPLITS v1: its head survives...
      SELECT o_orderkey, 'v1-head' AS version, price,
        od, od + 10, od + 20, NULL
      FROM o
      UNION ALL
      -- ...and the corrected tail replaces the rest (+50 adjustment)
      SELECT o_orderkey, 'v2', 
        CAST(CAST(price AS DECIMAL(14,2)) + 50 AS DOUBLE),
        od + 10, od + 30, od + 20, NULL
      FROM o
    )
    SELECT o_orderkey, version, price, valid_from, valid_to, tx_from
    FROM versions
    WHERE valid_from <= DATE '{_BT_VALID}' AND DATE '{_BT_VALID}' < valid_to
      AND tx_from <= DATE '{_BT_TX}'
      AND (tx_to IS NULL OR DATE '{_BT_TX}' < tx_to)
    """,
)
def q_bitemporal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BITEMPORAL point-in-time query (Snodgrass 1999, SQL:2011
    system-versioned + application-time periods, public): every order
    carries VALID time (when the price applied in the world) and
    TRANSACTION time (when the warehouse believed it), and the query
    answers "what did we believe on 1995-09-30 about 1995-09-15" —
    the audit/restatement question SCD2 (valid time only,
    q_scd2_point_in_time) cannot answer, because SCD2 forgets what the
    table USED to say.

    The version store models a late correction correctly: when the
    corrected tail arrives at tx = od+20 it CLOSES the original
    full-range row in transaction time and splits it into a surviving
    head [od, od+10) and the corrected tail [od+10, od+30) — so any
    (V, T) probe sees AT MOST ONE version per order (half-open
    intervals on both axes), the bitemporal invariant.

    Determinism: pure integer date arithmetic and decimal-exact money.
    Scale: version construction is a union of three PROJECTIONS over
    the scan and the probe is a filter — no join, no window, no
    shuffle; both probe literals fold into partition-prunable
    predicates on a date-partitioned layout."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").isNotNull()
    ).select(
        "o_orderkey",
        F.col("o_orderdate").cast("date").alias("od"),
        F.col("o_totalprice")
        .cast("decimal(14,2)")
        .cast("double")
        .alias("price"),
    )

    def version(tag, price, vf, vt, txf, txt):
        return o.select(
            "o_orderkey",
            F.lit(tag).alias("version"),
            price.alias("price"),
            vf.alias("valid_from"),
            vt.alias("valid_to"),
            txf.alias("tx_from"),
            txt.alias("tx_to"),
        )

    od = F.col("od")
    versions = (
        version(
            "v1", F.col("price"), od, F.date_add(od, 30),
            od, F.date_add(od, 20),
        )
        .unionAll(
            version(
                "v1-head", F.col("price"), od, F.date_add(od, 10),
                F.date_add(od, 20), F.lit(None).cast("date"),
            )
        )
        .unionAll(
            version(
                "v2",
                (F.col("price").cast("decimal(14,2)") + 50).cast("double"),
                F.date_add(od, 10), F.date_add(od, 30),
                F.date_add(od, 20), F.lit(None).cast("date"),
            )
        )
    )
    v, t = F.lit(_BT_VALID).cast("date"), F.lit(_BT_TX).cast("date")
    return versions.filter(
        (F.col("valid_from") <= v)
        & (v < F.col("valid_to"))
        & (F.col("tx_from") <= t)
        & (F.col("tx_to").isNull() | (t < F.col("tx_to")))
    ).select(
        "o_orderkey", "version", "price", "valid_from", "valid_to", "tx_from"
    )


# ---------------------------------------------------- erasure audit

_ERASE_THR = "08"  # md5 hex prefix: ~1/32 of the user key space


@register(
    "q_erasure_audit",
    oracle=f"""
    WITH tagged AS (
      SELECT event_type, user_id,
        CASE WHEN md5(CAST(user_id AS VARCHAR)) < '{_ERASE_THR}'
          THEN 1 ELSE 0 END AS erased
      FROM events
    )
    SELECT event_type,
      CAST(SUM(erased) AS BIGINT) AS n_purged,
      CAST(COUNT(*) - SUM(erased) AS BIGINT) AS n_retained,
      CAST(COUNT(DISTINCT CASE WHEN erased = 1 THEN user_id END)
           AS BIGINT) AS n_users_erased,
      round(CAST(SUM(erased) AS DOUBLE) / COUNT(*), 6) AS pct_purged
    FROM tagged GROUP BY event_type
    """,
)
def q_erasure_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RIGHT-TO-BE-FORGOTTEN erasure audit: a deterministic erasure
    request set (users whose md5 falls in the 1/32 key slice — the
    stand-in for a GDPR delete queue) applied against the event
    stream, reporting purged/retained row counts, distinct users
    erased, and purge fraction per event type — the compliance
    readout a CDC warehouse owes its DPO after every delete batch
    (the reference's DMS pipeline ships deletes as
    ``processed_and_safe_to_delete`` markers; this is the audit on
    the apply side, SURVEY §2.1 A16's retention sibling).

    Exactness: all counts are integers; the NULL-user rows follow
    3VL identically in both engines (md5(NULL) < thr is NULL → not
    erased → retained); pct is an integer-ratio double « 2^53 with a
    6dp guard.

    Scale: ONE scan + one hash aggregate on the bounded event-type
    domain with map-side partials; the distinct-user count shuffles
    only (type, user) pairs that matched the erasure slice — no join
    against a materialized request table (the md5 predicate IS the
    broadcast)."""
    ev = load_table(spark, sf_dir, "events")
    tagged = ev.select(
        "event_type",
        "user_id",
        F.when(F.md5(F.col("user_id").cast("string")) < _ERASE_THR, 1)
        .otherwise(0)
        .alias("erased"),
    )
    return tagged.groupBy("event_type").agg(
        F.sum("erased").cast("bigint").alias("n_purged"),
        (F.count(F.lit(1)) - F.sum("erased")).cast("bigint").alias("n_retained"),
        F.countDistinct(F.when(F.col("erased") == 1, F.col("user_id")))
        .cast("bigint")
        .alias("n_users_erased"),
        F.round(
            F.sum("erased").cast("double") / F.count(F.lit(1)), 6
        ).alias("pct_purged"),
    )


# ------------------------------------------------- late-arrival audit


@register(
    "q_late_arrival_audit",
    oracle="""
    WITH seq AS (
      SELECT event_type, ts, user_id,
        MAX(ts) OVER (
          PARTITION BY user_id ORDER BY event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hwm
      FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL AND event_id IS NOT NULL
    )
    SELECT event_type,
      CAST(COUNT(*) AS BIGINT) AS n_events,
      CAST(SUM(CASE WHEN ts < hwm THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
      CAST(MAX(CASE WHEN ts < hwm
                THEN date_diff('second', ts, hwm) END) AS BIGINT)
        AS max_lateness_sec,
      round(CAST(SUM(CASE WHEN ts < hwm THEN 1 ELSE 0 END) AS DOUBLE)
            / COUNT(*), 6) AS late_frac
    FROM seq GROUP BY event_type
    """,
)
def q_late_arrival_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATE-ARRIVAL audit for the CDC/event feed: events whose event
    time precedes the per-user HIGH-WATER MARK established by
    earlier-INGESTED rows (event_id is the ingest order) — the
    out-of-orderness report that sizes streaming watermarks
    (streaming/windows.py) and backfill windows, per event type:
    late-row count, worst lateness in whole seconds, late fraction.

    Exactness: the high-water mark is a MAX window (no floats);
    lateness is integer seconds (both engines difference the same
    session-zone-normalized timestamps); the fraction is an
    integer-ratio double with a 6dp guard.  Rows with NULL
    user/ts/event_id are excluded identically on both sides.

    Scale: ONE window partitioned by the high-cardinality user key
    (never a global sort) + one hash agg on the bounded event-type
    domain — the q_last_touch_attribution plan shape."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("event_id").isNotNull()
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seq = ev.select(
        "event_type", "ts", F.max("ts").over(w).alias("hwm")
    )
    late = F.when(F.col("ts") < F.col("hwm"), 1).otherwise(0)
    return seq.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(late).cast("bigint").alias("n_late"),
        F.max(
            F.when(
                F.col("ts") < F.col("hwm"),
                F.unix_timestamp("hwm") - F.unix_timestamp("ts"),
            )
        )
        .cast("bigint")
        .alias("max_lateness_sec"),
        F.round(F.sum(late).cast("double") / F.count(F.lit(1)), 6).alias(
            "late_frac"
        ),
    )


# TTL ladder for the purge plan (days by event class — hot telemetry
# expires fast, money events are kept long).  Literal per-type values
# so the frontier arithmetic is identical in both engines.
_TTL_DAYS = {"error": 2, "click": 5, "view": 7, "signup": 10, "purchase": 14}
_TTL_DEFAULT = 30


@register(
    "q_ttl_purge_plan",
    oracle=f"""
    WITH e AS (
      SELECT event_type, ts,
        CASE event_type
          {' '.join(f"WHEN '{k}' THEN {v}" for k, v in sorted(_TTL_DAYS.items()))}
          ELSE {_TTL_DEFAULT} END AS ttl_days
      FROM events WHERE ts IS NOT NULL
    ),
    wm AS (SELECT max(ts) AS w FROM e)
    SELECT event_type,
      CAST(ttl_days AS BIGINT) AS ttl_days,
      wm.w - (ttl_days * INTERVAL 1 DAY) AS frontier_ts,
      CAST(COUNT(*) AS BIGINT) AS n_total,
      CAST(COUNT(*) FILTER (WHERE ts < wm.w - (ttl_days * INTERVAL 1 DAY))
        AS BIGINT) AS n_purgeable,
      min(ts) AS oldest_ts
    FROM e CROSS JOIN wm
    GROUP BY event_type, ttl_days, wm.w
    """,
)
def q_ttl_purge_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A16 retention/TTL as a BATCH PURGE PLAN (the auditable twin of
    streaming/cdc.py's TTL eviction): per event class, the retention
    frontier (corpus watermark minus the class TTL), how many rows
    stand behind it (purge-eligible), and the oldest surviving
    timestamp — the accounting a storage owner reads before running
    the actual delete, and the same computation the incremental purge
    job re-runs per micro-batch.

    The watermark is data-derived (max ts), so the plan is
    scale-consistent: the same query at any SF compares each row to
    the same relative frontier.  NULL-timestamp rows are excluded in
    both engines (untimestamped rows cannot age out).

    Scale: one conditional hash aggregate over the fact table keyed by
    the bounded event-type domain, plus a 1-row watermark broadcast —
    no window, no join against data-scaled sides; interval arithmetic
    is integer days on microsecond timestamps (exact in both
    engines)."""
    ttl = F.coalesce(
        *[
            F.when(F.col("event_type") == k, F.lit(v))
            for k, v in sorted(_TTL_DAYS.items())
        ],
        F.lit(_TTL_DEFAULT),
    )
    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select("event_type", "ts", ttl.alias("ttl_days"))
    )
    wm = e.agg(F.max("ts").alias("w"))
    frontier = F.timestamp_add("DAY", -F.col("ttl_days"), F.col("w"))
    return (
        e.join(F.broadcast(wm))
        .withColumn("frontier_ts", frontier)
        .groupBy("event_type", "ttl_days", "frontier_ts")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_total"),
            F.count(F.when(F.col("ts") < F.col("frontier_ts"), 1))
            .cast("bigint")
            .alias("n_purgeable"),
            F.min("ts").alias("oldest_ts"),
        )
        .select(
            "event_type",
            F.col("ttl_days").cast("bigint").alias("ttl_days"),
            "frontier_ts",
            "n_total",
            "n_purgeable",
            "oldest_ts",
        )
    )
