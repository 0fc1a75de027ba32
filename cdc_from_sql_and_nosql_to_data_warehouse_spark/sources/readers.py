"""Batch readers.

Mirrors the reference's two ingest fronts (SURVEY.md §2.1 A1/A7):

- CSV with a messy header → ``read_csv_normalized`` (reference:
  source/load_data_to_rds_lambda/handler.py:22-28 parses ``txns.csv`` and
  lowercases/underscores the header at :25-27).
- Nested JSON documents → ``read_documents_json`` (reference:
  source/load_data_to_dynamodb_lambda/handler.py:12-14 loads the ``data``
  array of ``trades.json`` with ``parse_float=Decimal``).

Plus ``load_table`` for the driver-provided parquet testdata
(TESTDATA.md).  All readers return lazy DataFrames so Catalyst can push
filters/column pruning into the scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# (app id, sf_dir, table) → DataFrame.  A DataFrame is an immutable
# logical plan, so reuse is safe; memoizing skips the repeated file
# listing + footer/schema read (~100 ms of driver-side latency per call,
# which at 1000 queries/day against the same tables is pure waste).
# Keyed by applicationId, not id(spark): CPython reuses freed object
# addresses, so an id() key could resurrect DataFrames bound to a
# stopped SparkContext after a session restart.
_TABLE_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one testdata parquet table (column-pruned, filter-pushed by
    Catalyst — the physical plan must show PushedFilters/ReadSchema).

    ``events.ts`` arrives in whatever physical form the generator used:
    nanosecond parquet (Spark rejects it — PARQUET_TYPE_ILLEGAL — so
    read raw nanos via the public ``nanosAsLong`` conf and truncate to
    microseconds, the same truncation DuckDB applies on read) or
    microsecond ``isAdjustedToUTC=false`` (Spark infers TIMESTAMP_NTZ).
    Both are normalized to session-zone TIMESTAMP: the session timezone
    is pinned to UTC (session.py), so the NTZ→LTZ cast is value-
    preserving and every downstream instant function (``unix_millis``,
    ``F.window``) and the DuckDB oracle see identical values."""
    key = (spark.sparkContext.applicationId, sf_dir, name)
    cached = _TABLE_CACHE.get(key)
    if cached is not None:
        return cached
    # entries from previous (stopped) sessions can never be returned —
    # the appId key guards that — but they would otherwise accumulate
    # forever in a process that restarts sessions (the test suite, a
    # notebook server): evict them on first miss under a new appId
    for stale in [k for k in _TABLE_CACHE if k[0] != key[0]]:
        del _TABLE_CACHE[stale]
    if name == "events":
        try:
            df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        except Exception as e:  # noqa: BLE001 — probe, then re-raise
            if "PARQUET" not in str(e) and "nanos" not in str(e).lower():
                raise
            # nanosecond physical type: the public escape hatch.  The
            # conf is consulted again when the scan executes, so it must
            # stay set for the lifetime of the returned DataFrame —
            # deliberately not restored, but now only set when the
            # footer actually needs it (a micros-era generation no
            # longer mutates session state as a side effect).
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # DIV truncates toward zero — for the post-epoch testdata
            # this equals floor and matches DuckDB's own ns→µs read
            # conversion; revisit the rounding direction only if
            # pre-epoch nanosecond data ever appears
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    else:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    _TABLE_CACHE[key] = df
    return df


def normalize_header(df: DataFrame) -> DataFrame:
    """Reference header normalization: ``replace(' ', '_').lower()`` on
    every column name (source/load_data_to_rds_lambda/handler.py:25-27).
    Also trims the padded headers the reference's CSV actually has
    (e.g. ``' WITHDRAWAL AMT '``)."""
    return df.toDF(*[c.strip().replace(" ", "_").lower() for c in df.columns])


def read_csv_normalized(spark: SparkSession, path: str) -> DataFrame:
    """CSV scan + header normalization, all columns as strings — the
    reference's exact ingest shape (every RDS column is varchar(40),
    source/configure_rds_lambda/handler.py:46).  Typed parsing is a
    separate, explicit step (functions.normalize.typed_parse)."""
    df = spark.read.option("header", True).option("inferSchema", False).csv(path)
    return normalize_header(df)


# Schema for the reference's trades.json documents (FIXTURES.md §1.2).
# ``ticket`` is optional (absent in 1 of 8 reference docs) — an explicit
# schema makes the drift deterministic: missing fields → null.
TRADES_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField(
            "details",
            T.StructType(
                [
                    T.StructField("asks", T.ArrayType(T.DoubleType())),
                    T.StructField("bids", T.ArrayType(T.DoubleType())),
                    T.StructField("lag", T.LongType()),
                    T.StructField("system", T.StringType()),
                ]
            ),
        ),
        T.StructField("price", T.DoubleType()),
        T.StructField("shares", T.LongType()),
        T.StructField("ticker", T.StringType()),
        T.StructField("ticket", T.StringType()),
        T.StructField("time", T.StructType([T.StructField("date", T.StringType())])),
    ]
)


def read_documents_json(
    spark: SparkSession, path: str, schema: T.StructType = TRADES_SCHEMA
) -> DataFrame:
    """NDJSON document scan with an explicit schema (schema-on-read;
    missing fields → null), mirroring A7.  The reference's Decimal→float
    policy (write_dynamodb_stream_to_s3_lambda/handler.py:16-20) is the
    DoubleType in the schema."""
    df = spark.read.schema(schema).json(path)
    return df.withColumn("event_time", F.to_timestamp(F.col("time.date")))


def select_tables(
    available: list[str], schema_pattern: str = "%", table_pattern: str = "%"
) -> list[str]:
    """A18 source-side table selection: the DMS table-mapping include
    rule (reference: cdk_infrastructure/__init__.py:264-280 includes
    ``schema % / table rds_cdc_table``).  SQL LIKE patterns against
    'schema.table' names; replication reads only the selected tables."""
    import re

    def like(pat: str) -> re.Pattern:
        return re.compile("^" + re.escape(pat).replace("%", ".*").replace("_", ".") + "$")

    sp, tp = like(schema_pattern), like(table_pattern)
    out = []
    for name in available:
        schema, _, table = name.rpartition(".")
        if sp.match(schema or "default") and tp.match(table):
            out.append(name)
    return out


def read_json_with_error_channel(
    spark: SparkSession, path: str, schema: str
) -> tuple[DataFrame, DataFrame]:
    """A10 error channel at the SOURCE: parse NDJSON in PERMISSIVE mode
    with a corrupt-record column, and split the stream into (good, bad)
    — the reference does this with try/except around json.loads per
    record (write_dynamodb_stream_to_s3_lambda/handler.py); the engine
    does it declaratively so the scan stays vectorized and the bad
    channel is just another filter off the same pass.

    The bad frame carries the RAW line for quarantine/replay.  Mode
    alternatives, same reader: DROPMALFORMED silently discards (no
    audit trail — not our default), FAILFAST aborts the job (right for
    must-be-clean contracts).
    """
    full_schema = schema + ", _corrupt_record string"
    df = (
        spark.read.schema(full_schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
        # Spark requires a materialization boundary between the raw
        # parse and referencing the corrupt column (SPARK-38523 family):
        # cache-free localCheckpoint keeps it one pass per consumer
        # barrier: the parse must be materialized before the corrupt-record
        # column is referenced (Spark rejects it otherwise)
        .localCheckpoint(eager=False)
    )
    good = df.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    bad = df.filter(F.col("_corrupt_record").isNotNull()).select(
        F.col("_corrupt_record").alias("raw")
    )
    return good, bad
