from __future__ import annotations

import duckdb
import pytest

from pyspark.sql import SparkSession

SF_DIR = "/root/testdata/sf0.001"
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


@pytest.fixture(scope="session")
def spark(tmp_path_factory) -> SparkSession:
    s = (
        SparkSession.builder.appName("engine-tests")
        .config(
            "spark.sql.warehouse.dir",
            str(tmp_path_factory.mktemp("spark-warehouse")),
        )
        .master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        # same as session.get_spark: no per-call call-site capture
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .getOrCreate()
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def oracle() -> duckdb.DuckDBPyConnection:
    """DuckDB connection with the testdata tables registered as views —
    the same setup the driver uses for CORRECTNESS_r{N}.json."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()
