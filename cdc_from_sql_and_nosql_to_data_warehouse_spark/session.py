"""SparkSession construction tuned for the engine.

The reference has no engine of its own — MySQL/Redshift optimize its SQL
(SURVEY.md §4.1).  Here Catalyst is the optimizer, so the session turns on
everything that matters at 100 TB: AQE (runtime join re-planning, skew
splitting, shuffle coalescing) and Arrow (vectorized pandas-UDF exchange).

Defaults are sized for the local[32] test harness; on a real cluster the
same settings scale because they are ratios/flags, not absolute sizes
(shuffle.partitions is overridden by AQE coalescing at runtime).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# ---------------- data-aware shuffle width (r12, VERDICT r11 next-1)
#
# The sf10 probe's single biggest finding: core-count shuffle width is
# right at sf0.1 but gives ~220 s-median reduce tasks at the 1000x
# blowup — the width must scale with input volume, exactly what a real
# cluster does via coalescePartitions.initialPartitionNum.  The sizing
# rule (recorded in SCALE.md):
#
#   width = clamp(cores, ceil(input_bytes / 64 MB), 4096)
#
# 64 MB of on-disk parquet per reduce partition ≈ 150-250 MB in-flight
# after decompression — bounded per-task state at any SF; at sf0.1
# (~100 MB) the rule floors to the core count (today's behavior, so the
# driver bench is untouched), at the sf10 blowup (~18 GB) it lands at
# ~280, matching the probe's empirically good hand-set 256.  AQE
# coalescing remains the shrink path for queries that reduce early.
_TARGET_SHUFFLE_BYTES = 64 << 20
_MAX_SHUFFLE_WIDTH = 4096
_DIR_BYTES_CACHE: dict[str, int] = {}


def _input_bytes(sf_dir: str) -> int:
    """Total on-disk bytes of data files under ``sf_dir`` (cached —
    tune() runs once per query call)."""
    got = _DIR_BYTES_CACHE.get(sf_dir)
    if got is not None:
        return got
    total = 0
    for root, _dirs, files in os.walk(sf_dir):
        for f in files:
            if f.endswith((".parquet", ".csv", ".json", ".ndjson", ".orc")):
                try:
                    total += os.path.getsize(os.path.join(root, f))
                except OSError:  # pragma: no cover - racing deletion
                    pass
    _DIR_BYTES_CACHE[sf_dir] = total
    return total


def shuffle_width_for(sf_dir: str | None, cores: int | None = None) -> int:
    """The data-aware shuffle width for a dataset directory.

    ``SPARK_GRAFT_SHUFFLE_PARTITIONS`` overrides (probe/driver escape
    hatch); unknown or missing dirs fall back to the core count.
    """
    env = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
    if env:
        return int(env)
    cores = int(cores or os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if not sf_dir or not os.path.isdir(sf_dir):
        return cores
    need = -(-_input_bytes(sf_dir) // _TARGET_SHUFFLE_BYTES)  # ceil div
    return max(cores, min(_MAX_SHUFFLE_WIDTH, need))


def size_shuffle(spark: SparkSession, sf_dir: str | None) -> int:
    """Apply the sizing rule to a live session (runtime-settable confs:
    the pre-AQE shuffle width and AQE's initialPartitionNum; AQE then
    coalesces down per-stage)."""
    width = shuffle_width_for(sf_dir, spark.sparkContext.defaultParallelism)
    spark.conf.set("spark.sql.shuffle.partitions", str(width))
    spark.conf.set(
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum", str(width)
    )
    return width


def get_spark(app_name: str = "cdc_warehouse_spark") -> SparkSession:
    """Build (or fetch) the engine SparkSession."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # data-aware when SPARK_GRAFT_SF_DIR is set (bench/replay export
        # it); floors to the core count at driver scale (r12)
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_width_for(os.environ.get("SPARK_GRAFT_SF_DIR"), cpus)),
        )
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(shuffle_width_for(os.environ.get("SPARK_GRAFT_SF_DIR"), cpus)),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # PySpark 4 captures the Python call site on every functions/
        # Column call (a stack walk plus ~5x the py4j round trips) only
        # to annotate error messages; off, F.col("a").cast("int")
        # .alias("b") sends ~6 py4j commands instead of ~38.  Static
        # conf: it must be set before the session starts.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    return builder.getOrCreate()


def tune(spark: SparkSession, sf_dir: str | None = None) -> SparkSession:
    """Apply runtime-settable engine conf to an externally built session.

    The driver calls ``entry(spark)`` / ``queries()`` with its own session;
    these are the confs our operators rely on that can still be set after
    session start (timezone pins timestamp semantics against the DuckDB
    oracle).  ANSI mode is deliberately NOT touched: the reference's
    permissive casts are reproduced locally via try_cast in
    functions/normalize.py, so the operators are correct under either
    ansi setting and the driver's session keeps its own default.

    When the caller knows the dataset directory (``__spark_entry__._wrap``
    passes it per query; otherwise ``SPARK_GRAFT_SF_DIR`` is consulted),
    the shuffle width is sized from input volume (r12, see the sizing
    rule above) — a no-op at driver scale, the scale fix at sf10+.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    size_shuffle(spark, sf_dir or os.environ.get("SPARK_GRAFT_SF_DIR"))
    return spark
