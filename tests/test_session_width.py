"""Data-aware shuffle-width sizing (r12, VERDICT r11 next-1).

The rule under test (session.py): width = clamp(cores,
ceil(input_bytes / 64 MB), 4096), with SPARK_GRAFT_SHUFFLE_PARTITIONS
as the explicit override and a core-count floor for unknown dirs —
so the driver's sf0.01/sf0.1 sessions are untouched while sf10+
blowups get the width the probe previously had to hand-set.
"""

from __future__ import annotations

import os

import pytest

from cdc_from_sql_and_nosql_to_data_warehouse_spark import session as S


def _mk_data(tmp_path, name: str, nbytes: int) -> str:
    d = tmp_path / name
    d.mkdir()
    f = d / "lineitem.parquet"
    # sparse file: getsize reports the apparent size without disk cost
    with open(f, "wb") as fh:
        fh.truncate(nbytes)
    S._DIR_BYTES_CACHE.pop(str(d), None)
    return str(d)


@pytest.fixture(autouse=True)
def _no_env_override(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", raising=False)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "32")


def test_floor_is_cores_for_small_dirs(tmp_path):
    d = _mk_data(tmp_path, "sf_small", 5 << 20)  # 5 MB ≪ 64 MB target
    assert S.shuffle_width_for(d) == 32


def test_floor_is_cores_for_missing_dir():
    assert S.shuffle_width_for(None) == 32
    assert S.shuffle_width_for("/nonexistent/sfX") == 32


def test_scales_with_input_volume(tmp_path):
    # 18 GB ≈ the sf10 blowup → ceil(18*1024/64) = 288 partitions,
    # matching the probe's empirically good hand-set 256 (same decade)
    d = _mk_data(tmp_path, "sf_big", 18 << 30)
    assert S.shuffle_width_for(d) == 288  # 18 GiB / 64 MiB exactly


def test_cap_at_max_width(tmp_path):
    d = _mk_data(tmp_path, "sf_huge", 1 << 40)  # 1 TB → ceil = 16384
    assert S.shuffle_width_for(d) == S._MAX_SHUFFLE_WIDTH


def test_env_override_wins(tmp_path, monkeypatch):
    d = _mk_data(tmp_path, "sf_big2", 18 << 30)
    monkeypatch.setenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", "77")
    assert S.shuffle_width_for(d) == 77


def test_ceil_division(tmp_path):
    # one byte over an exact multiple rounds UP
    d = _mk_data(tmp_path, "sf_edge", (64 << 20) * 40 + 1)
    assert S.shuffle_width_for(d, cores=8) == 41


def test_size_shuffle_sets_both_confs(spark, tmp_path):
    d = _mk_data(tmp_path, "sf_conf", 18 << 30)
    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        w = S.size_shuffle(spark, d)
        assert spark.conf.get("spark.sql.shuffle.partitions") == str(w)
        assert (
            spark.conf.get(
                "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
            )
            == str(w)
        )
        assert w == 288
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
        spark.conf.unset(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
        )


def test_tune_noop_at_driver_scale(spark):
    # tune(spark, sf0.01) must leave the driver-scale width at the
    # session's core floor — the driver contract is unchanged
    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        S.tune(spark, "/root/testdata/sf0.01")
        assert int(spark.conf.get("spark.sql.shuffle.partitions")) == max(
            spark.sparkContext.defaultParallelism,
            S.shuffle_width_for(
                "/root/testdata/sf0.01",
                spark.sparkContext.defaultParallelism,
            ),
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
        spark.conf.unset(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
        )


def test_column_build_sends_few_py4j_commands(spark, monkeypatch):
    # PySpark 4's call-site capture (spark.python.sql.dataFrameDebugging
    # .enabled, default true) costs ~35 py4j commands for this
    # expression; the engine and test sessions turn it off (~5)
    from pyspark.sql import functions as F

    F.col("a").cast("int").alias("b")  # first use resolves JVM classes
    client = spark.sparkContext._gateway._gateway_client
    sent = []
    send = client.send_command
    monkeypatch.setattr(
        client, "send_command", lambda *a, **k: sent.append(1) or send(*a, **k)
    )
    F.col("a").cast("int").alias("b")
    assert len(sent) <= 8, len(sent)


def test_get_spark_turns_call_site_capture_off():
    # the conf is static: get_spark must set it before the session starts
    import inspect

    src = inspect.getsource(S.get_spark)
    assert '"spark.python.sql.dataFrameDebugging.enabled", "false"' in src
