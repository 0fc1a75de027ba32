"""The measured-run primitive (plans/measure.py) and the rule that the
bench and the tools use it.

``bench.py`` and every script in ``tools/`` take their session from
``session.get_spark`` and read stage statistics from the application
status store through ``stage_stats``; none builds its own session or
scrapes the Spark UI's REST API.
"""

from __future__ import annotations

import pathlib
import re

from cdc_from_sql_and_nosql_to_data_warehouse_spark import operators as ops
from cdc_from_sql_and_nosql_to_data_warehouse_spark.plans.measure import stage_stats, timed_write

from conftest import SF_DIR

ROOT = pathlib.Path(__file__).resolve().parents[1]
FORBIDDEN = re.compile(r"SparkSession\.builder|uiWebUrl|/api/v1")


def _offenders(root: pathlib.Path) -> list[str]:
    """``file:line`` of every forbidden pattern in ``bench.py`` and
    ``tools/*.py`` under ``root``."""
    files = [root / "bench.py", *sorted((root / "tools").glob("*.py"))]
    return [
        f"{path.relative_to(root)}:{i}"
        for path in files
        if path.exists()
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if FORBIDDEN.search(line)
    ]


def test_bench_and_tools_use_get_spark_and_the_status_store():
    assert (ROOT / "bench.py").exists() and list((ROOT / "tools").glob("*.py"))
    assert _offenders(ROOT) == []


def test_rule_catches_each_pattern(tmp_path):
    (tmp_path / "tools").mkdir()
    (tmp_path / "bench.py").write_text("s = SparkSession.builder.getOrCreate()\n")
    (tmp_path / "tools" / "a.py").write_text("ok = 1\nurl = sc.uiWebUrl\n")
    (tmp_path / "tools" / "b.py").write_text("path = '/api/v1/applications'\n")
    assert _offenders(tmp_path) == ["bench.py:1", "tools/a.py:2", "tools/b.py:1"]


def test_stage_stats_reads_the_groups_jobs_from_the_status_store(spark):
    group = "measure-record-test"
    wall = timed_write(spark, lambda: ops.REGISTRY["q_pricing_summary"].fn(spark, SF_DIR), group)
    stats = stage_stats(spark, group)
    assert wall > 0
    assert stats["jobs"] == sorted(spark.sparkContext.statusTracker().getJobIdsForGroup(group))
    assert stats["jobs"] and stats["stages"] >= 1 and stats["tasks"] >= stats["stages"]
    assert stats["task_run_ms"] > 0
    assert {s["stage"] for s in stats["per_stage"]} <= {
        sid
        for jid in stats["jobs"]
        for sid in spark.sparkContext.statusTracker().getJobInfo(jid).stageIds
    }
    # the group is cleared: later jobs on this thread are not counted
    spark.range(10).count()
    assert stage_stats(spark, group)["jobs"] == stats["jobs"]
