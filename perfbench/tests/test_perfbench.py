"""Self-tests of the benchmark (no Spark needed):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import math
import os
import re
import shutil
import subprocess
import sys

import duckdb
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen  # noqa: E402
from perfbench.report import build_report  # noqa: E402
from perfbench.stats import TAIL_BEYOND, summarize, tail_percentile  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


# ------------------------------------------------------------ tail rule


def test_tail_has_enough_beyond_and_is_highest():
    for n in range(1, 400):
        pct = tail_percentile(n)
        if n < 2 * TAIL_BEYOND + 3:
            assert pct is None, n
            continue
        rank = -(-pct * n // 100)  # nearest rank, ceil(pct/100 · n)
        assert n - rank >= TAIL_BEYOND, n
        if pct < 99:
            assert n - -(-(pct + 1) * n // 100) < TAIL_BEYOND, n
        assert rank > n / 2 + 1, n  # strictly above both middle samples


def test_tail_never_collapses_to_median():
    # one sample per run made tail == p50; now there is no tail at all
    assert summarize([("q", 1234.0)])["tail"] is None
    s = summarize([("q", float(x)) for x in range(1, 41)])
    assert (s["tail_pct"], s["tail"], s["beyond"]) == (87, 35.0, 5)
    assert s["tail"] > s["p50"] == 20.5


def test_mixed_kinds_combine_per_kind():
    # two kinds 10x apart: the plain median would sit in the gap between them
    samples = [("a", 10.0 * x) for x in range(1, 21)] + [("b", 100.0 * x) for x in range(1, 21)]
    s = summarize(samples)
    p50 = math.sqrt(105.0 * 1050.0)
    assert s["p50"] == pytest.approx(p50)
    assert (s["n"], s["kinds"], s["tail_pct"], s["beyond"]) == (40, 2, 87, 5)
    assert s["tail"] == pytest.approx(p50 * 18 / 10.5)


def test_three_samples_per_kind_keep_a_tail():
    # each kind's median is one of its samples (ratio exactly 1); the tail
    # must still come from the samples above the medians
    s = summarize([(k, v) for k in "abcdefghij" for v in (1.0, 2.0, 3.0)])
    assert (s["p50"], s["tail"], s["beyond"]) == (2.0, 3.0, 5)


# ------------------------------------------------------------ generators


def test_tables_repeat_for_a_seed():
    a = gen.make_tables(5, 0.001)
    b = gen.make_tables(5, 0.001)
    c = gen.make_tables(6, 0.001)
    assert set(a) == set(gen.TABLES)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])


def test_money_has_two_decimals():
    li = gen.make_tables(1, 0.001)["lineitem"].to_pydict()
    for col in ("l_extendedprice", "l_discount", "l_tax"):
        assert all(round(v, 2) == v for v in li[col])


def test_change_files_repeat_for_a_seed(tmp_path):
    paths = []
    for name in ("a", "b"):
        feed = gen.ChangeFeed(9, n_keys=50, events_per_tick=40)
        for i in range(3):
            feed.write_next(str(tmp_path / f"{name}{i}.json"))
        paths.append([(tmp_path / f"{name}{i}.json").read_bytes() for i in range(3)])
    assert paths[0] == paths[1]


def test_model_agrees_with_a_merge(tmp_path):
    """The feed's latest-wins model equals an independent merge of its
    files: per key the highest-seq event wins and a REMOVE deletes."""
    feed = gen.ChangeFeed(3, n_keys=40, events_per_tick=60, remove_share=0.2)
    for i in range(5):
        feed.write_next(str(tmp_path / f"c{i}.json"))
        got = duckdb.sql(
            f"""
            WITH ev AS (
              SELECT eventName, seq, coalesce(newImage.id, removedId) AS k,
                     newImage.shares AS shares
              FROM read_json('{tmp_path}/c*.json', format='newline_delimited',
                columns={{eventName: 'VARCHAR', seq: 'BIGINT', removedId: 'VARCHAR',
                          newImage: 'STRUCT(id VARCHAR, shares BIGINT)'}})
            ), latest AS (
              SELECT *, row_number() OVER (PARTITION BY k ORDER BY seq DESC) AS rn FROM ev
            )
            SELECT count(*), coalesce(sum(shares), 0)::BIGINT FROM latest
            WHERE rn = 1 AND eventName <> 'REMOVE'
            """
        ).fetchone()
        assert got == feed.expected()
    assert 0 < feed.expected()[0] < 40  # removes happened, keys came back


def test_full_load_fills_the_key_space():
    feed = gen.ChangeFeed(1, n_keys=100)
    events = feed.next_events()
    assert [e["eventName"] for e in events] == ["INSERT"] * 100
    assert feed.expected()[0] == 100


# ------------------------------------------------------------ tracing


def test_self_time_subtracts_children():
    t = Tracer()
    t.enabled = True
    t.op_id = 1
    with t.span("op"):
        with t.span("a.x"):
            pass
    spans = {s["name"]: s for s in t.spans}
    assert spans["a.x"]["parent"] == spans["op"]["id"]
    total = (spans["op"]["end"] - spans["op"]["start"]) * 1e3
    self_ms = t.self_ms()
    assert self_ms["op"] + self_ms["a.x"] == pytest.approx(total)
    assert t.op_durations(1, "a.") == pytest.approx(self_ms["a.x"])


def test_disabled_tracer_records_nothing():
    t = Tracer()
    with t.span("op"):
        pass
    assert t.spans == []


# ------------------------------------------------------------ output


def _result(**over):
    r = {
        "setup_s": 12.5, "samples_ms": [("q", float(x)) for x in range(100, 130)],
        "traced_samples_ms": [("q", float(x)) for x in range(101, 131)], "timed_units": 30,
        "window_s": 15.0, "peak_rss_mb": 2048.0, "python_rss_mb": 200.0, "jvm_rss_mb": 1848.0,
        "attempted": 40, "failed": 0, "errors": [], "warmup_ms": [900.0],
        "session_start_s": 5.0, "oracle_wait_s": 0.0, "warmup_s": 7.0, "log": {"count": 0, "classes": {}},
        "self_ms": {"operators.build": 300.0, "spark.exec": 600.0}, "traced_ops": 30,
        "layers": {"trace.op_wall_ms": 100.0, "operators.build_ms": 10.0, "spark.exec.ms": 89.0},
    }
    r.update(over)
    return r


@pytest.mark.parametrize("trace,key", [(False, "end_to_end"), (True, "per_layer")])
def test_printed_metrics_match_the_spec(trace, key):
    lines, line = build_report(SPEC, _result(), trace)
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["correct"] is True
    assert [m["name"] for m in SPEC[key]] == list(line["metrics"])
    for m in SPEC[key]:
        got = line["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
        assert f"{m['name']} = " in "\n".join(lines)
    json.dumps(line)


def test_tail_sample_count_is_printed():
    lines, _ = build_report(SPEC, _result(), False)
    assert "latency_ms_tail is p83 with 5 samples beyond it" in lines


def test_failure_or_missing_tail_is_not_correct():
    assert build_report(SPEC, _result(failed=1), False)[1]["correct"] is False
    assert build_report(SPEC, _result(samples_ms=[("q", 5.0)] * 12), False)[1]["correct"] is False


def test_spec_shape():
    assert SPEC["command"] == ["python3", "perfbench/run.py"]
    assert SPEC["paths"] == ["perfbench"]
    names = [m["name"] for k in ("end_to_end", "per_layer") for m in SPEC[k]]
    names += [w["name"] for w in SPEC["workloads"]]
    assert len(names) == len(set(names))
    assert all(re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n) for n in names)
    units = [m["unit"] for k in ("end_to_end", "per_layer") for m in SPEC[k]]
    assert all(re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", u) for u in units)
    bounds = {m["name"]: m["bound"] for m in SPEC["end_to_end"]}
    assert max(bounds.values()) <= 0.25
    assert bounds["setup_s"] == max(bounds.values())
    from perfbench.run import WORKLOADS

    assert [w["name"] for w in SPEC["workloads"]] == list(WORKLOADS)


def test_refuses_a_directory_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "cdc_replication", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout == ""
