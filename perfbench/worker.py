"""One benchmark run: one workload, closed loop, one client, in a fresh
Spark JVM.

``run.py`` starts this process after staging the inputs and, for the
query workloads, the DuckDB oracle's rows; it also sets the environment
and sends this process's stderr (the Spark log) to a per-run file.  The
measurements go to ``--result`` as JSON.

Only warm operations are timed.  Warm-up runs first and belongs to
set-up.  The timed window then runs whole passes until both
``--seconds`` have passed and enough operations are timed for the tail
percentile to have ``TAIL_BEYOND`` samples beyond it.

With ``--trace 1`` the timed passes alternate between untraced and
traced, so the tracing overhead is measured inside one run; the traced
passes record spans and read Spark's accounting after each operation.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import pickle
import random
import statistics
import sys
import time
from collections import Counter, defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]

from pyspark.sql import functions as F  # noqa: E402

import __spark_entry__  # noqa: E402
from cdc_from_sql_and_nosql_to_data_warehouse_spark import plans  # noqa: E402
from cdc_from_sql_and_nosql_to_data_warehouse_spark.session import get_spark  # noqa: E402
from cdc_from_sql_and_nosql_to_data_warehouse_spark.sources import versioned  # noqa: E402
from cdc_from_sql_and_nosql_to_data_warehouse_spark.streaming import cdc  # noqa: E402
from perfbench.gen import ChangeFeed  # noqa: E402
from perfbench.run import QUERY_MIXES  # noqa: E402
from perfbench.stats import TAIL_BEYOND  # noqa: E402
from perfbench.trace import SparkAccounting, Tracer  # noqa: E402
from test_oracle_diff import spark_rows  # noqa: E402

# The timed window runs until it holds MIN_SAMPLES samples and
# MIN_PER_KIND of each query: enough for a tail with TAIL_BEYOND samples
# beyond it that lies above every kind's median (see stats.py).
MIN_SAMPLES = 2 * TAIL_BEYOND + 3
MIN_PER_KIND = 3
CDC_WARMUP_TICKS = 3
ORACLE_WAIT_S = 120
UDF_PROFILER = "spark.sql.pyspark.udf.profiler"
# wrapped public function -> metric stem
VERSIONED_CALLS = {
    "link_tree": "link",
    "flip_pointer": "flip",
    "vacuum": "vacuum",
    "current_version": "current_version",
}
STREAM_PHASES = ("latestOffset", "addBatch", "walCommit", "commitOffsets")


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _child_pids(pid: int) -> list[int]:
    out = []
    for tid in os.listdir(f"/proc/{pid}/task"):
        with open(f"/proc/{pid}/task/{tid}/children") as fh:
            out.extend(int(p) for p in fh.read().split())
    return out


def peak_rss_mb() -> tuple[float, float]:
    """Peak RSS of this process and of the Spark JVM it launched."""
    jvm_kb = 0
    for pid in _child_pids(os.getpid()):
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            if b"java" in fh.read():
                jvm_kb += _vm_hwm_kb(pid)
    return _vm_hwm_kb(os.getpid()) / 1024, jvm_kb / 1024


class Client:
    """The closed-loop client: runs operations, checks their results,
    and keeps samples and per-layer values."""

    def __init__(self, spark, seconds: float, trace: bool) -> None:
        self.spark = spark
        self.seconds = seconds
        self.trace = trace
        self.tracer = Tracer()
        self.acct = SparkAccounting(spark) if trace else None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.samples: dict[bool, list[tuple[str, float]]] = {False: [], True: []}
        self.layers: dict[str, list[float]] = defaultdict(list)
        self.warmup_ms: list[float] = []
        self.timed_units = 0
        self.ops = 0

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(what)

    def window(self, workload) -> tuple[float, float]:
        """Run ``workload.one_pass(traced)`` until ``seconds`` have passed
        and enough samples of each of its kinds are timed; returns
        (start, end) monotonic.  A traced run orders its passes
        untraced, traced, traced, untraced, … and runs at least four, so
        that the JVM's warming trend falls on both sides of the overhead
        estimate alike."""
        need = max(MIN_SAMPLES, MIN_PER_KIND * workload.kinds)
        start = time.monotonic()
        passes = 0
        while True:
            workload.one_pass(self.trace and passes % 4 in (1, 2))
            passes += 1
            timed = len(self.samples[False]) + len(self.samples[True])
            if (
                time.monotonic() - start >= self.seconds
                and timed >= need
                and (passes >= 4 or not self.trace)
            ):
                return start, time.monotonic()

    def record(self, **values: float) -> None:
        for k, v in values.items():
            self.layers[k].append(v)


# ----------------------------------------------------------- queries


class QueryWorkload:
    def __init__(self, client: Client, names, data_dir: str, expected: dict, seed: int):
        self.c = client
        self.names = list(names)
        self.data_dir = data_dir
        self.expected = expected
        self.rng = random.Random(seed)
        self.fns = __spark_entry__.queries()
        self.kinds = len(self.names)
        self.last_order: list[str] = []

    def check(self, name: str) -> None:
        """Run ``name`` once more, collect it and compare its row multiset
        with the oracle's."""
        c = self.c
        c.attempted += 1
        try:
            cols, rows = spark_rows(self.fns[name](c.spark, self.data_dir))
        except Exception as e:  # noqa: BLE001 — counted against error_rate
            c.fail(f"{name}: {type(e).__name__}: {str(e)[:200]}")
            return
        want_cols, want_rows = self.expected[name]
        if cols != want_cols or Counter(rows) != Counter(want_rows):
            c.fail(f"{name}: result differs from the oracle ({len(rows)} vs {len(want_rows)} rows)")

    def op(self, name: str, traced: bool) -> None:
        c = self.c
        c.attempted += 1
        c.ops += 1
        c.tracer.enabled = traced
        c.tracer.op_id = c.ops
        acct = c.acct if traced else None
        if acct:
            c.spark.conf.set(UDF_PROFILER, "perf")
        try:
            with c.tracer.span("op"):
                t0 = time.monotonic()
                if acct:
                    acct.label(f"b{c.ops}")
                with c.tracer.span("operators.build"):
                    df = self.fns[name](c.spark, self.data_dir)
                t1 = time.monotonic()
                if acct:
                    acct.label(f"e{c.ops}")
                with c.tracer.span("spark.exec"):
                    df.write.format("noop").mode("overwrite").save()
                t2 = time.monotonic()
        except Exception as e:  # noqa: BLE001 — counted against error_rate
            c.fail(f"{name}: {type(e).__name__}: {str(e)[:200]}")
            return
        finally:
            c.tracer.enabled = False
            if acct:
                acct.label(None)
                c.spark.conf.unset(UDF_PROFILER)
        c.samples[traced].append((name, (t2 - t0) * 1e3))
        c.timed_units += 1
        if acct:
            self.account(df, t0, t1, t2)
        gc.collect()  # drop py4j refs so the ContextCleaner can run

    def account(self, df, t0: float, t1: float, t2: float) -> None:
        c, acct = self.c, self.c.acct
        build_jobs = acct.group_jobs(f"b{c.ops}")
        exec_ms = (t2 - t1) * 1e3
        ex = acct.job_stats(acct.group_jobs(f"e{c.ops}"), exec_ms)
        phases = acct.catalyst_phases(df)
        c.record(
            **{
                "trace.op_wall_ms": (t2 - t0) * 1e3,
                "operators.build_ms": (t1 - t0) * 1e3,
                "operators.build_jobs": len(build_jobs),
                "operators.checkpoints": sum(
                    1 for s in c.tracer.spans
                    if s["op"] == c.ops and s["name"] == "operators.checkpoint"
                ),
                "spark.catalyst.analysis_ms": phases["analysis"],
                "spark.catalyst.optimization_ms": phases["optimization"],
                "spark.catalyst.planning_ms": phases["planning"],
                "plans.broadcast_join": int(plans.has_broadcast_join(df)),
                "spark.exec.ms": exec_ms,
                "spark.python.udf_ms": acct.udf_ms(),
                **{f"spark.exec.{k}": v for k, v in ex.items()},
            }
        )

    def one_pass(self, traced: bool) -> None:
        order = self.names[:]
        self.rng.shuffle(order)
        self.last_order = order
        for name in order:
            self.op(name, traced)

    def warm_up(self) -> None:
        """One pass that collects every query and checks it."""
        t = time.monotonic()
        order = self.names[:]
        self.rng.shuffle(order)
        for name in order:
            self.check(name)
        self.c.warmup_ms.append((time.monotonic() - t) * 1e3)

    def final_check(self) -> None:
        for name in self.last_order:
            self.check(name)


# --------------------------------------------------------------- CDC


class CdcWorkload:
    """Scheduled-tick CDC into the keyed (merge-mode) warehouse table."""

    def __init__(self, client: Client, work: str, seed: int) -> None:
        self.c = client
        self.kinds = 1
        self.feed = ChangeFeed(seed)
        self.staging = os.path.join(work, "staging")
        self.drop = os.path.join(work, "drop")
        self.table = os.path.join(work, "table")
        self.ckpt = os.path.join(work, "checkpoint")
        for d in (self.staging, self.drop):
            os.makedirs(d, exist_ok=True)

    def tick(self, timed: bool, traced: bool = False) -> None:
        c = self.c
        name = f"changes-{self.feed.ticks:06d}.json"
        staged = os.path.join(self.staging, name)
        n_events, n_bytes = self.feed.write_next(staged)
        want = self.feed.expected()
        c.attempted += 1
        c.ops += 1
        c.tracer.enabled = traced
        c.tracer.op_id = c.ops
        acct = c.acct if traced else None
        try:
            if acct:
                j0 = acct.last_job_id()
            with c.tracer.span("op"):
                t0 = time.monotonic()
                os.rename(staged, os.path.join(self.drop, name))
                with c.tracer.span("streaming.tick"):
                    with c.tracer.span("streaming.start"):
                        stream = cdc.read_change_stream(c.spark, self.drop, max_files_per_trigger=1)
                        query = cdc.start_merge_stream(stream, self.table, self.ckpt)
                    with c.tracer.span("streaming.await"):
                        query.awaitTermination()
                t1 = time.monotonic()
                if acct:
                    acct.label(f"r{c.ops}")
                with c.tracer.span("streaming.read"):
                    got = (
                        cdc.read_merge_table(c.spark, self.table)
                        .agg(F.count(F.lit(1)).alias("n"), F.sum("shares").alias("shares"))
                        .collect()[0]
                    )
                t2 = time.monotonic()
        except Exception as e:  # noqa: BLE001 — counted against error_rate
            c.fail(f"tick {self.feed.ticks - 1}: {type(e).__name__}: {str(e)[:200]}")
            return
        finally:
            c.tracer.enabled = False
            if acct:
                acct.label(None)
        if (got["n"], got["shares"] or 0) != want:
            c.fail(f"tick {self.feed.ticks - 1}: read {(got['n'], got['shares'])}, model {want}")
            return
        if timed:
            c.samples[traced].append(("tick", (t2 - t0) * 1e3))
            c.timed_units += n_events
        else:
            c.warmup_ms.append((t2 - t0) * 1e3)
        if acct:
            self.account(query, j0, t0, t1, t2, n_bytes)

    def account(self, query, j0: int, t0: float, t1: float, t2: float, n_bytes: int) -> None:
        c, acct = self.c, self.c.acct
        read_jobs = acct.group_jobs(f"r{c.ops}")
        tick_jobs = set(range(j0 + 1, acct.last_job_id() + 1)) - read_jobs
        tick_ms = (t1 - t0) * 1e3
        stream = acct.job_stats(tick_jobs, tick_ms)
        durations: Counter = Counter()
        for p in query.recentProgress:
            durations.update(p.durationMs)
        version = versioned.current_version(self.table)
        new = _files(os.path.join(self.table, f"_v{version}"))
        old_inodes = {ino for ino, _ in _files(os.path.join(self.table, f"_v{version - 1}")).values()}
        rewritten = sum(size for ino, size in new.values() if ino not in old_inodes)
        values = {
            "trace.op_wall_ms": (t2 - t0) * 1e3,
            "streaming.tick_ms": tick_ms,
            "streaming.start_ms": tick_ms - durations["triggerExecution"],
            "streaming.jobs_per_tick": stream["jobs"],
            "streaming.task_run_ms_per_tick": stream["task_run_ms"],
            "streaming.read_ms": (t2 - t1) * 1e3,
            "streaming.table_files": sum(1 for p in new if p.endswith(".parquet")),
            "sources.versioned.bytes_rewritten_per_tick": rewritten,
            "sources.versioned.write_amp": rewritten / n_bytes,
            "spark.stream.other_ms": durations["triggerExecution"]
            - sum(durations[k] for k in STREAM_PHASES),
        }
        for k in STREAM_PHASES:
            values[f"spark.stream.{k}_ms"] = durations[k]
        for call, stem in VERSIONED_CALLS.items():
            values[f"sources.versioned.{stem}_ms"] = c.tracer.op_durations(
                c.ops, f"sources.versioned.{call}"
            )
        c.record(**values)

    def warm_up(self) -> None:
        """The full load, which fills the key space, then a few ticks."""
        for _ in range(1 + CDC_WARMUP_TICKS):
            self.tick(timed=False)

    def one_pass(self, traced: bool) -> None:
        self.tick(timed=True, traced=traced)


def _files(root: str) -> dict[str, tuple[int, int]]:
    """relative path -> (inode, bytes) of the data files under ``root``."""
    out = {}
    for dirpath, _, names in os.walk(root):
        for n in names:
            if n.startswith(".") or n.startswith("_"):
                continue
            st = os.stat(os.path.join(dirpath, n))
            out[os.path.relpath(os.path.join(dirpath, n), root)] = (st.st_ino, st.st_size)
    return out


# -------------------------------------------------------------- main


def install_wrappers(tracer: Tracer, spark) -> None:
    """Spans around the program's public layer calls (traced run only)."""
    for call in VERSIONED_CALLS:
        tracer.wrap(versioned, call, f"sources.versioned.{call}")
    df_class = type(spark.range(1))
    tracer.wrap(df_class, "localCheckpoint", "operators.checkpoint")
    tracer.wrap(df_class, "checkpoint", "operators.checkpoint")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--spans", default=None)
    args = ap.parse_args(argv)
    trace = bool(args.trace)

    t = time.monotonic()
    spark = get_spark("perfbench")
    session_start_s = time.monotonic() - t
    spark.sparkContext.setLogLevel("WARN")
    client = Client(spark, args.seconds, trace)
    if trace:
        install_wrappers(client.tracer, spark)

    oracle_wait_s = 0.0
    if args.workload in QUERY_MIXES:
        expected_path = os.path.join(args.work, "expected.pkl")
        t = time.monotonic()
        while not os.path.exists(expected_path):
            if time.monotonic() - t > ORACLE_WAIT_S:
                raise TimeoutError("the DuckDB oracle's rows never arrived")
            time.sleep(0.02)
        oracle_wait_s = time.monotonic() - t
        with open(expected_path, "rb") as fh:
            expected = pickle.load(fh)
        wl = QueryWorkload(
            client, QUERY_MIXES[args.workload], os.path.join(args.work, "data"), expected, args.seed
        )
    else:
        wl = CdcWorkload(client, args.work, args.seed)

    t = time.monotonic()
    wl.warm_up()
    warmup_s = time.monotonic() - t
    start, end = client.window(wl)
    if isinstance(wl, QueryWorkload):
        wl.final_check()
    python_mb, jvm_mb = peak_rss_mb()
    if args.spans:
        client.tracer.dump(args.spans)
    spark.stop()

    result = {
        "first_timed": start,
        "window_s": end - start,
        "samples_ms": client.samples[False],
        "traced_samples_ms": client.samples[True],
        "timed_units": client.timed_units,
        "attempted": client.attempted,
        "failed": client.failed,
        "errors": client.errors,
        "peak_rss_mb": python_mb + jvm_mb,
        "python_rss_mb": python_mb,
        "jvm_rss_mb": jvm_mb,
        "session_start_s": session_start_s,
        "oracle_wait_s": oracle_wait_s,
        "warmup_s": warmup_s,
        "warmup_ms": client.warmup_ms,
        "layers": {k: statistics.fmean(v) for k, v in client.layers.items()},
        "self_ms": client.tracer.self_ms(),
        "traced_ops": len(client.samples[True]),
    }
    with open(args.result, "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
