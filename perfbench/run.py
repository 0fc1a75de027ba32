"""The repository's benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root.  Each run makes a fresh work directory
under ``.perfbench_work/`` in the checkout, stages the seeded inputs
there (and the DuckDB oracle's rows for the query workloads), then
starts ``worker.py`` in a fresh process and Spark JVM with the
environment pinned: ``PYTHONPATH`` set to the repository root (pandas
UDF workers inherit it), ``SPARK_GRAFT_CPUS=3``, Spark's local and temp
directories inside the work directory, and the Spark log in a per-run
file.  The program's own shuffle-width rule is left unpinned.

It prints one line per metric, then, as the last line, the JSON result
the benchmark format asks for: end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``.  It exits non-zero when any
operation failed or returned a wrong result.  See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import pickle
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "cdc_from_sql_and_nosql_to_data_warehouse_spark"

QUERY_MIXES = {
    "warehouse_analytics": (
        "q_pricing_summary",
        "q_star_join",
        "q_group_agg",
        "q_join_inner",
        "q_topk",
        "q_window_running_sum",
        "q_market_share",
        "q_rollup",
        "q_min_cost_supplier",
        "q_upsert_latest_wins",
    ),
}
WORKLOADS = ("cdc_replication", *QUERY_MIXES)
SCALE = 0.01  # query workloads: TPC-H scale factor of the generated tables
CORES = 3  # local[3]: one of the host's four cores stays with the client and the OS
CHILD_TIMEOUT_S = 165


def _require_program() -> None:
    """Fail before any work when the checkout does not hold the program."""
    needed = [PACKAGE, "__spark_entry__.py", "bench.py", os.path.join("tests", "test_oracle_diff.py"),
              "BENCHMARK.json"]
    missing = [p for p in needed if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        sys.exit(f"perfbench: not a checkout of the program (missing: {', '.join(missing)})")


def write_oracle(workload: str, data: str, path: str) -> None:
    """Run every query's ``oracle_sql()`` in DuckDB over the staged tables
    and publish the canonical rows at ``path`` (atomically: the worker
    waits for the file)."""
    sys.path[:0] = [os.path.join(ROOT, "tests")]
    import duckdb

    import __spark_entry__
    from perfbench.gen import TABLES
    from test_oracle_diff import canon

    oracle = __spark_entry__.oracle_sql()
    expected = {}
    # one thread: this runs while the worker starts its session
    with duckdb.connect(config={"threads": 1}) as con:
        for table in TABLES:
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{data}/{table}.parquet'")
        for name in QUERY_MIXES[workload]:
            cur = con.execute(oracle[name])
            names = [d[0] for d in cur.description]
            order = sorted(range(len(names)), key=lambda i: names[i])
            rows = [tuple(canon(r[i]) for i in order) for r in cur.fetchall()]
            expected[name] = (sorted(names), rows)
    with open(path + ".tmp", "wb") as fh:
        pickle.dump(expected, fh)
    os.replace(path + ".tmp", path)


def _group_alive(pgid: int) -> bool:
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[2]) == pgid and fields[0] != "Z":
                return True
    return False


def _stop_group(pgid: int) -> None:
    """Kill whatever the worker left in its process group (the JVM, its
    Python workers) and wait until all of it has ended."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    deadline = time.monotonic() + 10
    while _group_alive(pgid) and time.monotonic() < deadline:
        time.sleep(0.05)


def run_worker(args, work: str, meanwhile) -> tuple[dict | None, str, float]:
    """Start the worker and call ``meanwhile()`` while it runs; returns
    (result or None, log path, spawn time)."""
    env = dict(os.environ)
    for pinned in ("SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_SHUFFLE_PARTITIONS", "PYSPARK_PIN_THREAD"):
        env.pop(pinned, None)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env.update(
        PYTHONPATH=ROOT,
        SPARK_GRAFT_CPUS=str(CORES),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    log = os.path.join(work, "spark.log")
    result = os.path.join(work, "result.json")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", work, "--result", result]
    if args.trace:
        out = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out, exist_ok=True)
        cmd += ["--spans", os.path.join(out, f"spans-{args.workload}-seed{args.seed}.json")]
    spawned = time.monotonic()
    with open(log, "w") as log_fh:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdin=subprocess.DEVNULL,
                                stdout=log_fh, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            meanwhile()
            proc.wait(timeout=CHILD_TIMEOUT_S - (time.monotonic() - spawned))
        except subprocess.TimeoutExpired:
            print(f"perfbench: worker exceeded {CHILD_TIMEOUT_S} s", file=sys.stderr)
        finally:
            _stop_group(proc.pid)
            proc.wait()
    if proc.returncode != 0 or not os.path.exists(result):
        with open(log, errors="replace") as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        return None, log, spawned
    with open(result) as fh:
        return json.load(fh), log, spawned


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    _require_program()
    # a terminated run still stops its worker and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path[:0] = [ROOT]
    from bench import _scan_log
    from perfbench.report import build_report

    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"{args.workload}-seed{args.seed}-pid{os.getpid()}")
    os.makedirs(work)
    try:
        staged_s = 0.0
        meanwhile = lambda: None  # noqa: E731
        if args.workload in QUERY_MIXES:
            from perfbench.gen import write_tables

            data = os.path.join(work, "data")
            t = time.monotonic()
            write_tables(args.seed, SCALE, data)
            staged_s = time.monotonic() - t
            meanwhile = lambda: write_oracle(  # noqa: E731
                args.workload, data, os.path.join(work, "expected.pkl")
            )
        result, log, spawned = run_worker(args, work, meanwhile)
        if result is None:
            return 1
        # the worker's wait for the oracle is not set-up either
        result["setup_s"] = staged_s + result["first_timed"] - spawned - result["oracle_wait_s"]
        result["log"] = _scan_log(log)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if os.path.isdir(work_root) and not os.listdir(work_root):
            os.rmdir(work_root)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    lines, line = build_report(spec, result, bool(args.trace))
    for text in lines:
        print(text)
    print(json.dumps(line))
    return 0 if line["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
