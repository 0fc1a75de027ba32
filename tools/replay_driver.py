"""Replay the driver's CORRECTNESS comparison at an arbitrary SF.

The committed test suite (tests/test_oracle_diff.py) proves exact
row-multiset equality at sf0.001 for EVERY oracle-bearing query; the
driver's own gate runs at sf0.01 over the FIRST 50 registry entries.
Scale-dependent divergence (quantile cut points, md5 thresholds,
sampling fractions) would pass the former and fail the latter, so this
script replays the driver's exact protocol — row count, sorted-column
schema, order-insensitive row-multiset equality (what the driver's value
hash checks) — at any SF before a round ends.  Cells are canonicalized
by tests/test_oracle_diff.py's ``canon``, the same rule as the test suite.

Usage:
    python tools/replay_driver.py [--sf /root/testdata/sf0.01] [--n 50]
                                  [--all-unchecked] [names...]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]

import duckdb  # noqa: E402

from cdc_from_sql_and_nosql_to_data_warehouse_spark import operators as ops  # noqa: E402
from cdc_from_sql_and_nosql_to_data_warehouse_spark.session import get_spark  # noqa: E402
from conftest import TABLES  # noqa: E402
from test_oracle_diff import cursor_rows, spark_rows  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--n", type=int, default=50)
    ap.add_argument("--all-unchecked", action="store_true",
                    help="replay every oracle query whose newest driver row "
                    "is not green (failed or never checked), not just the window")
    ap.add_argument("--oracle-timeout", type=float, default=None,
                    help="seconds before the DuckDB oracle is interrupted; "
                    "the query records ORACLE-TIMEOUT (Spark rows noted) "
                    "instead of hanging a large-SF sweep on an oracle "
                    "whose textbook form is deliberately quadratic")
    ap.add_argument("--sampled-oracle", action="store_true",
                    help="run the SAMPLED protocol (VERDICT r10 next-2) "
                    "for the given names (default: every query with a "
                    "registered SampledOracle): the engine's full output "
                    "restricted to the deterministic md5 key slice is "
                    "hash-compared against the exact DuckDB truth computed "
                    "over the slice — a bounded value check where the "
                    "textbook all-pairs oracle is infeasible")
    ap.add_argument("--json-out", default=None,
                    help="write per-query verdict records to this JSON file "
                    "(r12: lets sweep tools merge value verdicts into probe "
                    "artifacts without scraping stdout)")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    # Spark's Python workers (pandas UDFs) import the package too; they
    # inherit the environment, not this process's sys.path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    spark = get_spark("replay")
    spark.sparkContext.setLogLevel("ERROR")
    # at blowup SFs the tables are a handful of ~64 MB part-files; the
    # default 128 MB split gives one task per file and a single skewed
    # task drags a heavy query for minutes (bench.py and scale_slope
    # split at 8 MB for the same reason)
    spark.conf.set(
        "spark.sql.files.maxPartitionBytes",
        os.environ.get("SPARK_GRAFT_MAXPART", "8m"),
    )
    # data-aware shuffle width for off-default SFs (r12: engine rule,
    # floors to cores at driver scale)
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.session import size_shuffle

    size_shuffle(spark, args.sf)
    con = duckdb.connect()
    # large-SF sweeps bound the oracle's parallelism/spill so a
    # quadratic textbook oracle can't monopolize the host (r12; unset =
    # DuckDB defaults, the driver-scale behavior)
    if os.environ.get("SPARK_GRAFT_DUCKDB_THREADS"):
        con.execute(
            f"SET threads={int(os.environ['SPARK_GRAFT_DUCKDB_THREADS'])}"
        )
    if os.environ.get("SPARK_GRAFT_DUCKDB_TEMP"):
        os.makedirs(os.environ["SPARK_GRAFT_DUCKDB_TEMP"], exist_ok=True)
        con.execute(
            f"SET temp_directory='{os.environ['SPARK_GRAFT_DUCKDB_TEMP']}'"
        )
    # Spark-WRITTEN parquet (the sf1 blowup) marks timestamps
    # isAdjustedToUTC=true, which DuckDB reads as TIMESTAMPTZ — its
    # isoformat then carries "+00:00" while Spark's session-zone
    # collect is naive, so every timestamp-outputting query would
    # hash-mismatch on the suffix alone.  Normalize at the view: cast
    # any TIMESTAMPTZ column to naive TIMESTAMP under a UTC session
    # zone (value-preserving; a no-op on the driver-generated NTZ
    # testdata).
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        src = f"{args.sf}/{t}.parquet"
        if os.path.isdir(src):  # Spark-written table = a part-file dir
            src = f"{src}/*.parquet"
        cols = con.execute(f"DESCRIBE SELECT * FROM '{src}'").fetchall()
        sel = ", ".join(
            f'CAST("{c}" AS TIMESTAMP) AS "{c}"'
            if typ == "TIMESTAMP WITH TIME ZONE"
            else f'"{c}"'
            for c, typ, *_ in cols
        )
        con.execute(f"CREATE VIEW {t} AS SELECT {sel} FROM '{src}'")

    recs: dict[str, dict] = {}

    def _flush_recs() -> None:
        if args.json_out:
            with open(args.json_out, "w") as fh:
                json.dump(recs, fh, indent=1, sort_keys=True)

    if args.sampled_oracle:
        names = args.names or sorted(ops.SAMPLED_ORACLES)
        bad = []
        for name in names:
            samp = ops.SAMPLED_ORACLES.get(name)
            if samp is None:
                bad.append(name)
                recs[name] = {"status": "ERR",
                              "error": "no SampledOracle registered"}
                print(f"{name:36s} ERR  no SampledOracle registered")
                continue
            t0 = time.perf_counter()
            try:
                cols, srows = spark_rows(
                    samp.restrict(ops.REGISTRY[name].fn(spark, args.sf))
                )
                ocols, orows = cursor_rows(con.execute(samp.oracle))
                ok = (len(srows) == len(orows)
                      and cols == ocols
                      and sorted(srows) == sorted(orows))
                status = "OK-SAMPLED" if ok else "FAIL-SAMPLED"
                if not ok:
                    bad.append(name)
                recs[name] = {"status": status, "rows": len(srows),
                              "oracle_rows": len(orows),
                              "wall_sec": round(time.perf_counter() - t0, 2)}
                print(f"{name:36s} {status} rows={len(srows)}/{len(orows)} "
                      f"{time.perf_counter()-t0:5.1f}s")
            except Exception as e:  # noqa: BLE001 - report and continue
                bad.append(name)
                recs[name] = {"status": "ERR",
                              "error": f"{type(e).__name__}: {e}"[:300]}
                print(f"{name:36s} ERR  {type(e).__name__}: {e}")
            _flush_recs()  # per-query: a crash mid-sweep keeps prior rows
        _flush_recs()
        print(json.dumps({"checked": len(names), "failed": bad,
                          "protocol": "sampled"}))
        sys.exit(1 if bad else 0)

    if args.names:
        names = args.names
    elif args.all_unchecked:
        names = [n for n, s in ops.REGISTRY.items()
                 if s.oracle and not ops._VERDICTS.get(n, (0, False))[1]]
    else:
        names = list(ops.REGISTRY)[: args.n]

    bad = []
    for name in names:
        spec = ops.REGISTRY[name]
        t0 = time.perf_counter()
        try:
            cols, srows = spark_rows(spec.fn(spark, args.sf))
            if not spec.oracle:
                recs[name] = {"status": "rows-only", "rows": len(srows),
                              "wall_sec": round(time.perf_counter() - t0, 2)}
                print(f"{name:36s} rows-only  spark={len(srows)}  "
                      f"{time.perf_counter()-t0:5.1f}s")
                continue
            if args.oracle_timeout:
                import threading

                # Fire/cancel race guard (ADVICE r10): the timer can call
                # con.interrupt() in the window between con.execute()
                # returning and timer.cancel(), leaving a PENDING interrupt
                # that makes the NEXT query raise InterruptException
                # instantly.  So: only record a timeout when this query's
                # own elapsed wall actually reached the budget; a
                # sub-budget InterruptException is the previous timer's
                # stray interrupt — drain it by re-running once.
                cur = None
                for attempt in (0, 1):
                    o0 = time.perf_counter()
                    timer = threading.Timer(args.oracle_timeout, con.interrupt)
                    timer.start()
                    try:
                        cur = con.execute(spec.oracle)
                        break
                    except duckdb.InterruptException:
                        elapsed = time.perf_counter() - o0
                        if elapsed >= args.oracle_timeout - 0.05 or attempt:
                            cur = None
                            break
                    finally:
                        timer.cancel()
                if cur is None:
                    recs[name] = {"status": "ORACLE-TIMEOUT",
                                  "rows": len(srows),
                                  "timeout_sec": args.oracle_timeout}
                    print(
                        f"{name:36s} ORACLE-TIMEOUT spark_rows={len(srows)} "
                        f"(oracle > {args.oracle_timeout:.0f}s at this SF)"
                    )
                    continue
            else:
                cur = con.execute(spec.oracle)
            ocols, orows = cursor_rows(cur)
            ok_rows = len(srows) == len(orows)
            ok_schema = cols == ocols
            ok_hash = sorted(srows) == sorted(orows)
            status = "OK " if (ok_rows and ok_schema and ok_hash) else "FAIL"
            if status == "FAIL":
                bad.append(name)
            recs[name] = {"status": status.strip(), "rows": len(srows),
                          "oracle_rows": len(orows), "schema": ok_schema,
                          "hash": ok_hash,
                          "wall_sec": round(time.perf_counter() - t0, 2)}
            print(f"{name:36s} {status} rows={len(srows)}/{len(orows)} "
                  f"schema={ok_schema} hash={ok_hash}  {time.perf_counter()-t0:5.1f}s")
        except Exception as e:  # noqa: BLE001 - report and continue
            bad.append(name)
            recs[name] = {"status": "ERR",
                          "error": f"{type(e).__name__}: {e}"[:300]}
            print(f"{name:36s} ERR  {type(e).__name__}: {e}")
        _flush_recs()  # per-query: a crash mid-sweep keeps prior rows
    _flush_recs()
    print(json.dumps({"checked": len(names), "failed": bad}))
    if bad:
        sys.exit(1)


if __name__ == "__main__":
    main()
