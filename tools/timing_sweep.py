"""Full-registry timing sweep for the optimization round (guide §1).

Times EVERY registry query (or the named ones) at --sf-dir against the
noop sink: min of --runs back-to-back executions after bench.py's
warm-up (plans/measure.warm, whose codegen pass runs at --warmup-dir),
each run under job group ``sweep:<name>``.  Writes {name: sec} JSON, so
before/after deltas rest on the same protocol as bench.py.

This is the A/B instrument of the checkpoint rule
(functions/parallelism.py): run the parent, the change and an
identical-code control copy of the parent in alternating launches.

Usage:
    python tools/timing_sweep.py [--sf-dir /root/testdata/sf0.1]
                                 [--runs 2] [--out /tmp/sweep.json] [names...]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--out", default=None)
    ap.add_argument("--no-warmup", action="store_true")
    ap.add_argument("--warmup-dir", default="/root/testdata/sf0.001")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    from cdc_from_sql_and_nosql_to_data_warehouse_spark import operators as ops
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.plans.measure import timed_write, warm
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.session import get_spark, tune

    spark = get_spark("timing_sweep")
    spark.sparkContext.setLogLevel("ERROR")
    tune(spark, args.sf_dir)
    # same bench-host knobs as bench.py so numbers are comparable
    spark.conf.set("spark.sql.files.maxPartitionBytes", "8m")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "100000")

    names = args.names or list(ops.REGISTRY)
    # skip the codegen pass (rather than fail every query) when the
    # warmup dir is absent on this host — the target --sf-dir may
    # still be valid
    warm_dir = None if args.no_warmup or not os.path.isdir(args.warmup_dir) else args.warmup_dir
    warm(spark, args.sf_dir, names, warm_dir)

    timings: dict[str, float] = {}
    for i, name in enumerate(names):
        try:
            walls = [
                timed_write(spark, lambda: ops.REGISTRY[name].fn(spark, args.sf_dir), f"sweep:{name}")
                for _ in range(args.runs)
            ]
            timings[name] = round(min(walls), 3)
            print(f"[{i}] {name}: {timings[name]}s", flush=True)
        except Exception as e:
            timings[name] = -1.0
            print(f"[{i}] {name}: ERROR {type(e).__name__}: {str(e)[:150]}", flush=True)
        if args.out:  # flush per query so a crash keeps prior numbers
            with open(args.out, "w") as f:
                json.dump(timings, f, indent=0, sort_keys=True)
    total = sum(v for v in timings.values() if v > 0)
    print(f"\nTOTAL {len(timings)} queries, {total:.1f}s", flush=True)
    ranked = sorted((n for n in timings if timings[n] > 0), key=lambda n: -timings[n])
    print("== top 30 ==")
    for n in ranked[:30]:
        print(f"  {n}: {timings[n]}s")


if __name__ == "__main__":
    main()
