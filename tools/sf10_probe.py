"""sf10 probe (VERDICT r10 next-3): the second decade up.

Runs the 10 most expensive DATA-SCALED headliners against the
100×-of-sf0.1 blowup (~60M-row lineitem / ~500k docs; the first run
builds it with tools/scale_slope.build_blowup under
SPARK_GRAFT_REPLICAS=100) and records, per query: the wall of one timed run after bench.py's warm-up
(plans/measure.warm, codegen pass at sf0.001), the worst in-stage task
skew under scale_slope's floors, and the SPILL POSTURE — memory/disk
bytes spilled, shuffle-write and input volume summed over the query's
completed stages (plans/measure.stage_stats) — the "does this fit or
thrash" answer the wall alone can't give.

Usage:
    SPARK_GRAFT_SCALE_DIR=/tmp/spark_graft_scale100x \
    SPARK_GRAFT_REPLICAS=100 SPARK_GRAFT_DRIVER_MEM=16g \
    python tools/sf10_probe.py [query ...]

Writes SF10_PROBE.json at the repo root (and prints one JSON line).
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools import scale_slope as S
from cdc_from_sql_and_nosql_to_data_warehouse_spark import operators as ops
from cdc_from_sql_and_nosql_to_data_warehouse_spark.plans.measure import (
    stage_stats,
    timed_write,
    warm,
)
from cdc_from_sql_and_nosql_to_data_warehouse_spark.session import get_spark, size_shuffle

# the judge-named data-scaled top ten, CHEAPEST FIRST so a
# wall-budget cut still leaves most of the decade table (the two
# AllPairs queries carry superlinear candidate volume by problem
# statement and run last)
QUERIES = [
    "q_negative_sampling",
    "q_kmeans_assign",
    "q_bm25_search",
    "q_dedup_minhash_md5",
    "q_dedup_segments",
    "q_item_cf",
    "q_sim_pq_search",
    "q_er_resolve",
    "q_dedup_containment",
    "q_setsim_join",
]


def main() -> None:
    names = sys.argv[1:] or QUERIES
    sf_dir = S.BLOWUP_DIR
    spark = get_spark("sf10_probe")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "8m")
    S.build_blowup(spark)  # no-op once the blowup's _BLOWUP_OK marker exists
    # Shuffle width must SCALE WITH DATA (this probe's r11 finding:
    # core-count width gave ~220 s-median reduce tasks here).  r12
    # moved the sizing INTO the engine — session.size_shuffle derives
    # width from input volume (bytes/64MB, floor=cores, cap 4096;
    # SPARK_GRAFT_SHUFFLE_PARTITIONS still overrides) — so the probe
    # exercises the same path any engine caller gets.
    width = size_shuffle(spark, sf_dir)
    print(f"shuffle width (engine-sized): {width}", flush=True)
    warm(spark, sf_dir, names, "/root/testdata/sf0.001")

    # MERGE into the existing artifact (r12): a partial probe run (one
    # or two named queries) must refresh only its own rows, never wipe
    # the other 20 queries' recorded walls
    out_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "SF10_PROBE.json",
    )
    rec: dict = {"queries": {}}
    if os.path.exists(out_path):
        try:
            with open(out_path) as f:
                rec = json.load(f)
        except ValueError:
            pass
    rec.update({
        "sf_dir": sf_dir,
        "scale": "sf10 (100x of sf0.1; ~60M-row lineitem, ~500k docs)",
    })
    rec.setdefault("notes", {})["shuffle_width"] = (
        f"engine-sized via session.size_shuffle = {width} "
        "(see SCALE.md round 12 for the sizing rule; no probe-side "
        "override)"
    )
    rec.setdefault("queries", {})
    for name in names:
        wall = timed_write(spark, lambda: ops.REGISTRY[name].fn(spark, sf_dir), name)
        stats = stage_stats(spark, name)
        spill = {
            k: round(stats[k], 1)
            for k in ("mem_spill_mb", "disk_spill_mb", "shuffle_write_mb", "input_mb")
        }
        worst_skew = max((s["skew"] for s in S.stage_skews(stats)), default=None)
        rec["queries"][name] = {
            # keep any orthogonal keys (e.g. sf10_value's "value"
            # verdict) a previous tool merged onto this query's row
            **rec["queries"].get(name, {}),
            "wall_sec": round(wall, 2),
            "worst_stage_skew": worst_skew,
            **spill,
        }
        print(f"{name:26s} {wall:7.2f}s skew={worst_skew} {spill}",
              flush=True)
        with open(out_path, "w") as f:
            json.dump(rec, f, indent=1)
    rec["total_wall_sec"] = round(
        sum(q["wall_sec"] for q in rec["queries"].values()), 2
    )
    with open(out_path, "w") as f:
        json.dump(rec, f, indent=1)
    print(json.dumps({"total": rec["total_wall_sec"], "written": out_path}))


if __name__ == "__main__":
    main()
