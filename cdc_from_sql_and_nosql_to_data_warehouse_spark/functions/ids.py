"""Scalable global id assignment.

Training-data pipelines need dense global row ids (shard indexes,
example ids) over corpora whose natural keys are sparse or absent.
The naive form — ``row_number()`` over a global (unpartitioned)
``Window.orderBy(...)`` — funnels the whole table through ONE task;
``monotonically_increasing_id`` is fast but neither dense nor stable
across partitionings.

``assign_dense_ids`` is the scalable equivalent of the global
row_number: range-partition by the order columns, number rows within
each partition, then add per-partition offsets computed from a tiny
partition-size aggregate (driver-side prefix sum over ≤ thousands of
partition counts).  Two scans, no global sort bottleneck; ids are
dense 0..n-1 and deterministic for a total ordering.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def assign_dense_ids(
    df: DataFrame,
    order_cols: list[str | Column],
    id_col: str = "row_id",
    partitions: int | None = None,
) -> DataFrame:
    """Dense, deterministic 0-based ids in the total order given by
    ``order_cols`` (must be a unique key for full determinism; entries
    may be names or sort-order Columns like ``desc_nulls_last()``).

    Plan: repartitionByRange(order_cols) → sort within partitions →
    per-partition row_number − 1 → add the exclusive prefix sum of
    partition sizes (collected to the driver: one long per partition,
    a few KB even at 100 TB).  Equivalent to the single-task global
    ``row_number() over (order by ...)`` — verified in tests — but
    every stage is parallel."""
    cols: list[Column] = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    ranged = (
        df.repartitionByRange(partitions, *cols) if partitions else df.repartitionByRange(*cols)
    )
    # materialize the partitioning once: the size job and the numbering
    # job must see the SAME range boundaries (repartitionByRange samples
    # the input to pick them)
    ranged = (
        ranged.sortWithinPartitions(*cols)
        .withColumn("__pid", F.spark_partition_id())
        # barrier: the size job and the numbering job must see the same
        # range boundaries (repartitionByRange samples its input)
        .localCheckpoint(eager=False)
    )
    sizes = {
        r["__pid"]: r["n"]
        for r in ranged.groupBy("__pid").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(sizes):
        offsets[pid] = acc
        acc += sizes[pid]
    # repartitionByRange puts ascending ranges in ascending partition
    # ids, so the prefix sum over pid order is the global order offset
    offset_col = F.element_at(
        F.map_from_arrays(
            F.array(*[F.lit(p) for p in sorted(offsets)]),
            F.array(*[F.lit(offsets[p]) for p in sorted(offsets)]),
        ),
        F.col("__pid"),
    )
    w = Window.partitionBy("__pid").orderBy(*cols)
    return (
        ranged.withColumn(id_col, F.row_number().over(w) - 1 + offset_col)
        .drop("__pid")
    )


def running_total(
    df: DataFrame,
    order_cols: list[str | Column],
    value_col: str,
    total_col: str = "running_total",
    partitions: int | None = None,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Inclusive prefix sum of ``value_col`` in the total order of
    ``order_cols`` — the value analogue of ``assign_dense_ids``
    (same plan: range-partition, in-partition window cumsum, add the
    exclusive prefix sum of per-partition totals collected to the
    driver — one long per partition).  Equivalent to the single-task
    ``sum(v) over (order by …)`` but every stage is parallel; this is
    what sequence packing / shard sizing use to place 10^9 documents
    on token-offset boundaries without a global sort bottleneck.

    ``group_cols`` makes the prefix sum PER-GROUP (``sum(v) over
    (partition by g order by …)``) while still parallelizing WITHIN a
    group: rows range-partition on (group, order), the in-partition
    window restarts per group, and the driver-side offset is keyed on
    (partition, group) — one entry per group-run that touches a
    partition boundary, ≈ partitions + groups entries, a few KB even
    at 100 TB.  This is how a running budget over one giant source
    (e.g. a 10^9-doc crawl dump) avoids the one-task-per-source
    window.  The offset lookup is a broadcast join on the native
    (partition, group) values — no string round-trip, so any
    equality-comparable group type works (a str(py)/cast(string)
    mismatch on boolean/timestamp keys previously NULLed every
    total; review-caught)."""
    groups = list(group_cols or [])
    cols: list[Column] = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    range_cols = [F.col(g) for g in groups] + cols
    ranged = (
        df.repartitionByRange(partitions, *range_cols)
        if partitions
        else df.repartitionByRange(*range_cols)
    )
    ranged = (
        ranged.sortWithinPartitions(*range_cols)
        .withColumn("__pid", F.spark_partition_id())
        # barrier: the offset job and the numbering job must see the same
        # range boundaries (repartitionByRange samples its input)
        .localCheckpoint(eager=False)
    )
    if not groups:
        # pid-only offsets: a driver-side prefix sum keyed by the int
        # partition id (ints round-trip exactly; one long per
        # partition) — no window, no join, nothing single-partition
        sizes = {
            r["__pid"]: r["t"]
            for r in ranged.groupBy("__pid").agg(F.sum(value_col).alias("t")).collect()
        }
        off, acc = {}, 0
        for pid in sorted(sizes):
            off[pid] = acc
            acc += sizes[pid] or 0
        offset_col = F.element_at(
            F.map_from_arrays(
                F.array(*[F.lit(p) for p in sorted(off)]),
                F.array(*[F.lit(off[p]) for p in sorted(off)]),
            ),
            F.col("__pid"),
        )
        joined = ranged.withColumn("__offset", offset_col)
    else:
        # per-(partition, group) totals → exclusive prefix sum per
        # group in __pid order (ranges ascend with pid, so pid order IS
        # the global order).  The frame is ≈ partitions + group-boundary
        # rows — tiny — so the per-group window and broadcast are safe.
        totals = ranged.groupBy("__pid", *groups).agg(F.sum(value_col).alias("__t"))
        w_off = (
            Window.partitionBy(*[F.col(g) for g in groups])
            .orderBy("__pid")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        offsets = (
            totals.withColumn(
                "__offset", F.coalesce(F.sum("__t").over(w_off), F.lit(0))
            )
            .drop("__t")
            .withColumnRenamed("__pid", "__opid")
            .select("__opid", "__offset", *[F.col(g).alias(f"__og_{g}") for g in groups])
        )
        cond = ranged["__pid"] == offsets["__opid"]
        for g in groups:
            cond = cond & ranged[g].eqNullSafe(offsets[f"__og_{g}"])
        joined = ranged.join(F.broadcast(offsets), cond, "left").drop(
            *[f"__og_{g}" for g in groups]
        )
    w = (
        Window.partitionBy("__pid", *groups)
        .orderBy(*cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        joined.withColumn(total_col, F.sum(value_col).over(w) + F.col("__offset"))
        .drop("__pid", "__opid", "__offset")
    )  # __opid absent in the ungrouped path; drop ignores missing names
