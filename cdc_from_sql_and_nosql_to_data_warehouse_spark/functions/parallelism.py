"""Pre-compute rebalancing (optimization guide §2.5 / §8).

``spread`` repartitions a NARROW frame to the session's data-aware
shuffle width right before a compute-heavy map phase (a ×B fan-out
explode, per-row md5 chains, shingling, vector folds, edit distances).

Why this exists: scan parallelism is bounded by the file layout — a
parquet row group cannot split, so a single-row-group file yields ONE
non-empty scan partition no matter what ``maxPartitionBytes`` says
(measured r12: every sf0.1 testdata table is one row group, so every
scan-rooted map stage ran on one core; q_poisson_bootstrap's 15M-row
md5 fan-out measured 31.4 s single-threaded vs 3.1 s spread).  AQE
cannot help because there is no exchange before the heavy map, and its
rebalance hint targets BYTES, which would coalesce a small-but-
compute-heavy frame to fewer tasks, not more.

At real (multi-row-group, 100 TB) scale the scan parallelizes on its
own and this exchange is a cheap no-op by comparison: it moves the
narrow PRE-fan-out rows exactly once — a fraction of the fan-out's
output — which is the guide's "shuffle the lightweight proxy, never
the multiplied payload" rule.  Width follows the session's
data-aware ``spark.sql.shuffle.partitions`` (floors at the core
count, scales with input bytes — session.shuffle_width_for), so the
same call is right at sf0.001 and at a blowup decade.

Determinism: round-robin repartition with Spark's default
sort-before-repartition is deterministic under retries; no operator
value depends on partition placement (grep-pinned: no
spark_partition_id / monotonically_increasing_id downstream of a
spread call — assign_dense_ids manages its own layout).

THE CHECKPOINT RULE (companion to spread).  Every
``localCheckpoint`` in the package is one of two kinds and says which
in a ``barrier:`` or ``A/B:`` comment just above the call
(tests/test_checkpoint_rule.py fails on an untagged call):

1. **Barrier** — results or plan validity depend on it: the frozen
   range partitioning that functions/ids.py numbers against, the
   materialized parse before the corrupt-record column is referenced
   (sources/readers.py), the state of an iterative loop (without the
   cut the plan grows with every round), or a batch-dependent summary
   whose consumers must read one pass (q_heavy_hitters).
2. **Shared-subtree cache** — exists only so that 2+ consumers do not
   recompute one subtree.  It stays only if a paired A/B against
   recompute shows it winning at one scale (sf0.1 or the sf1
   blowup) and losing at neither; the comment carries the numbers.
   The instrument is tools/timing_sweep.py (bench.py's warm-up and
   noop-sink timing, plans/measure.py), run in >= 5 alternating
   launches from three checkouts: the parent, the change, and an
   identical-code control copy of the parent.  A win must exceed both
   the parent's IQR and the parent-vs-control gap: on a shared 4-core
   host two copies of one tree differ by ~10%, as much as most
   checkpoint effects.

A cache has real costs, so it must be measured, never assumed: even
``eager=False`` runs a job when AQE plans the consumers, the
LogicalRDD hides column statistics from join planning (the r13 q_hits
regression), it freezes its input partitioning, and its blocks are
executor-local and not fault-tolerant — losing an executor fails the
remaining consumers, which rerun the query from its parquet inputs.
Every checkpointed frame here is scoped to one query invocation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def spread(df: DataFrame, factor: int = 1) -> DataFrame:
    """Repartition ``df`` to the session's shuffle width (× factor).

    Call on the narrow projection feeding a compute-heavy map phase,
    BEFORE the fan-out, so the shuffle moves pre-multiplication rows.
    ``factor`` > 1 suits extreme per-row cost where even one width's
    tasks straggle (rare; measure first).

    One exception to "narrow": a frame that carries a payload (embedding
    vectors in q_dedup_embedding, q_semdedup, q_eval_confusion) may be
    spread when it feeds a pair fold, whose work grows with the square
    of its rows.  The exchange moves each payload once, before the
    pairing; the fold would otherwise run every pair on the scan's few
    tasks.  Spreading the multiplied pair rows instead is never right.
    """
    try:
        width = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        # sessions that never ran session.tune() can carry a non-numeric
        # value (e.g. "auto" on some AQE platforms); fall back to the
        # documented floor rather than failing plan construction
        width = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(width * factor)
