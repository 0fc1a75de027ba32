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

THE CHECKPOINT ELIGIBILITY RULE (companion to spread; the r12/r13
cross-branch-CSE barriers).  ``localCheckpoint(eager=False)`` is used
to stop Catalyst re-executing a multi-consumer subtree once per
consumer.  A frame qualifies ONLY if all three hold:

1. **≥2 consumers** whose shared subtree is more expensive to
   recompute than to materialize (A/B-measured; recomputation of a
   pruned scan + cheap agg usually WINS — see the reverted pagerank /
   item_cf-capped / weighted_quantile checkpoints in r12).
2. **Narrow** — a few int/short-string columns, never payloads
   (text, embeddings, arrays): blocks land on executor memory/disk.
3. **Post-aggregate / bounded growth** — the frame must be a strict
   reduction of its input (distinct keys, per-group aggregates, a
   calendar- or vocabulary-bounded spine).  Data-scaled-but-reduced
   frames (distinct (part,supplier) pairs, distinct user-item
   interactions) are accepted as an explicit trade and noted at the
   call site; a frame that grows WITH fan-out (exploded shingles,
   pair joins) is never checkpointed, it is spread and recomputed.

Recovery trade, stated once for every call site: localCheckpoint
blocks are EXECUTOR-LOCAL and not fault-tolerant — losing an executor
after materialization fails the job's remaining consumers, which
rerun the query from the parquet inputs.  That is acceptable here
because every checkpointed frame is (a) minutes, not hours, to
rebuild at 100 TB (one pruned scan + one reduction), and (b) scoped
to a single query invocation — there is no cross-run state to lose.
Layout gotchas (frozen width, lost stats) and the keyed-repartition /
spread-first fixes are documented in OPTIMIZATION_r12.md §checkpoint.
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
