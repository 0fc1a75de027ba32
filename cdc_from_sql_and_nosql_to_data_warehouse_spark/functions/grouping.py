"""Grouping-sets decomposition: pre-aggregate, then expand.

Spark plans ROLLUP/CUBE/GROUPING SETS as Expand -> partial agg ->
exchange: every input row is replicated once PER SET before the partial
aggregate, so an N-set cube pays N hash probes per row.  Pre-aggregating
at the finest grouping first shrinks the Expand input from |rows| to
|distinct finest groups| — at 100 TB that is the difference between
multiplying the scan and multiplying a few thousand group rows.

It also fixes an empty-input semantics divergence: SQL's empty grouping
set `()` emits one grand-total row even over zero input rows (COUNT 0,
SUM NULL — what DuckDB and the standard do), but Spark's Expand-based
plan emits nothing.  Here the `()` member is peeled off into a plain
global aggregate, which always returns exactly one row
(tests/test_empty_tables_fixture.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .exact import dec


def presum_count_dsum(
    df: DataFrame,
    keys: list[tuple[str, "Column | str"]],
    value: "Column | str",
    prec: int = 12,
    scale: int = 2,
) -> DataFrame:
    """The pre-aggregate at the finest grouping: one row per distinct
    key tuple with its COUNT(*) (`_pn`) and exact decimal SUM (`_ps`).
    `keys` are (output_name, expression) pairs."""
    return df.groupBy(
        *[(F.col(c) if isinstance(c, str) else c).alias(n) for n, c in keys]
    ).agg(
        F.count(F.lit(1)).alias("_pn"),
        F.sum(dec(value, prec, scale)).alias("_ps"),
    )


def count_dsum_sets(
    base: DataFrame,
    sets: list[tuple[str, ...]],
    n_alias: str,
    sum_alias: str,
) -> DataFrame:
    """Expand a `presum_count_dsum` pre-aggregate over grouping sets.

    `sets` lists every NON-empty grouping set by key name — the empty
    set `()` is always included, as a guaranteed-one-row global
    aggregate.  Both COUNT and decimal SUM re-aggregate exactly (sum of
    partial counts / sum of partial decimal sums), so the result is
    row-identical to a direct ROLLUP/CUBE/GROUPING SETS.  `base` has two
    consumers (the sets and the grand total)."""
    key_names = [c for c in base.columns if c not in ("_pn", "_ps")]
    parts = (
        base.groupingSets([list(s) for s in sets], *key_names)
        .agg(
            F.sum("_pn").alias(n_alias),
            F.sum("_ps").cast("double").alias(sum_alias),
        )
    )
    grand = base.agg(
        *[F.lit(None).cast(base.schema[n].dataType).alias(n) for n in key_names],
        F.coalesce(F.sum("_pn"), F.lit(0).cast("long")).alias(n_alias),
        F.sum("_ps").cast("double").alias(sum_alias),
    )
    return parts.unionByName(grand)

