"""Operator registry.

Every query-shaped operator from SURVEY.md §2 registers itself here with
an optional DuckDB oracle SQL string.  ``__spark_entry__.py`` exposes the
registry to the driver; ``tests/test_oracle_diff.py`` replays the exact
driver comparison (row count + schema + order-insensitive values) locally.

Registration happens at import time of the operator modules, which this
package imports eagerly at the bottom.
"""

from __future__ import annotations

import glob
import json
import re
from collections.abc import Callable, Iterable
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL; None → driver does a rows-only check
    doc: str


REGISTRY: dict[str, QuerySpec] = {}


@dataclass(frozen=True)
class SampledOracle:
    """Bounded-slice value check for queries whose TEXTBOOK oracle is
    deliberately quadratic (exact all-pairs truth) and infeasible at
    blowup SFs (VERDICT r10 next-2).

    ``restrict`` filters the engine's FULL output to a deterministic
    md5-threshold key slice; ``oracle`` computes the exact DuckDB truth
    with the SAME restriction pushed into its INPUT, where it bounds
    the quadratic term.  Soundness: for a pair-output operator whose
    match predicate depends only on the two endpoints' own contents
    (set similarity / containment), the all-pairs truth over the slice
    equals the full truth restricted to slice-endpoint pairs, so a
    hash match over the slice is an EXACT value check of that
    restriction — the same audit-sample argument as q_dedup_eval
    (operators/retrievaleval.py)."""

    name: str
    restrict: Callable[[DataFrame], DataFrame]
    oracle: str
    note: str


SAMPLED_ORACLES: dict[str, SampledOracle] = {}


def register_sampled(
    name: str,
    restrict: Callable[[DataFrame], DataFrame],
    oracle: str,
    note: str,
) -> None:
    if name in SAMPLED_ORACLES:
        raise ValueError(f"duplicate sampled-oracle registration: {name}")
    SAMPLED_ORACLES[name] = SampledOracle(
        name=name, restrict=restrict, oracle=oracle, note=note
    )


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register a (spark, sf_dir) -> DataFrame query."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate operator registration: {name}")
        REGISTRY[name] = QuerySpec(name=name, fn=fn, oracle=oracle, doc=fn.__doc__ or "")
        return fn

    return deco


def queries() -> dict[str, QueryFn]:
    return {name: spec.fn for name, spec in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: spec.oracle for name, spec in REGISTRY.items() if spec.oracle}


# Import operator modules for their registration side effects.
from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators import (  # noqa: E402,F401
    behavioral,
    cdc_batch,
    curation,
    dedup,
    evalprep,
    graph,
    layout,
    mlprep,
    modern_sql,
    multimodal,
    packing,
    quality,
    relational,
    similarity,
    textops,
    timeseries,
    tpch_shapes,
    udfs,
)


# ---------------------------------------------------------------- ordering
#
# The driver's CORRECTNESS check covers only the FIRST 50 registry
# entries per round, so the registry order decides what gets verified.
# It is read from the newest driver row per query alone:
#   0 — failed: the newest row is not green (its fix needs a green row);
#   1 — never checked, oracle-bearing (can go green);
#   2 — never checked, rows-only (can run, never go green);
#   3 — green, least recently checked first, so stale rows get refreshed.
# Registration order breaks ties (the sort is stable).

# query name -> (round, green) of its newest driver row
_Verdicts = dict[str, tuple[int, bool]]


def _round_of(path: str) -> int:
    m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
    return int(m.group(1)) if m else -1


def _driver_verdicts() -> _Verdicts:
    """Newest driver row per query name, as ``(round, green)``, read from
    every CORRECTNESS_r*.json in the repo root.

    Latest round wins: a query green in round N but red in round N+1 is
    not green, so a driver regression re-opens its window slot.  Green
    means a hash match, or the rows-only ``no_oracle`` outcome; a failed
    or errored row is not green."""
    repo = Path(__file__).resolve().parents[2]
    verdicts: _Verdicts = {}
    # ascending round order, so later rounds overwrite earlier rows
    for path in sorted(glob.glob(str(repo / "CORRECTNESS_r*.json")), key=_round_of):
        try:
            with open(path) as fh:
                rows = json.load(fh)
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            continue
        for name, row in rows.items():
            if isinstance(row, dict):
                green = bool(row.get("hash_match")) or row.get("err") == "no_oracle"
                verdicts[name] = (_round_of(path), green)
    return verdicts


def _window_key(spec: QuerySpec, verdicts: _Verdicts) -> tuple[int, int]:
    if spec.name not in verdicts:
        return (1, 0) if spec.oracle else (2, 0)
    rnd, green = verdicts[spec.name]
    return (3, rnd) if green else (0, 0)


def _window_order(specs: Iterable[QuerySpec], verdicts: _Verdicts) -> list[QuerySpec]:
    return sorted(specs, key=lambda s: _window_key(s, verdicts))


_VERDICTS = _driver_verdicts()
_ordered = _window_order(REGISTRY.values(), _VERDICTS)
REGISTRY.clear()
REGISTRY.update((s.name, s) for s in _ordered)
