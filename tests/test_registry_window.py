"""Registry verification-window order (SURVEY.md §5.2.1).

The driver's CORRECTNESS gate checks only the FIRST 50 entries of
``operators.REGISTRY`` per round.  The order comes from the newest
driver row per query alone: failed first, then never checked
(oracle-bearing before rows-only), then green, least recently checked
first, with registration order breaking ties.
"""

from __future__ import annotations

import glob as _glob
import json

from cdc_from_sql_and_nosql_to_data_warehouse_spark import operators as ops

WINDOW = 50

_GREEN = {"rows_match": True, "schema_match": True, "hash_match": True, "err": None}
_RED = {"rows_match": True, "schema_match": True, "hash_match": False, "err": None}
_ROWS_ONLY = {"rows_match": None, "schema_match": None, "hash_match": None,
              "err": "no_oracle"}


def _green(name: str) -> bool:
    return ops._VERDICTS.get(name, (0, False))[1]


def _write_rounds(tmp_path, monkeypatch, rounds: dict[int, dict]) -> None:
    """Fake CORRECTNESS_r{N}.json files; glob returns ONLY these, in
    descending round order, so the reader must sort by round and must
    not depend on what the driver has written to the repo root."""
    paths = []
    for rnd, rows in rounds.items():
        p = tmp_path / f"CORRECTNESS_r{rnd:02d}.json"
        p.write_text(json.dumps(rows))
        paths.append(str(p))
    monkeypatch.setattr(_glob, "glob", lambda pat: sorted(paths, reverse=True))


def test_driver_failures_reverify_at_window_front():
    """Every query whose newest driver row failed sits at the very front
    of the window — its fix needs a green row before anything else
    spends a slot."""
    failed = [n for n, (_, green) in ops._VERDICTS.items()
              if not green and n in ops.REGISTRY]
    order = list(ops.REGISTRY)
    for n in failed:
        assert order.index(n) < len(failed), (
            f"driver-failed query {n} is not at the window front: "
            f"index {order.index(n)}, {len(failed)} failures total"
        )


def test_window_filled_by_unverified_before_anything_green():
    """While not-yet-green queries remain, no green query occupies a
    window slot."""
    n_not_green = sum(1 for n in ops.REGISTRY if not _green(n))
    if n_not_green < WINDOW:
        return  # window has spare room; green entries may legitimately fill it
    greens = [n for n in list(ops.REGISTRY)[:WINDOW] if _green(n)]
    assert not greens, f"window slots wasted on already-green queries: {greens}"


def test_failed_rows_are_attempted_but_not_green():
    """A failed or errored newest row is a driver attempt on a
    registered query, and it keeps that query out of the green tier."""
    for n, (_, green) in ops._VERDICTS.items():
        if not green:
            assert n in ops.REGISTRY
            assert ops._window_key(ops.REGISTRY[n], ops._VERDICTS) == (0, 0)


def test_window_rolls_forward_when_correctness_lands(tmp_path, monkeypatch):
    """Simulate the driver writing a new CORRECTNESS file over the
    current window: its greens leave the window, its failure stays at
    the front."""
    front = list(ops.REGISTRY)[:WINDOW]
    fake = {name: dict(_GREEN) for name in front}
    fail_name = front[0]
    fake[fail_name] = dict(_RED)
    _write_rounds(tmp_path, monkeypatch, {99: fake})

    verdicts = ops._driver_verdicts()
    assert verdicts[fail_name] == (99, False)
    assert all(verdicts[n] == (99, True) for n in front[1:])

    order = ops._window_order(ops.REGISTRY.values(), verdicts)
    window = [s.name for s in order[:WINDOW]]
    assert window[0] == fail_name
    assert not set(front[1:]) & set(window)


def test_green_then_red_reenters_window(tmp_path, monkeypatch):
    """Latest round wins: a query green in round N but red in round N+1
    is not green (its slot re-opens).  Green-in-any-round-wins-forever
    would mask a driver regression permanently."""
    name = list(ops.REGISTRY)[0]
    _write_rounds(tmp_path, monkeypatch, {1: {name: _GREEN}, 2: {name: _RED}})
    verdicts = ops._driver_verdicts()
    assert verdicts[name] == (2, False)
    assert ops._window_key(ops.REGISTRY[name], verdicts) == (0, 0)

    # and the reverse: red-then-green is green, dated by the newer round
    _write_rounds(tmp_path, monkeypatch, {1: {name: _RED}, 2: {name: _GREEN}})
    assert ops._driver_verdicts()[name] == (2, True)


def test_green_slots_rotate_least_recently_checked_first():
    """Among greens the OLDEST-checked come first — a query last green
    in round 1 precedes one last green in round 10."""
    greens = [n for n in ops.REGISTRY if _green(n)]
    rounds = [ops._VERDICTS[n][0] for n in greens]
    assert rounds == sorted(rounds), (
        "green queries are not ordered oldest-checked-first; first "
        "inversion at "
        + next(
            f"{greens[i]}(r{rounds[i]}) > {greens[i + 1]}(r{rounds[i + 1]})"
            for i in range(len(rounds) - 1)
            if rounds[i] > rounds[i + 1]
        )
    )


def test_unverified_still_precede_all_greens_after_rotation():
    """The rotation only reorders WITHIN the green tier: any not-yet-green
    oracle query still precedes every green one."""
    order = list(ops.REGISTRY)
    green_idx = [i for i, n in enumerate(order) if _green(n)]
    fresh_idx = [i for i, n in enumerate(order)
                 if not _green(n) and ops.REGISTRY[n].oracle]
    if fresh_idx and green_idx:
        assert max(fresh_idx) < min(green_idx)


def test_rule_on_synthetic_history(tmp_path, monkeypatch):
    """The whole rule on a made-up history: one failed query, one
    never-checked oracle query, one never-checked rows-only query and
    greens from two rounds, listed in a registration order that the
    rule must fully rearrange."""

    def spec(name, oracle):
        return ops.QuerySpec(name=name, fn=lambda spark, sf: None,
                             oracle="SELECT 1" if oracle else None, doc="")

    registered = [
        spec("green_r2_a", True),
        spec("rows_only_new", False),
        spec("green_r1", True),
        spec("green_r1_rows_only", False),
        spec("oracle_new", True),
        spec("green_r2_b", True),
        spec("failed", True),
    ]
    _write_rounds(tmp_path, monkeypatch, {
        1: {"green_r1": _GREEN, "green_r1_rows_only": _ROWS_ONLY,
            "failed": _GREEN, "green_r2_a": _RED},
        2: {"green_r2_b": _GREEN, "failed": _RED, "green_r2_a": _GREEN},
    })
    order = [s.name for s in ops._window_order(registered, ops._driver_verdicts())]
    assert order == [
        "failed",
        "oracle_new",
        "rows_only_new",
        "green_r1",
        "green_r1_rows_only",
        "green_r2_a",
        "green_r2_b",
    ]
