"""The checkpoint rule (functions/parallelism.py), checked on the source.

Every ``.localCheckpoint(`` / ``.checkpoint(`` call in the package is
either a barrier (results or plan validity depend on it) or a
shared-subtree cache that won a paired A/B against recompute.  The
call must say which in a ``barrier:`` or ``A/B:`` comment within the
few lines above it, so a new checkpoint cannot land unmeasured.
"""

from __future__ import annotations

import pathlib
import re

PKG = pathlib.Path(__file__).resolve().parents[1] / "cdc_from_sql_and_nosql_to_data_warehouse_spark"
CALL = re.compile(r"\.(localCheckpoint|checkpoint)\(")
TAG = re.compile(r"#.*\b(barrier|A/B):")
WINDOW = 6  # lines above the call that may hold the tag


def _checkpoint_calls(root: pathlib.Path) -> dict[str, bool]:
    """{file:line: tagged} for every checkpoint call under ``root``."""
    out = {}
    for path in sorted(root.rglob("*.py")):
        lines = path.read_text().splitlines()
        for i, line in enumerate(lines):
            if CALL.search(line):
                above = lines[max(0, i - WINDOW) : i + 1]
                out[f"{path.relative_to(root)}:{i + 1}"] = any(TAG.search(t) for t in above)
    return out


def test_every_checkpoint_is_a_barrier_or_measured():
    calls = _checkpoint_calls(PKG)
    # the range-partition freeze in functions/ids.py alone is two
    # calls: an empty scan means the pattern broke, not a clean tree
    assert len(calls) >= 2, calls
    untagged = sorted(site for site, tagged in calls.items() if not tagged)
    assert not untagged, f"checkpoint without a barrier:/A/B: comment: {untagged}"


def test_tag_must_sit_just_above_its_call(tmp_path):
    body = ["# barrier: too far up"] + ["x = 1"] * WINDOW + ["df = df.localCheckpoint()"]
    (tmp_path / "far.py").write_text("\n".join(body))
    body[2] = "# A/B: 1.0 -> 0.5 s"
    (tmp_path / "near.py").write_text("\n".join(body))
    assert _checkpoint_calls(tmp_path) == {"far.py:8": False, "near.py:8": True}
