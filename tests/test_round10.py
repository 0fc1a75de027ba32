"""Round-10 pins: the q_class_balance md5-threshold pre-filter (the
round-9 verdict's one weak flag) and the registry-wide sweep that no
OTHER non-literal rank-cap window exists.

The pre-filter's contract: a dominant language must never funnel into
one window-sorting task — _class_balance_survivors bounds every
per-language partition to ~n_min*1.25+64 rows BEFORE the exact rank,
with an exact survivor-count fallback that keeps the operator exact
(never approximate) even if the uniform-hash assumption failed.
"""

from __future__ import annotations

import pytest

import re

from pyspark.sql import functions as F

from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators import REGISTRY
from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.relational import (
    _BALANCE_FLOOR,
    _BALANCE_OVERSAMPLE,
    _class_balance_survivors,
)

from conftest import SF_DIR


def _skewed_docs(spark, n_big=20000, n_mid=500, n_small=200):
    """One dominant language (the 100 TB failure shape), one mid, one
    minority — n_min = n_small."""
    rows = (
        [(i, "en") for i in range(n_big)]
        + [(n_big + i, "de") for i in range(n_mid)]
        + [(n_big + n_mid + i, "sw") for i in range(n_small)]
    )
    return spark.createDataFrame(rows, "doc_id bigint, lang string")


def test_class_balance_prefilter_bounds_partitions(spark):
    docs = _skewed_docs(spark)
    n_min = 200
    # survivors are Binomial(n_lang, keep_frac) with mean
    # n_min*1.25+64 = 314; allow 6 sigma of sampling variance — the
    # claim is "~n_min rows, never ~n_lang", not an exact count
    expected = n_min * _BALANCE_OVERSAMPLE + _BALANCE_FLOOR
    bound = int(expected + 6 * expected**0.5 + 16)
    per_lang = {
        r["lang"]: r["n"]
        for r in _class_balance_survivors(docs)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    # the dominant language is bounded — this is the whole point
    assert per_lang["en"] <= bound, per_lang
    # every language still has enough survivors for an exact n_min rank
    for lang, n in per_lang.items():
        assert n >= n_min, (lang, n)
    # the minority language is kept whole (keep_frac saturates at 1.0)
    assert per_lang["sw"] == 200


def test_class_balance_exact_on_skew(spark):
    """The pre-filtered operator must equal the direct exact rank —
    same selected doc_ids, not just same counts."""
    docs = _skewed_docs(spark, n_big=5000, n_mid=300, n_small=120)
    survivors = _class_balance_survivors(docs)
    from pyspark.sql import Window

    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    got = {
        (r.doc_id, r.lang)
        for r in survivors.select(
            "doc_id", "lang", "n_min", F.row_number().over(w).alias("rn")
        )
        .filter(F.col("rn") <= F.col("n_min"))
        .collect()
    }
    cap = docs.groupBy("lang").count().agg(F.min("count").alias("n_min"))
    want = {
        (r.doc_id, r.lang)
        for r in docs.select(
            "doc_id", "lang", F.row_number().over(w).alias("rn")
        )
        .crossJoin(F.broadcast(cap))
        .filter(F.col("rn") <= F.col("n_min"))
        .collect()
    }
    assert got == want
    assert len({lang for _, lang in got}) == 3
    # exactly n_min rows per language
    from collections import Counter

    assert set(Counter(lang for _, lang in got).values()) == {120}


def test_class_balance_fallback_exactness(spark):
    """Force the pre-filter invalid (keep_frac microscopically small via
    a doctored survivors call is not possible without monkeypatching the
    constants — instead exercise the saturation path: when every
    language is the same size, keep_frac = min(1, 1.25 + floor/n) = 1.0
    and the operator degenerates to the plain exact rank)."""
    rows = [(i, ["a", "b"][i % 2]) for i in range(400)]
    docs = spark.createDataFrame(rows, "doc_id bigint, lang string")
    surv = _class_balance_survivors(docs)
    assert surv.count() == 400  # nothing dropped when keep_frac == 1


@pytest.mark.slow
def test_no_other_nonliteral_rank_cap_window(spark):
    """Registry sweep (round-9 verdict item 1): q_class_balance was the
    only rank-cap window whose cap is a COLUMN (so WindowGroupLimit
    cannot fire).  It is now pre-filter-bounded; assert no other query
    plans a Filter comparing a row_number/rank window output against a
    non-literal bound.  Literal-cap windows rewrite to WindowGroupLimit
    and disappear from this pattern by construction."""
    # in optimized plans a rank-filter looks like
    #   Filter (rn#123 <= n_min#456)   <- non-literal cap (flag)
    #   Filter (rn#123 <= 10)          <- literal cap (fine)
    win_out = re.compile(
        r"(?:row_number|rank|dense_rank)\(\).*?AS (\w+)#(\d+)"
    )
    offenders = []
    allow = {"q_class_balance"}  # pre-filter-bounded, documented
    for name, spec in REGISTRY.items():
        if name in allow:
            continue
        try:
            df = spec.fn(spark, SF_DIR)
        except Exception:  # noqa: BLE001 — runtime errors are other tests' job
            continue
        txt = df._jdf.queryExecution().optimizedPlan().toString()
        for col, cid in win_out.findall(txt):
            if re.search(
                rf"Filter [^\n]*\b{col}#{cid}L? <= \w+#\d+", txt
            ):
                offenders.append((name, col))
                break
    assert not offenders, offenders


def test_class_balance_scan_count_bounded(spark):
    # the pre-filter costs extra passes: sizing, survivor-count, and
    # the final filtered scan — each a broadcast-joined map-side pass.
    # Pin that the executed plan never regresses to more than 3 scans
    # of documents (e.g. by losing a reuse or adding a fourth pass):
    # the sizing aggregate feeds two branches through one shuffle, the
    # second reading it as a ReusedExchange.
    df = REGISTRY["q_class_balance"].fn(spark, SF_DIR)
    df.collect()
    txt = df._jdf.queryExecution().executedPlan().toString()
    final = txt.split("== Initial Plan ==")[0]
    n_scans = sum(1 for line in final.splitlines() if "FileScan" in line)
    assert n_scans <= 3, txt
    assert "ReusedExchange" in final, txt
