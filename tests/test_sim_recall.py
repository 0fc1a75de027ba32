"""ANN recall measurement (SURVEY.md §2.3 C3): an approximate index
without a recall number is unquantified.  Both ANN paths are compared
against the exact brute-force top-k on the same corpus and pinned to a
floor AT BOTH sf0.001 AND sf0.01; the knobs that buy recall (LSH tables
/ probe radius, IVF k / nprobe) are documented at the operator
definitions and in SCALE.md.
"""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators import REGISTRY

from conftest import SF_DIR

SF_DIRS = [SF_DIR, os.path.join(os.path.dirname(SF_DIR.rstrip("/")), "sf0.01")]


def _topk_sets(rows):
    out: dict[int, set[int]] = {}
    for r in rows:
        out.setdefault(r["query_id"], set()).add(r["cand_id"])
    return out


def _recall(exact: dict[int, set[int]], got: dict[int, set[int]]) -> float:
    per_q = [len(exact[q] & got.get(q, set())) / len(exact[q]) for q in exact]
    return sum(per_q) / len(per_q)


def _exact5(spark, sf_dir):
    return _topk_sets(
        REGISTRY["q_sim_topk"].fn(spark, sf_dir).filter("rank <= 5").collect()
    )


@pytest.mark.parametrize("sf_dir", SF_DIRS, ids=["sf0.001", "sf0.01"])
def test_lsh_recall_at_5(spark, sf_dir):
    exact = _exact5(spark, sf_dir)
    lsh = _topk_sets(
        REGISTRY["q_sim_topk_lsh"].fn(spark, sf_dir).filter("query_id < 5").collect()
    )
    r = _recall(exact, lsh)
    # measured 0.80 at sf0.001 / 0.88 at sf0.01 with 16 tables x 8 bits,
    # Hamming-1 probes; the full L-sweep frontier (0.68/0.64 at L=8 up
    # to 0.80/0.92 at L=20) is in SCALE.md (measured by
    # tools/lsh_frontier.py, last present at commit 73d0218) —
    # true neighbors sit at cosine ~0.32 ⇒ ~60% per-bit agreement
    assert r >= 0.8, f"LSH recall@5 = {r} at {sf_dir}"


@pytest.mark.parametrize("sf_dir", SF_DIRS, ids=["sf0.001", "sf0.01"])
def test_ivf_recall_at_5(spark, sf_dir):
    exact = _exact5(spark, sf_dir)
    ivf = _topk_sets(
        REGISTRY["q_sim_ivf"].fn(spark, sf_dir).filter("query_id < 5").collect()
    )
    r = _recall(exact, ivf)
    # round-7 retune: k=24/nprobe=8 measured 0.96 at sf0.001 / 0.92 at
    # sf0.01 (sweep in operators/similarity.py) — finer cells + more
    # probes beat the old k=12/nprobe=4 (0.72/0.64) at the SAME probed
    # fraction (1/3).  Floor 0.8 matches LSH's.
    assert r >= 0.8, f"IVF recall@5 = {r} at {sf_dir}"


def test_lsh_candidate_fraction_bounded(spark):
    # the point of the index: the exact-cosine stage must touch a small
    # fraction of (query x corpus) — here just the band-join fan-in
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.similarity import (
        _signature_rows,
    )
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.sources.readers import load_table

    embdf = load_table(spark, SF_DIR, "embeddings")
    n = embdf.count()
    sigs = _signature_rows(embdf)
    cand = sigs.select(F.col("vec_id").alias("cand_id"), "table", "sig")
    probes = sigs.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        "table",
        F.explode(
            F.array(F.col("sig"), *[F.col("sig").bitwiseXOR(F.lit(1 << j)) for j in range(8)])
        ).alias("sig"),
    )
    pairs = (
        cand.join(probes, ["table", "sig"])
        .select("query_id", "cand_id")
        .dropDuplicates(["query_id", "cand_id"])
        .count()
    )
    frac = pairs / (5 * n)
    # L·(1+b)/2^b = 12·9/256 ≈ 0.42 expected, 0.37 measured; the flat
    # geometry makes this corpus's recall/candidate trade-off worst-case
    assert frac < 0.5, f"candidate fraction {frac}"


def test_ivf_probe_fraction_bounded(spark):
    # IVF's cost bound: candidates scanned ≈ nprobe/k of the corpus
    ivf = REGISTRY["q_sim_ivf"].fn(spark, SF_DIR)
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.sources.readers import load_table

    n = load_table(spark, SF_DIR, "embeddings").count()
    # rank<=5 output implies candidates were generated; re-derive the
    # candidate count bound from the operator's own knobs instead
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.similarity import (
        _IVF_K,
        _IVF_NPROBE,
    )

    assert _IVF_NPROBE / _IVF_K <= 0.4
    assert ivf.count() > 0  # and the probe set still finds neighbors


@pytest.mark.parametrize("sf_dir", SF_DIRS, ids=["sf0.001", "sf0.01"])
def test_pq_shortlist_rerank_recall_at_10(spark, sf_dir):
    """PQ-ADC shortlist (100) + exact rerank must recover ≥ 0.8 of the
    exact L2 top-10 (measured 0.94 at both SFs with K*=16 trained
    sub-codebooks; pure ADC without rerank measured 0.3 on this
    near-random corpus — the rerank IS the architecture)."""
    from pyspark.sql.window import Window

    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.mlprep import _sq_dist
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    exact = emb.join(
        F.broadcast(q), F.col("vec_id") != F.col("query_id")
    ).select("query_id", F.col("vec_id").alias("cand_id"), _sq_dist("embedding", "qe").alias("d"))
    w = Window.partitionBy("query_id").orderBy("d", "cand_id")
    truth = _topk_sets(
        exact.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 10).collect()
    )
    got = _topk_sets(REGISTRY["q_sim_pq_search"].fn(spark, sf_dir).collect())
    assert _recall(truth, got) >= 0.8
