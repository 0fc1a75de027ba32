"""Retrieval-stack evaluation: NDCG, ROC-AUC, rank fusion, dedup
banding audit, MMR diversification (split from evalprep.py, round 7).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cdc_from_sql_and_nosql_to_data_warehouse_spark.functions import vectors as V
from cdc_from_sql_and_nosql_to_data_warehouse_spark.functions.exact import dec
from cdc_from_sql_and_nosql_to_data_warehouse_spark.functions.ids import (
    assign_dense_ids,
)
from cdc_from_sql_and_nosql_to_data_warehouse_spark.functions.portable_hash import (
    SQL_TOKS_EXPR,
    md5_unit,
    sql_md5_unit,
)
from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators import register
from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.evalcommon import (
    _SQL_DOT,
    _sql_cos,
)
from cdc_from_sql_and_nosql_to_data_warehouse_spark.sources.readers import load_table

_NDCG_Q = 20  # query set: vec_id < 20
_NDCG_K = 10


@register(
    "q_retrieval_ndcg",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS qid, embedding AS qe, label AS ql
      FROM embeddings WHERE vec_id < {_NDCG_Q}
    ),
    s AS (
      SELECT qid, c.vec_id AS cid,
        CASE WHEN c.label = ql THEN 1.0 ELSE 0.0 END AS rel,
        {_sql_cos("qe", "c.embedding")} AS cos
      FROM q JOIN embeddings c ON c.vec_id <> qid
    ),
    r AS (
      SELECT qid, rel, cos,
        row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk
      FROM s
    )
    SELECT qid AS query_id,
      CAST(SUM(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
      round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        list(round(rel / log2(rnk + 1.0), 6) ORDER BY rnk)
          FILTER (rnk <= {_NDCG_K})), (a, b) -> a + b), 6) AS dcg,
      round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        list_transform(
          generate_series(1, least({_NDCG_K},
            CAST(SUM(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS BIGINT))),
          i -> round(1.0 / log2(i + 1.0), 6))), (a, b) -> a + b), 6) AS idcg,
      CASE WHEN SUM(CASE WHEN rel > 0 THEN 1 ELSE 0 END) > 0 THEN
        round(
          list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list(round(rel / log2(rnk + 1.0), 6) ORDER BY rnk)
              FILTER (rnk <= {_NDCG_K})), (a, b) -> a + b)
          / list_reduce(list_prepend(CAST(0 AS DOUBLE),
              list_transform(
                generate_series(1, least({_NDCG_K},
                  CAST(SUM(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS BIGINT))),
                i -> round(1.0 / log2(i + 1.0), 6))), (a, b) -> a + b), 6)
      ELSE 0.0 END AS ndcg
    FROM r GROUP BY qid
    """,
)
def q_retrieval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 of the exact-cosine retriever against label-match
    relevance — the ranking-quality metric for the embedding index the
    warehouse serves (binary gains; ideal DCG from the query's true
    positive count).  q_sim_topk ships the ranking; this measures it.

    Determinism: each per-position contribution rel/log2(rank+1) is
    rounded to 6dp BEFORE summation (log2 is libm-dependent in its
    last ulp across engines — the BM25 precedent), and both DCG and
    ideal-DCG accumulate via rank-ordered folds, so the quotient is
    engine-identical.  The `sequence(1, least(10, n_pos))` is guarded
    on n_pos >= 1: Spark's sequence(1, 0) yields DESCENDING [1, 0]
    (measured round-2 gotcha), not an empty list.

    Scale: the query set is bounded (broadcast); candidate scoring is
    an embarrassingly parallel broadcast-nested-loop scan; the ranking
    window partitions per query.  The per-query fold state is ≤ K
    structs collected under a `rank <= K` filter — never the full
    candidate list."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < _NDCG_Q).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        F.col("label").alias("ql"),
        V.norm2("embedding").alias("qn"),
    )
    c = emb.select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").alias("ce"),
        F.col("label").alias("cl"),
        V.norm2("embedding").alias("cn"),
    )
    scored = c.join(F.broadcast(q), F.col("cid") != F.col("qid")).select(
        "qid",
        "cid",
        F.when(F.col("cl") == F.col("ql"), 1.0).otherwise(0.0).alias("rel"),
        (V.dot("qe", "ce") / (F.col("qn") * F.col("cn"))).alias("cos"),
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("cid"))
    ranked = scored.withColumn("rnk", F.row_number().over(w))
    contrib = F.round(F.col("rel") / F.log2(F.col("rnk") + 1.0), 6)
    per_q = ranked.groupBy("qid").agg(
        F.sum(F.when(F.col("rel") > 0, 1).otherwise(0)).alias("n_pos"),
        F.array_sort(
            F.collect_list(
                F.when(F.col("rnk") <= _NDCG_K, F.struct("rnk", contrib.alias("c")))
            )
        ).alias("top"),
    )
    fold = lambda arr: F.aggregate(arr, F.lit(0.0), lambda a, x: a + x)  # noqa: E731
    dcg = fold(F.transform(F.col("top"), lambda s: s["c"]))
    idcg = F.when(
        F.col("n_pos") >= 1,
        fold(
            F.transform(
                F.sequence(F.lit(1), F.least(F.lit(_NDCG_K), F.col("n_pos"))),
                lambda i: F.round(F.lit(1.0) / F.log2(i.cast("double") + 1.0), 6),
            )
        ),
    ).otherwise(0.0)
    return per_q.select(
        F.col("qid").alias("query_id"),
        F.col("n_pos").cast("bigint").alias("n_pos"),
        F.round(dcg, 6).alias("dcg"),
        F.round(idcg, 6).alias("idcg"),
        F.when(F.col("n_pos") > 0, F.round(dcg / idcg, 6)).otherwise(0.0).alias("ndcg"),
    )


@register(
    "q_retrieval_auc",
    oracle=f"""
    WITH a AS (
      SELECT embedding AS ae, label AS al FROM embeddings WHERE vec_id = 0
    ),
    s AS (
      SELECT round({_sql_cos("ae", "c.embedding")}, 6) AS score,
        CASE WHEN c.label = al THEN 1 ELSE 0 END AS y
      FROM embeddings c CROSS JOIN a WHERE c.vec_id <> 0
    ),
    g AS (
      SELECT score, CAST(COUNT(*) AS BIGINT) AS cnt, CAST(SUM(y) AS BIGINT) AS pos
      FROM s GROUP BY score
    ),
    r AS (
      SELECT pos, cnt,
        CAST(COALESCE(SUM(cnt) OVER (ORDER BY score
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_lt
      FROM g
    )
    SELECT
      CAST(SUM(pos) AS BIGINT) AS n_pos,
      CAST(SUM(cnt) - SUM(pos) AS BIGINT) AS n_neg,
      CASE WHEN SUM(pos) > 0 AND SUM(cnt) - SUM(pos) > 0 THEN
        CAST(SUM(CAST(pos AS HUGEINT) * (2 * cum_lt + cnt + 1))
             - CAST(SUM(pos) AS HUGEINT) * (SUM(pos) + 1) AS DOUBLE)
          / (2.0 * CAST(SUM(pos) AS DOUBLE)
             * CAST(SUM(cnt) - SUM(pos) AS DOUBLE))
      END AS auc
    FROM r
    """,
)
def q_retrieval_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC-AUC of cosine-to-anchor as a classifier score for "shares
    the anchor's label" — the Mann-Whitney rank form with proper tied-
    score handling (average ranks), the standard eval for an embedding
    space's class separation.

    Exactness: scores are rounded to 6dp to give both engines identical
    tie groups, then EVERYTHING up to the final division is integer —
    doubled average ranks make the tie midpoint (r + (cnt+1)/2) exact:
    S2 = Σ_pos (2·cum_lt + cnt + 1), AUC = (S2 − P(P+1)) / (2PN).  No
    float accumulates across rows, so no rounding tolerance is needed
    on the output.

    Scale: one hash aggregate collapses N rows to the distinct-score
    table; the cumulative count over score order runs through
    `running_total` (functions/ids.py — range-partitioned parallel
    prefix sum), NOT a single-task global window; the finale is a
    1-row aggregate."""
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.functions.ids import (
        running_total,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    a = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("ae"),
        F.col("label").alias("al"),
        V.norm2("embedding").alias("an"),
    )
    scored = emb.filter(F.col("vec_id") != 0).crossJoin(F.broadcast(a)).select(
        F.round(
            V.dot("ae", "embedding") / (F.col("an") * V.norm2("embedding")), 6
        ).alias("score"),
        F.when(F.col("label") == F.col("al"), 1).otherwise(0).alias("y"),
    )
    g = scored.groupBy("score").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("y").alias("pos")
    )
    r = running_total(g, ["score"], "cnt", total_col="cum_incl")
    r = r.withColumn("cum_lt", F.col("cum_incl") - F.col("cnt"))
    # the rank products run in DECIMAL/HUGEINT: with ~3e9+ candidates
    # pos·(2·cum_lt+cnt+1) exceeds int64, where Spark (non-ANSI) would
    # wrap silently and DuckDB would raise — the q_ks_test precedent
    s2 = F.sum(
        F.col("pos").cast("decimal(19,0)")
        * (2 * F.col("cum_lt") + F.col("cnt") + 1).cast("decimal(19,0)")
    )
    p_sq = F.sum("pos").cast("decimal(19,0)") * (F.sum("pos") + 1).cast(
        "decimal(19,0)"
    )
    # guard the degenerate single-class eval set (all candidates share
    # — or none share — the anchor's label): Spark's x/0.0 yields NULL
    # while DuckDB's raises/infs, so both engines emit NULL explicitly
    n_pos = F.sum("pos")
    n_neg = F.sum("cnt") - F.sum("pos")
    return r.agg(
        n_pos.cast("bigint").alias("n_pos"),
        n_neg.cast("bigint").alias("n_neg"),
        F.when(
            (n_pos > 0) & (n_neg > 0),
            (s2 - p_sq).cast("double")
            / (F.lit(2.0) * n_pos.cast("double") * n_neg.cast("double")),
        ).alias("auc"),
    )


_RRF_K = 60  # standard reciprocal-rank-fusion constant (Cormack et al. 2009)


@register(
    "q_hybrid_rrf",
    oracle=f"""
    WITH dt AS (
      SELECT doc_id, list_distinct({SQL_TOKS_EXPR}) AS toks
      FROM documents WHERE text IS NOT NULL
    ),
    cand AS (
      SELECT e.vec_id AS cid, e.embedding AS ce, dt.toks AS ct
      FROM embeddings e JOIN dt ON dt.doc_id = e.vec_id
    ),
    q AS (
      SELECT e.vec_id AS qid, e.embedding AS qe, dt.toks AS qt
      FROM embeddings e JOIN dt ON dt.doc_id = e.vec_id
      WHERE e.vec_id < 5
    ),
    s AS (
      SELECT qid, cid,
        {_sql_cos("qe", "ce")} AS cos,
        CASE WHEN length(list_distinct(list_concat(qt, ct))) > 0 THEN
          CAST(length(list_intersect(qt, ct)) AS DOUBLE)
            / CAST(length(list_distinct(list_concat(qt, ct))) AS DOUBLE)
        ELSE 0.0 END AS jac
      FROM cand JOIN q ON cid <> qid
    ),
    rr AS (
      SELECT qid, cid,
        row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rv,
        row_number() OVER (PARTITION BY qid ORDER BY jac DESC, cid) AS rl
      FROM s
    ),
    f AS (
      SELECT qid AS query_id, cid AS cand_id,
        1.0 / ({_RRF_K} + rv) + 1.0 / ({_RRF_K} + rl) AS rrf
      FROM rr
    )
    SELECT query_id, cand_id, rrf, CAST(rnk AS BIGINT) AS rank FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY rrf DESC, cand_id) AS rnk
      FROM f
    ) WHERE rnk <= 10
    """,
)
def q_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion (RRF, Cormack et al.
    2009, public): fuse a dense ranking (embedding cosine) with a
    lexical ranking (distinct-token Jaccard against the query
    document) as Σ 1/(60+rank) and return the top-10 per query — the
    RAG-stack hybrid-search shape, using the testdata's aligned
    doc_id == vec_id identity.

    Determinism: ranks are integers (cosine/Jaccard order with cand-id
    tie-breaks); the fused score is one fixed two-term expression of
    exact rank reciprocals — bit-identical with no rounding.  Jaccard
    is a ratio of integer set sizes; empty-union pairs score 0 rather
    than dividing by zero.

    Scale: the query side is bounded and broadcast; both rankings are
    per-query windows (same shape as q_sim_topk); token sets travel
    pre-distincted so the join carries no duplicate tokens.  At real
    scale the lexical arm would come from the BM25 inverted list
    (q_bm25_search) — Jaccard keeps the oracle twin exact here."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.functions.text import tokens

    dt = docs.select(
        "doc_id", F.array_distinct(tokens("text")).alias("toks")
    )
    emb = load_table(spark, sf_dir, "embeddings")
    cand = emb.join(dt, emb["vec_id"] == dt["doc_id"]).select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").alias("ce"),
        F.col("toks").alias("ct"),
        V.norm2("embedding").alias("cn"),
    )
    q = (
        emb.filter(F.col("vec_id") < 5)
        .join(dt, emb["vec_id"] == dt["doc_id"])
        .select(
            F.col("vec_id").alias("qid"),
            F.col("embedding").alias("qe"),
            F.col("toks").alias("qt"),
            V.norm2("embedding").alias("qn"),
        )
    )
    union_sz = F.size(F.array_union(F.col("qt"), F.col("ct")))
    s = cand.join(F.broadcast(q), F.col("cid") != F.col("qid")).select(
        "qid",
        "cid",
        (V.dot("qe", "ce") / (F.col("qn") * F.col("cn"))).alias("cos"),
        F.when(
            union_sz > 0,
            F.size(F.array_intersect(F.col("qt"), F.col("ct"))).cast("double")
            / union_sz.cast("double"),
        )
        .otherwise(0.0)
        .alias("jac"),
    )
    wv = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("cid"))
    wl = Window.partitionBy("qid").orderBy(F.col("jac").desc(), F.col("cid"))
    fused = (
        s.withColumn("rv", F.row_number().over(wv))
        .withColumn("rl", F.row_number().over(wl))
        .select(
            F.col("qid").alias("query_id"),
            F.col("cid").alias("cand_id"),
            (
                F.lit(1.0) / (F.lit(_RRF_K) + F.col("rv"))
                + F.lit(1.0) / (F.lit(_RRF_K) + F.col("rl"))
            ).alias("rrf"),
        )
    )
    wf = Window.partitionBy("query_id").orderBy(F.col("rrf").desc(), F.col("cand_id"))
    return (
        fused.withColumn("rank", F.row_number().over(wf).cast("bigint"))
        .filter(F.col("rank") <= 10)
    )




_DE_SAMPLE = 300  # dedup-eval audit sample: doc_id < 300
_DE_BANDS = 4
_DE_ROWS = 2  # same banding as q_dedup_minhash_md5


def _sql_dedup_eval() -> str:
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.dedup import (
        _sql_band_keys,
    )
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.functions.portable_hash import (
        SQL_TOKS_EXPR,
        sql_md5_int,
    )

    return f"""
    WITH smp AS (
      SELECT doc_id, text FROM documents WHERE doc_id < {_DE_SAMPLE}
    ),
    sh AS (
      SELECT doc_id,
        list_distinct(list_transform(
          list_transform(
            generate_series(1, greatest(length(toks) - 2, 0)),
            i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]),
          s -> {sql_md5_int('s')})) AS shingles
      FROM (SELECT doc_id, {SQL_TOKS_EXPR} AS toks FROM smp)
    ),
    shn AS (SELECT * FROM sh WHERE length(shingles) > 0),
    {_sql_band_keys(n_bands=_DE_BANDS, rows_per_band=_DE_ROWS)},
    truth AS (
      SELECT a.doc_id AS a, b.doc_id AS b
      FROM shn a JOIN shn b ON a.doc_id < b.doc_id
      WHERE length(list_intersect(a.shingles, b.shingles)) * 4
            >= length(list_distinct(list_concat(a.shingles, b.shingles)))
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
      FROM bk a JOIN bk b ON a.band = b.band AND a.key = b.key
                         AND a.doc_id < b.doc_id
    ),
    m AS (
      SELECT
        (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_truth,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM cand) AS n_candidates,
        (SELECT CAST(COUNT(*) AS BIGINT)
         FROM cand JOIN truth USING (a, b)) AS tp
    )
    SELECT n_truth, n_candidates, tp,
      CASE WHEN n_candidates > 0
        THEN CAST(tp AS DOUBLE) / n_candidates ELSE 0.0 END AS precision,
      CASE WHEN n_truth > 0
        THEN CAST(tp AS DOUBLE) / n_truth ELSE 0.0 END AS recall
    FROM m
    """


@register("q_dedup_eval", oracle=_sql_dedup_eval())
def q_dedup_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-estimator quality audit: precision/recall of the MinHash
    band candidates (the production q_dedup_minhash_md5 banding — 4
    bands × 2 rows) against exhaustive-pair ground truth at Jaccard ≥
    1/4, on a bounded audit sample (doc_id < 300).  This is the
    measurement a pipeline owner runs before trusting a banding
    config: recall says what fraction of true near-dups the buckets
    can ever surface; precision says how much verify work is wasted.

    The all-pairs ground truth is O(sample²) BY DESIGN and therefore
    runs on the bounded sample only — the production path stays the
    banded join; the audit's cost is sample-bounded regardless of
    corpus size (the same sample-audit shape as q_sim_topk's
    broadcast-bounded query set).  Everything is engine-portable
    integer arithmetic on md5-derived shingle ids (the dedup.py
    machinery), so even the bucket CONTENTS are oracle-checked, and
    the Jaccard threshold compares via integer cross-multiplication."""
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.dedup import (
        _md5_band_keys,
        md5_shingle_rows,
    )

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < _DE_SAMPLE
    )
    ex = md5_shingle_rows(docs, 3)
    sh = ex.groupBy("id").agg(F.collect_set("h").alias("shingles"))
    a = sh.select(F.col("id").alias("a"), F.col("shingles").alias("sa"))
    b = sh.select(F.col("id").alias("b"), F.col("shingles").alias("sb"))
    inter = F.size(F.array_intersect(F.col("sa"), F.col("sb")))
    union = F.size(F.array_union(F.col("sa"), F.col("sb")))
    truth = (
        a.join(b, F.col("a") < F.col("b"))
        .filter(inter * 4 >= union)
        .select("a", "b")
    )
    bk = _md5_band_keys(ex, n_bands=_DE_BANDS, rows_per_band=_DE_ROWS)
    ka = bk.select(F.col("id").alias("a"), "band", "key")
    kb = bk.select(F.col("id").alias("b"), "band", "key")
    cand = (
        ka.join(kb, ["band", "key"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    tp = cand.join(truth, ["a", "b"])
    counts = (
        truth.agg(F.count(F.lit(1)).alias("n_truth"))
        .crossJoin(cand.agg(F.count(F.lit(1)).alias("n_candidates")))
        .crossJoin(tp.agg(F.count(F.lit(1)).alias("tp")))
    )
    return counts.select(
        "n_truth",
        "n_candidates",
        "tp",
        F.when(
            F.col("n_candidates") > 0,
            F.col("tp").cast("double") / F.col("n_candidates"),
        )
        .otherwise(0.0)
        .alias("precision"),
        F.when(F.col("n_truth") > 0, F.col("tp").cast("double") / F.col("n_truth"))
        .otherwise(0.0)
        .alias("recall"),
    )


_MMR_LAMBDA = 0.7
_MMR_SHORTLIST = 20
_MMR_K = 5


@register("q_mmr_diversify")  # rows-only: greedy selection is iterative
def q_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance diversification (Carbonell &
    Goldstein 1998, public): per query, greedily pick 5 of the top-20
    cosine shortlist maximizing λ·sim(q,c) − (1−λ)·max sim(c,
    selected) — the result-diversification pass a retrieval stack runs
    so near-duplicate hits don't crowd the context window.

    Scale shape: relevance shortlists come from the distributed
    exact-cosine ranking (per-query window, the q_sim_topk plan); the
    inherently SEQUENTIAL greedy step runs in an `applyInPandas`
    kernel per query group, whose input is capped at shortlist
    size × dim — bounded work per group no matter the corpus, and
    queries parallelize across groups.  Registered rows-only (greedy
    selection has no SQL twin); tests/test_evalprep.py pins that
    diversification strictly reduces intra-list similarity vs the
    plain top-5 and keeps the top-1 hit."""
    import numpy as np
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        V.norm2("embedding").alias("q_norm"),
    )
    c = emb.select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").alias("c_emb"),
        V.norm2("embedding").alias("c_norm"),
    )
    scored = c.join(F.broadcast(q), F.col("cand_id") != F.col("query_id")).select(
        "query_id",
        "cand_id",
        "c_emb",
        (V.dot("q_emb", "c_emb") / (F.col("q_norm") * F.col("c_norm"))).alias(
            "cosine"
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("cand_id")
    )
    short = scored.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= _MMR_SHORTLIST
    )

    def mmr(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("rnk").reset_index(drop=True)
        X = np.stack(pdf["c_emb"].to_numpy()).astype(np.float64)
        Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
        sims = Xn @ Xn.T  # shortlist × shortlist — bounded
        rel = pdf["cosine"].to_numpy()
        selected: list[int] = []
        rest = list(range(len(pdf)))
        while rest and len(selected) < _MMR_K:
            if selected:
                penalty = sims[np.ix_(rest, selected)].max(axis=1)
            else:
                penalty = np.zeros(len(rest))
            score = _MMR_LAMBDA * rel[rest] - (1 - _MMR_LAMBDA) * penalty
            # deterministic tie-break: higher score, then earlier rank
            best = max(range(len(rest)), key=lambda i: (score[i], -rest[i]))
            selected.append(rest.pop(best))
        out = pdf.iloc[selected][["query_id", "cand_id", "cosine"]].copy()
        out["mmr_rank"] = range(1, len(selected) + 1)
        return out

    return short.groupBy("query_id").applyInPandas(
        mmr,
        "query_id long, cand_id long, cosine double, mmr_rank int",
    )




# --------------------------------------------------------- PR curve

_PR_CUTOFFS = [10, 50, 100, 500, 1000]


@register(
    "q_pr_curve",
    oracle=f"""
    WITH ranked AS (
      SELECT event_id,
        CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS lbl,
        row_number() OVER (ORDER BY value DESC, event_id) AS rnk
      FROM events WHERE value IS NOT NULL AND event_id IS NOT NULL
    ),
    ks AS (SELECT unnest([{",".join(str(k) for k in _PR_CUTOFFS)}]) AS k),
    hits AS (
      SELECT ks.k,
        CAST(SUM(CASE WHEN r.rnk <= ks.k THEN r.lbl ELSE 0 END) AS BIGINT)
          AS n_hits,
        CAST(SUM(r.lbl) AS BIGINT) AS n_pos
      FROM ranked r CROSS JOIN ks GROUP BY ks.k
    )
    SELECT k, n_hits, n_pos,
      round(CAST(n_hits AS DOUBLE) / k, 6) AS precision_at_k,
      CASE WHEN n_pos > 0
        THEN round(CAST(n_hits AS DOUBLE) / n_pos, 6) END AS recall_at_k,
      CASE WHEN n_hits > 0 THEN
        round(2 * round(CAST(n_hits AS DOUBLE) / k, 6)
                * round(CAST(n_hits AS DOUBLE) / n_pos, 6)
              / (round(CAST(n_hits AS DOUBLE) / k, 6)
                 + round(CAST(n_hits AS DOUBLE) / n_pos, 6)), 6)
      END AS f1_at_k
    FROM hits
    """,
)
def q_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall/F1 at ranked cutoffs (the PR curve sampled at
    k ∈ {_PR_CUTOFFS}) scoring `value` as a purchase-propensity
    ranker — the threshold-sweep readout next to q_retrieval_auc's
    threshold-free rank statistic and q_eval_confusion's single
    operating point.

    Exactness: hit counts are integers; precision = hits/k and
    recall = hits/npos are integer-ratio doubles (exact division
    inputs « 2^53, identical in both engines) rounded at 6dp; F1 is
    computed FROM the rounded p/r (identical doubles) with its own
    6dp guard; n_pos = 0 and n_hits = 0 yield NULL recall/F1 instead
    of an ANSI divide-by-zero on degenerate fixtures.

    Scale: the global rank comes from ``assign_dense_ids``
    (range-partitioned parallel numbering — no single-task window
    over the event table); the cutoff sweep is ONE conditional
    aggregate over the ranked rows (map-side partials), so the whole
    curve costs one scan + one bounded agg at any corpus size, never
    a per-cutoff pass."""
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.functions.ids import (
        assign_dense_ids,
    )

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("event_id").isNotNull()
    )
    base = ev.select(
        "event_id",
        (-F.col("value")).alias("negv"),
        (F.col("event_type") == "purchase").cast("int").alias("lbl"),
    )
    # assign_dense_ids is 0-BASED (row_number − 1): rank r means r rows
    # precede it, so "in the top k" is rnk < k, not rnk <= k
    ranked = assign_dense_ids(base, ["negv", "event_id"], id_col="rnk")
    aggs = [
        F.sum(F.when(F.col("rnk") < k, F.col("lbl")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias(f"h{k}")
        for k in _PR_CUTOFFS
    ]
    one = ranked.agg(*aggs, F.sum("lbl").cast("bigint").alias("n_pos"))
    rows = one.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).cast("int").alias("k"),
                        F.col(f"h{k}").alias("n_hits"),
                        F.col("n_pos").alias("n_pos"),
                    )
                    for k in _PR_CUTOFFS
                ]
            )
        ).alias("r")
    ).select("r.k", "r.n_hits", "r.n_pos")
    # empty-input twin of the oracle's GROUP BY (zero groups → zero
    # rows): the global agg always emits one row, but its sums are
    # NULL only when events is empty
    rows = rows.filter(F.col("n_hits").isNotNull())
    p = F.round(F.col("n_hits").cast("double") / F.col("k"), 6)
    r = F.round(F.col("n_hits").cast("double") / F.col("n_pos"), 6)
    return rows.select(
        "k",
        "n_hits",
        "n_pos",
        p.alias("precision_at_k"),
        F.when(F.col("n_pos") > 0, r).alias("recall_at_k"),
        F.when(F.col("n_hits") > 0, F.round(2 * p * r / (p + r), 6)).alias(
            "f1_at_k"
        ),
    )
