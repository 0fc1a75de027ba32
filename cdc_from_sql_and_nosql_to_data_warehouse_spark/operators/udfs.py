"""Tier C UDF surface (SURVEY.md §2.3 C7): scalar pandas UDF,
grouped-agg pandas UDF, applyInPandas, mapInPandas.

UDFs are the engine's slow path by policy: everything that CAN be a
built-in expression IS one elsewhere in this package.  These operators
exist to prove the Arrow-batched Python escape hatch works and is
correct — each computes something the oracle can also express in SQL,
so the driver's value-hash check covers the whole Arrow round trip.

(pandas_udf objects are built lazily inside the query functions because
their DDL return types need an active SparkSession to parse.)
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from cdc_from_sql_and_nosql_to_data_warehouse_spark.functions.portable_hash import (
    SQL_TOKS_EXPR as _SQL_TOKS,
)
from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators import register
from cdc_from_sql_and_nosql_to_data_warehouse_spark.sources.readers import load_table


@register(
    "q_udf_scalar",
    oracle=f"""
    SELECT doc_id,
      CAST(length({_SQL_TOKS}) AS BIGINT)
        AS n_tokens
    FROM documents
    """,
)
def q_udf_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C7 scalar pandas UDF (Arrow batch transfer, ~10-100× faster than
    row-at-a-time Python UDFs per the public Spark docs).

    The kernel mirrors the engine's tokenizer class exactly: an
    explicit ``[ \\t\\n\\x0B\\f\\r]+`` split (``str.split()`` with no
    pattern splits on UNICODE whitespace — \\xa0, \\u2028 — which the
    oracle does not), and NULL text maps to NULL instead of the
    ``len(None)`` TypeError that killed the whole job (review-caught;
    nullable Int64 carries the None through Arrow)."""
    import re

    ws_run = re.compile(r"[ \t\n\x0B\f\r]+")

    @pandas_udf("long")
    def n_tokens(text: pd.Series) -> pd.Series:
        def count(t):
            if not isinstance(t, str):
                return None
            return sum(1 for x in ws_run.split(t) if x)

        return text.map(count).astype("Int64")

    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", n_tokens("text").alias("n_tokens"))


@register(
    "q_udf_grouped_agg",
    oracle="""
    SELECT lang, CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS mean_chars
    FROM documents GROUP BY lang
    """,
)
def q_udf_grouped_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C7 grouped-aggregate pandas UDF (int sums are exact in float64
    below 2^53, so the mean is deterministic and oracle-matchable)."""

    @pandas_udf("double")
    def mean_chars(n_chars: pd.Series) -> float:  # Series→scalar = grouped agg
        return float(n_chars.sum()) / len(n_chars)

    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(mean_chars("n_chars").alias("mean_chars"))


def _lang_stats(pdf: pd.DataFrame) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "lang": [pdf["lang"].iloc[0]],
            "n_docs": [len(pdf)],
            "total_chars": [int(pdf["n_chars"].sum())],
        }
    )


@register(
    "q_udf_apply_in_pandas",
    oracle="""
    SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY lang
    """,
)
def q_udf_apply_in_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C7 applyInPandas (grouped-map): whole-group pandas transform —
    the escape hatch for per-group logic Spark expressions can't say.
    Groups shuffle once on the key, then run in parallel."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("lang", "n_chars").groupBy("lang").applyInPandas(
        _lang_stats, schema="lang string, n_docs long, total_chars long"
    )


def _net_price_batches(it):
    for pdf in it:
        yield pd.DataFrame(
            {
                "l_orderkey": pdf["l_orderkey"],
                "l_linenumber": pdf["l_linenumber"],
                # identical IEEE ops to the SQL expression → identical bits
                "net_price": pdf["l_extendedprice"] * (1.0 - pdf["l_discount"]),
            }
        )


@register(
    "q_udf_map_in_pandas",
    oracle="""
    SELECT l_orderkey, l_linenumber,
      l_extendedprice * (1.0 - l_discount) AS net_price
    FROM lineitem
    """,
)
def q_udf_map_in_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C7 mapInPandas: partition-wise Arrow batch iterator — the
    multimodal decode plumbing uses the same shape (operators.multimodal)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice", "l_discount"
    )
    return li.mapInPandas(
        _net_price_batches, schema="l_orderkey long, l_linenumber int, net_price double"
    )


_MG_K = 50  # counters kept per Arrow batch (the sketch width)


def _mg_batches(batches):
    """Per-batch truncated-counter summaries (Misra-Gries/SpaceSaving
    family, public): exact value_counts within the Arrow batch —
    vectorized, no per-row Python — truncated to the top _MG_K tokens.
    A token dropped from a batch summary had count ≤ thr (the largest
    dropped count) in that batch, so Σ thr over batches bounds the
    global undercount of ANY token.  One marker row (token NULL)
    carries each batch's thr."""
    import pandas as pd  # executor-side import

    for pdf in batches:
        vc = pdf["token"].value_counts()
        if len(vc) > _MG_K:
            thr = int(vc.iloc[_MG_K])
            kept = vc.iloc[:_MG_K]
        else:
            thr = 0
            kept = vc
        yield pd.concat(
            [
                pd.DataFrame(
                    {
                        "token": kept.index.astype(str),
                        "cnt": kept.values.astype("int64"),
                        "thr": 0,
                    }
                ),
                pd.DataFrame({"token": [None], "cnt": [0], "thr": [thr]}),
            ]
        )


@register("q_heavy_hitters", oracle=None)
def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate heavy hitters (top-20 corpus tokens) with MAP-SIDE
    TRUNCATION: each Arrow batch reduces to ≤ _MG_K+1 summary rows
    before the shuffle, so the exchange carries O(K · batches) rows
    instead of |vocab|-sized hash-aggregate partials — the sketch
    analog of partial aggregation when the key domain itself is the
    problem (open-vocabulary tokens at 100 TB).

    Output: (token, est_count, max_err) where
    est_count ≤ true ≤ est_count + max_err — the classic Misra-Gries
    deterministic guarantee, derived here from exact-within-batch
    counts truncated to K, with max_err = Σ over batches of that
    batch's largest dropped count.  Rows-only (the estimate depends on
    batch boundaries); the error-bound invariant and top-10 recall are
    pinned in tests/test_mlprep.py.

    The per-batch kernel is pandas value_counts — one vectorized
    group-count per batch, no per-row Python (mapInPandas, Arrow)."""
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.functions import text as X

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(X.tokens("text")).alias("token"))
    summ = toks.mapInPandas(
        _mg_batches, schema="token string, cnt long, thr long"
    # barrier: the counts and their error bound must come from one
    # batching pass (the estimate depends on batch boundaries)
    ).localCheckpoint(eager=False)  # bounded (K+1 rows/batch); 2 consumers
    err = summ.filter(F.col("token").isNull()).agg(
        F.coalesce(F.sum("thr"), F.lit(0)).alias("max_err")
    )
    est = (
        summ.filter(F.col("token").isNotNull())
        .groupBy("token")
        .agg(F.sum("cnt").alias("est_count"))
    )
    # crossJoin BELOW the sort: output ordering is only guaranteed when
    # the top-k is the outermost operator (a join above a sort may
    # reorder rows)
    return (
        est.crossJoin(F.broadcast(err))
        .orderBy(F.desc("est_count"), F.asc("token"))
        .limit(20)
    )
