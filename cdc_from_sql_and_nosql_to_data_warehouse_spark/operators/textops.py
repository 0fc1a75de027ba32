"""Tier C text-analysis operators over the ``documents`` table
(driver north star: language-ID, quality scoring, token counting,
fingerprinting, lexicon scoring — SURVEY.md §2.3 C4/C5).

All hot-path logic is built-in column expressions from
``functions/text.py`` — no Python UDFs — so these run unchanged over
100 TB of documents with only a scan (+ one shuffle where grouped).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark.sql.window import Window

from cdc_from_sql_and_nosql_to_data_warehouse_spark.functions import text as X
from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators import register
from cdc_from_sql_and_nosql_to_data_warehouse_spark.sources.readers import load_table

# DuckDB fragment: lowercased whitespace tokens, empties removed
# (single-sourced; functions/portable_hash.py)
from cdc_from_sql_and_nosql_to_data_warehouse_spark.functions.portable_hash import (  # noqa: E402
    SQL_TOKS_EXPR as _SQL_TOKS,
    sql_bpe_toks_expr,
    sql_md5_int,
    sql_toks_expr,
)

# Stopword oracle fragment DERIVED from the one Python source of truth
# (X.STOPWORDS_EN), the way _MARKER_SQL derives from X.LANG_MARKERS —
# a hand-pasted twin literal can silently drift from the Spark-side
# list (SURVEY §2.4 deferred item, closed r9).
_SW_SQL = "[" + ",".join(f"'{w}'" for w in X.STOPWORDS_EN) + "]"


@register(
    "q_text_tokens",
    oracle=f"""
    SELECT token, COUNT(*) AS n
    FROM (SELECT unnest({_SQL_TOKS}) AS token FROM documents)
    GROUP BY token
    """,
)
def q_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 tokenize + corpus token frequencies: split → explode →
    hash-agg (partial agg makes this one shuffle of small pairs)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(X.tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "q_token_count",
    oracle=f"""
    SELECT doc_id,
      CAST(length({_SQL_TOKS}) AS BIGINT) AS n_tokens,
      CAST(length(list_distinct({_SQL_TOKS})) AS BIGINT) AS n_distinct_tokens
    FROM documents
    """,
)
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 per-document token counting (whitespace tokenizer)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        X.token_count("text").alias("n_tokens"),
        X.distinct_token_count("text").alias("n_distinct_tokens"),
    )


@register(
    "q_text_quality",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, text,
        {_SQL_TOKS} AS toks,
        CAST(length(text) AS BIGINT) AS n_char,
        CAST(length(text) - length(regexp_replace(text, '[^\\w \\t\\n\\x0B\\f\\r]', '', 'g')) AS BIGINT) AS n_punct
    FROM documents
    ), s AS (
      SELECT doc_id, n_char, n_punct, CAST(length(toks) AS BIGINT) AS n_tok,
        CAST(length(list_filter(toks, t -> list_contains(
          {_SW_SQL}, t))) AS BIGINT) AS n_sw
      FROM t
    )
    SELECT doc_id, n_char, n_tok,
      CASE WHEN n_char = 0 THEN 0.0 ELSE CAST(n_punct AS DOUBLE) / n_char END AS punct_ratio,
      CASE WHEN n_tok = 0 THEN 0.0 ELSE CAST(n_sw AS DOUBLE) / n_tok END AS stopword_ratio,
      (least(CAST(n_char AS DOUBLE) / 400.0, 1.0)
       + (1.0 - least((CASE WHEN n_char = 0 THEN 0.0 ELSE CAST(n_punct AS DOUBLE) / n_char END) * 4.0, 1.0))
       + least((CASE WHEN n_tok = 0 THEN 0.0 ELSE CAST(n_sw AS DOUBLE) / n_tok END) * 2.0, 1.0)
      ) / 3.0 AS quality
    FROM s
    """,
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 heuristic quality scoring: length / punctuation / stopword
    ratios composed into a [0,1] score (functions.text.quality_score)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.length("text").cast("bigint").alias("n_char"),
        X.token_count("text").alias("n_tok"),
        X.punct_ratio("text").alias("punct_ratio"),
        X.stopword_ratio("text").alias("stopword_ratio"),
        X.quality_score("text").alias("quality"),
    )


_MARKER_SQL = {
    lang: "[" + ", ".join(f"'{w}'" for w in words) + "]"
    for lang, words in X.LANG_MARKERS.items()
}


@register(
    "q_text_langid",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang AS labeled_lang,
        list_distinct({_SQL_TOKS}) AS toks
      FROM documents
    ), scored AS (
      SELECT doc_id, labeled_lang,
        CAST(length(list_intersect(toks, {_MARKER_SQL['en']})) AS BIGINT) AS hits_en,
        CAST(length(list_intersect(toks, {_MARKER_SQL['es']})) AS BIGINT) AS hits_es,
        CAST(length(list_intersect(toks, {_MARKER_SQL['fr']})) AS BIGINT) AS hits_fr,
        CAST(length(list_intersect(toks, {_MARKER_SQL['de']})) AS BIGINT) AS hits_de
      FROM t
    )
    SELECT doc_id, labeled_lang, hits_en, hits_es, hits_fr, hits_de,
      CASE WHEN greatest(hits_en, hits_es, hits_fr, hits_de) IS NULL
             OR greatest(hits_en, hits_es, hits_fr, hits_de) = 0 THEN 'und'
           WHEN hits_de = greatest(hits_en, hits_es, hits_fr, hits_de) THEN 'de'
           WHEN hits_en = greatest(hits_en, hits_es, hits_fr) THEN 'en'
           WHEN hits_es = greatest(hits_es, hits_fr) THEN 'es'
           ELSE 'fr'
      END AS lang_pred
    FROM scored
    """,
)
def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 language-ID heuristic: marker-word hit counts per language,
    argmax with lexicographic tie-break (functions.text.lang_id)."""
    docs = load_table(spark, sf_dir, "documents")
    scores = X.lang_scores("text")
    return docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        scores["en"].alias("hits_en"),
        scores["es"].alias("hits_es"),
        scores["fr"].alias("hits_fr"),
        scores["de"].alias("hits_de"),
        X.lang_id("text").alias("lang_pred"),
    )


# Deterministic sentiment-style lexicon (EDBT'16 broadcast-lexicon
# pattern, repo:PAPERS.md) — scores joined against exploded tokens.
LEXICON: dict[str, float] = {
    "fast": 1.0,
    "small": 0.5,
    "slow": -1.0,
    "error": -2.0,
    "query": 0.25,
    "data": 0.25,
}

_LEX_ROWS_SQL = ", ".join(f"('{w}', {s})" for w, s in LEXICON.items())


@register(
    "q_text_lexicon",
    oracle=f"""
    WITH lex(word, score) AS (VALUES {_LEX_ROWS_SQL}),
    toks AS (
      SELECT doc_id, unnest({_SQL_TOKS}) AS token FROM documents
    )
    SELECT doc_id,
      CAST(SUM(CAST(score AS DECIMAL(6,2))) AS DOUBLE) AS sentiment,
      COUNT(*) AS n_scored
    FROM toks JOIN lex ON token = word
    GROUP BY doc_id
    """,
)
def q_text_lexicon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5 lexicon scoring: explode tokens, broadcast-join the lexicon
    (tiny dimension — broadcast is the only sane plan at scale), sum
    scores per document with exact decimal accumulation."""
    docs = load_table(spark, sf_dir, "documents")
    lex = F.broadcast(
        docs.sparkSession.createDataFrame(
            [(w, s) for w, s in LEXICON.items()], "word string, score double"
        )
    )
    toks = docs.select("doc_id", F.explode(X.tokens("text")).alias("token"))
    return (
        toks.join(lex, toks["token"] == lex["word"])
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("score").cast("decimal(6,2)")).cast("double").alias("sentiment"),
            F.count(F.lit(1)).alias("n_scored"),
        )
    )


@register(
    "q_fingerprint",
    oracle="""
    SELECT doc_id,
      md5(regexp_replace(trim(lower(text)), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')) AS fp
    FROM documents
    """,
)
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 document fingerprinting: md5 of the whitespace-canonicalized
    text — the exact-dup key used by q_dedup_exact."""
    return load_table(spark, sf_dir, "documents").select(
        "doc_id", X.fingerprint("text").alias("fp")
    )


@register(
    "q_text_ngrams",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    grams AS (
      SELECT unnest(list_transform(
        generate_series(1, greatest(length(toks) - 1, 0)),
        i -> toks[i] || ' ' || toks[i+1])) AS bigram
      FROM t
    )
    SELECT bigram, COUNT(*) AS n FROM grams GROUP BY bigram HAVING COUNT(*) >= 5
    """,
)
def q_text_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 word n-grams (bigrams) with corpus frequencies — the shingle
    generator reused at n=2, token column materialized first (see
    functions.text.word_shingles note)."""
    docs = load_table(spark, sf_dir, "documents")
    grams = (
        docs.select(X.tokens("text").alias("toks"))
        .select(F.explode(X.word_shingles("toks", 2)).alias("bigram"))
    )
    return grams.groupBy("bigram").agg(F.count(F.lit(1)).alias("n")).filter(F.col("n") >= 5)


@register(
    "q_text_tfidf",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
        unnest({_SQL_TOKS}) AS token
      FROM documents
    ),
    tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY doc_id, token),
    df AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY token),
    n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT tf.doc_id, tf.token, tf.tf,
      round(tf.tf * round(ln(CAST(n.n_docs AS DOUBLE) / df.df), 6), 6) AS tfidf
    FROM tf JOIN df ON tf.token = df.token CROSS JOIN n
    WHERE tf.tf >= 3
    """,
)
def q_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 TF-IDF: term frequency per doc × ln(N/df).  Three hash-aggs;
    the token→df join is unhinted because the vocabulary grows with the
    corpus (a hard broadcast of df would OOM at 100 TB) — AQE broadcasts
    while it fits and shuffles on `token` once it doesn't.  idf is
    rounded to 6dp on both engines before the multiply so libm ulp
    differences can't leak."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(X.tokens("text")).alias("token"))
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df_ = toks.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    idf = F.round(F.log(F.col("n_docs").cast("double") / F.col("df")), 6)
    return (
        tf.join(df_, "token")
        .crossJoin(F.broadcast(n))
        .filter(F.col("tf") >= 3)
        .select(
            "doc_id",
            "token",
            "tf",
            F.round(F.col("tf") * idf, 6).alias("tfidf"),
        )
    )


@register(
    "q_udtf_tokens",
    oracle=f"""
    SELECT doc_id, unnest({_SQL_TOKS}) AS token FROM documents WHERE doc_id < 50
    """,
)
def q_udtf_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C7 Python UDTF (Spark 3.4+): one input row → N output rows.  The
    built-in explode covers this case (q_text_tokens); the UDTF exists
    to prove the table-function surface."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id bigint, token string")
    class SplitTokens:
        def eval(self, doc_id: int, text: str):
            if text is None:  # oracle's unnest(NULL) emits zero rows
                return
            for tok in text.lower().split():
                if tok:
                    yield doc_id, tok

    spark.udtf.register("split_tokens", SplitTokens)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(
        "SELECT s.doc_id, s.token FROM documents, "
        "LATERAL split_tokens(doc_id, text) s WHERE documents.doc_id < 50"
    )


@register(
    "q_token_count_bpe",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
        {sql_bpe_toks_expr()} AS toks
      FROM documents
    )
    SELECT doc_id, CAST(length(toks) AS BIGINT) AS n_bpe_tokens
    FROM t
    """,
)
def q_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 BPE-ish token counting: GPT-2-style pre-tokenizer shape
    (punctuation split from word pieces) — the training-data budget
    counter.  Pure regex + split column expressions; the oracle
    replicates the same regex in DuckDB."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", F.size(X.bpe_ish_tokens("text")).cast("bigint").alias("n_bpe_tokens"))


@register(
    "q_corpus_curation",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, text,
        {_SQL_TOKS} AS toks,
        CAST(length(text) AS BIGINT) AS n_char,
        CAST(length(text) - length(regexp_replace(text, '[^\\w \\t\\n\\x0B\\f\\r]', '', 'g')) AS BIGINT) AS n_punct,
        md5(regexp_replace(trim(lower(text)), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')) AS fp
      FROM documents
    ), surv AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn FROM t
      ) WHERE rn = 1
    ), s AS (
      SELECT doc_id, n_char, n_punct,
        CAST(length(toks) AS BIGINT) AS n_tok,
        CAST(length(list_filter(toks, t -> list_contains({_SW_SQL}, t))) AS BIGINT) AS n_sw,
        list_distinct(toks) AS dtoks
      FROM surv
    ), q AS (
      SELECT doc_id, n_tok,
        (least(CAST(n_char AS DOUBLE) / 400.0, 1.0)
         + (1.0 - least((CASE WHEN n_char = 0 THEN 0.0 ELSE CAST(n_punct AS DOUBLE) / n_char END) * 4.0, 1.0))
         + least((CASE WHEN n_tok = 0 THEN 0.0 ELSE CAST(n_sw AS DOUBLE) / n_tok END) * 2.0, 1.0)
        ) / 3.0 AS quality,
        CAST(length(list_intersect(dtoks, {_MARKER_SQL['en']})) AS BIGINT) AS h_en,
        CAST(length(list_intersect(dtoks, {_MARKER_SQL['es']})) AS BIGINT) AS h_es,
        CAST(length(list_intersect(dtoks, {_MARKER_SQL['fr']})) AS BIGINT) AS h_fr,
        CAST(length(list_intersect(dtoks, {_MARKER_SQL['de']})) AS BIGINT) AS h_de
      FROM s
    )
    SELECT doc_id, n_tok, quality
    FROM q
    WHERE greatest(h_en, h_es, h_fr, h_de) > 0
      AND h_de <> greatest(h_en, h_es, h_fr, h_de)
      AND h_en = greatest(h_en, h_es, h_fr)
      AND quality >= 0.45
      AND n_tok BETWEEN 30 AND 20000
    """,
)
def q_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1+C4 composite corpus-curation pipeline — the end-to-end
    training-data filter chain in ONE declarative plan: exact-dup
    survivor (min doc_id per md5 fingerprint) → language gate
    (marker-argmax = 'en') → quality gate (>= 0.45) → length gate
    (30..20000 tokens).

    Composition costs one window shuffle (the dedup survivor pick);
    every gate after it is a scan-local column predicate, so the whole
    curation of a 100 TB corpus is one shuffle + one filtered pass —
    the reason declarative beats per-stage materialization.  The
    oracle replays the identical chain in DuckDB, including the
    tie-break semantics of the language argmax."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy(X.fingerprint("text")).orderBy("doc_id")
    surv = docs.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return (
        surv.select(
            "doc_id",
            X.token_count("text").alias("n_tok"),
            X.quality_score("text").alias("quality"),
            X.lang_id("text").alias("lang_pred"),
        )
        .filter(
            (F.col("lang_pred") == "en")
            & (F.col("quality") >= 0.45)
            & F.col("n_tok").between(30, 20000)
        )
        .select("doc_id", "n_tok", "quality")
    )


@register(
    "q_bpe_pair_freqs",
    oracle=f"""
    WITH toks AS (
      SELECT {_SQL_TOKS} AS toks FROM documents
    ), pairs AS (
      SELECT unnest(list_transform(
        generate_series(1, greatest(length(toks) - 1, 0)),
        i -> toks[i] || ' ' || toks[i+1])) AS pair
      FROM toks
    )
    SELECT pair, COUNT(*) AS n
    FROM pairs GROUP BY pair
    ORDER BY n DESC, pair LIMIT 50
    """,
)
def q_bpe_pair_freqs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 BPE merge-candidate statistics: the 50 most frequent adjacent
    token pairs over the corpus — the inner loop of byte-pair-encoding
    vocabulary induction, run as explode + hash-agg + top-k.  Partial
    aggregation keeps the shuffle at one row per (partition, pair);
    the limit is TakeOrderedAndProject (per-partition heaps), so a
    vocabulary round over 100 TB is a scan + one small exchange —
    the reason BPE stats belong in the engine, not a driver loop."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = docs.select(X.tokens("text").alias("toks")).select(
        F.explode(X.word_shingles(F.col("toks"), 2)).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(50)
    )


@register(
    "q_token_entropy",
    oracle=f"""
    WITH ex AS (
      SELECT source, unnest({_SQL_TOKS}) AS tok FROM documents
    ),
    cnt AS (SELECT source, tok, COUNT(*) AS c FROM ex GROUP BY source, tok),
    tot AS (
      SELECT source, CAST(SUM(c) AS BIGINT) AS t, COUNT(*) AS vocab
      FROM cnt GROUP BY source
    )
    SELECT cnt.source, t AS n_tokens, vocab,
      round(-list_reduce(
        list_prepend(CAST(0 AS DOUBLE),
          list_sort(list((CAST(c AS DOUBLE) / t) * round(ln(CAST(c AS DOUBLE) / t), 6)))),
        (x, y) -> x + y), 6) AS entropy
    FROM cnt JOIN tot USING (source)
    GROUP BY cnt.source, t, vocab
    """,
)
def q_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 per-source token-distribution Shannon entropy
    (H = -Σ p·ln p): the diversity signal a mixture designer reads
    next to q_dataset_mixture's counts — a source whose entropy
    collapses is boilerplate/templated (near-duplicate mass) even when
    its document count looks healthy; a source with unusually high
    entropy is noise/OCR garbage.  Gopher's diversity analyses use
    exactly this shape (public).

    Plan: explode → (source, token) hash-agg (map-side partials soak
    the Zipf head) → per-source totals → one more bounded aggregate.
    The entropy sum folds over SORTED p·ln p terms so partition order
    never changes the double (per-source vocabulary is bounded by the
    corpus vocabulary — collect_list here holds |vocab(source)|
    doubles, ~10^5-10^6 at web scale, single-digit MB per group; if a
    source's vocabulary outgrew that, the fallback is a plain F.sum
    with a wider round guard).  p = c/t divides exact integers; only
    ln() needs the 6dp libm guard (the q_feature_drift policy)."""
    docs = load_table(spark, sf_dir, "documents")
    ex = docs.select("source", F.explode(X.tokens("text")).alias("tok"))
    cnt = ex.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("c"))
    tot = cnt.groupBy("source").agg(
        F.sum("c").alias("t"), F.count(F.lit(1)).alias("vocab")
    )
    p = F.col("c").cast("double") / F.col("t")
    return (
        cnt.join(tot, "source")
        # the docstring's 6dp libm guard was claimed but not applied
        # (review-caught: 410/5000 ln values differ bitwise JVM-vs-
        # DuckDB); round ln BEFORE the product like every sibling op
        .select("source", "t", "vocab", (p * F.round(F.log(p), 6)).alias("term"))
        .groupBy("source", F.col("t").alias("n_tokens"), "vocab")
        .agg(
            F.round(
                -F.aggregate(
                    F.array_sort(F.collect_list("term")),
                    F.lit(0.0),
                    lambda a, x: a + x,
                ),
                6,
            ).alias("entropy")
        )
    )


@register(
    "q_pmi_skipgram",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
    ),
    pos AS (
      SELECT toks, unnest(generate_series(1, length(toks))) AS i FROM toks
    ),
    pr AS (
      SELECT toks[i] AS w1, toks[i + k] AS w2
      FROM pos CROSS JOIN (SELECT unnest(generate_series(1, 3)) AS k)
      WHERE i + k <= length(toks)
    ),
    cp AS (SELECT w1, w2, COUNT(*) AS c FROM pr GROUP BY w1, w2),
    uni AS (
      SELECT t AS w, COUNT(*) AS c
      FROM (SELECT unnest(toks) AS t FROM toks) GROUP BY t
    ),
    tot AS (SELECT CAST(SUM(c) AS DOUBLE) AS n FROM uni),
    ptot AS (SELECT CAST(SUM(c) AS DOUBLE) AS p FROM cp)
    SELECT w1, w2, cp.c AS n_pair,
      round(ln((cp.c / p) / ((u1.c / n) * (u2.c / n))), 6) AS pmi
    FROM cp
    JOIN uni u1 ON w1 = u1.w
    JOIN uni u2 ON w2 = u2.w
    CROSS JOIN tot CROSS JOIN ptot
    WHERE cp.c >= 5
    ORDER BY pmi DESC, w1, w2 LIMIT 50
    """,
)
def q_pmi_skipgram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 association mining: top-50 skip-gram pairs (window ≤ 3,
    directional) by pointwise mutual information — the collocation
    detector behind phrase induction ("new york"), tokenizer merge
    seeding, and topic drift analysis.  Min joint count 5 suppresses
    the low-count PMI explosion (standard practice, public).

    Plan: pair generation is a double explode in flat codegen (no
    per-doc lambdas); joint and unigram counts are two hash aggregates
    with map-side partials soaking the Zipf head; the PMI join touches
    the vocabulary-sized tables only (pairs ⋈ unigrams ×2, unhinted —
    AQE broadcasts while they fit) plus two 1-row totals.  The top-50
    is TakeOrderedAndProject on the ROUNDED pmi with (w1, w2)
    tiebreak, so both engines rank identically.  Probability ratios
    divide exact integer-derived doubles; only ln carries the 6dp
    guard."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(X.tokens("text").alias("toks"))
    # generate ONLY in-bounds (i, k) pairs: i ≤ size−1, k ≤ min(3,
    # size−i).  The previous explode-then-filter form evaluated
    # element_at on out-of-range indexes for empty documents (Spark's
    # sequence(1, 0) is the DESCENDING [1, 0]) and crashed the job
    # under ANSI (review/fixture-caught); bounded sequences also skip
    # the wasted ×3 explode-and-discard on short tails.
    pos = (
        toks.filter(F.size("toks") >= 2)
        .select("toks", F.explode(F.sequence(F.lit(1), F.size("toks") - 1)).alias("i"))
    )
    pr = (
        pos.select(
            "toks",
            "i",
            F.explode(
                F.sequence(
                    F.lit(1), F.least(F.lit(3), F.size("toks") - F.col("i"))
                )
            ).alias("k"),
        )
        .select(
            F.element_at("toks", F.col("i")).alias("w1"),
            F.element_at("toks", F.col("i") + F.col("k")).alias("w2"),
        )
    )
    cp = pr.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c"))
    uni = (
        toks.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("uc"))
    )
    tot = uni.agg(F.sum("uc").cast("double").alias("n"))
    ptot = cp.agg(F.sum("c").cast("double").alias("p"))
    u1 = uni.select(F.col("w").alias("uw1"), F.col("uc").alias("c1"))
    u2 = uni.select(F.col("w").alias("uw2"), F.col("uc").alias("c2"))
    return (
        cp.filter(F.col("c") >= 5)
        .join(u1, F.col("w1") == F.col("uw1"))
        .join(u2, F.col("w2") == F.col("uw2"))
        .join(F.broadcast(tot))
        .join(F.broadcast(ptot))
        .select(
            "w1",
            "w2",
            F.col("c").alias("n_pair"),
            F.round(
                F.log(
                    (F.col("c") / F.col("p"))
                    / ((F.col("c1") / F.col("n")) * (F.col("c2") / F.col("n")))
                ),
                6,
            ).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), "w1", "w2")
        .limit(50)
    )


@register(
    "q_source_overlap",
    oracle=f"""
    WITH st AS (
      SELECT DISTINCT source, tok FROM (
        SELECT source, unnest({_SQL_TOKS}) AS tok FROM documents
      )
    ),
    sizes AS (SELECT source, COUNT(*) AS n FROM st GROUP BY source),
    inter AS (
      SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_common
      FROM st a JOIN st b ON a.tok = b.tok AND a.source < b.source
      GROUP BY a.source, b.source
    )
    SELECT src_a, src_b, n_common,
      round(CAST(n_common AS DOUBLE)
            / (sa.n + sb.n - n_common), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON src_a = sa.source
    JOIN sizes sb ON src_b = sb.source
    ORDER BY jaccard DESC, src_a, src_b LIMIT 50
    """,
)
def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source vocabulary overlap (pairwise Jaccard over distinct
    token sets, top-50): the "which crawls cover the same material"
    diagnostic a mixture designer reads before weighting sources — two
    sources with near-1 vocabulary Jaccard are probably mirrors and
    double-count their domain (the corpus-level cousin of document
    near-dup detection).

    Plan: the (source, token) distinct is one hash-agg over the
    exploded corpus; the pairwise intersection joins on the TOKEN
    (vocabulary-keyed, Zipf head soaked by map-side distinct), and the
    pair aggregate is bounded by |sources|² — never an all-pairs
    document comparison.  Jaccard divides exact integer counts with a
    6dp belt; ranking uses the rounded value with a deterministic
    (src_a, src_b) tiebreak."""
    docs = load_table(spark, sf_dir, "documents")
    st = (
        docs.select("source", F.explode(X.tokens("text")).alias("tok"))
        .distinct()
        # consumed by sizes AND both sides of the pair join (CSE
        # policy; vocabulary-sized after the distinct)
        # A/B: sf0.1 q_source_overlap 0.53 s with it vs 0.75 s without (IQR 0.07, 5/5 pairs)
        .localCheckpoint(eager=False)
    )
    sizes = st.groupBy(F.col("source").alias("s")).agg(F.count(F.lit(1)).alias("n"))
    a = st.select(F.col("source").alias("src_a"), "tok")
    b = st.select(F.col("source").alias("src_b"), F.col("tok").alias("tok_b"))
    inter = (
        a.join(b, (F.col("tok") == F.col("tok_b")) & (F.col("src_a") < F.col("src_b")))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("s").alias("sa"), F.col("n").alias("na"))
    sb = sizes.select(F.col("s").alias("sb"), F.col("n").alias("nb"))
    return (
        inter.join(sa, F.col("src_a") == F.col("sa"))
        .join(sb, F.col("src_b") == F.col("sb"))
        .select(
            "src_a",
            "src_b",
            "n_common",
            F.round(
                F.col("n_common").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
        .orderBy(F.desc("jaccard"), "src_a", "src_b")
        .limit(50)
    )


# Fixed ordered merge table for the BPE APPLY demo: two character
# merges, then merges over already-merged symbols (real BPE is exactly
# this — later merges reference earlier outputs).
_BPE_MERGES = [
    ("t", "a"), ("l", "e"), ("ta", "b"), ("tab", "le"), ("v", "a"), ("va", "l"),
]


def _sql_bpe_chain(expr: str) -> str:
    for a, b in _BPE_MERGES:
        expr = f"replace({expr}, ' {a} {b} ', ' {a}{b} ')"
    return expr


_SQL_CHARS = "' ' || trim(regexp_replace(tok, '(?s)(.)', '\\1 ', 'g')) || ' '"
_SQL_MERGED = _sql_bpe_chain(_SQL_CHARS)


@register(
    "q_bpe_apply",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_SQL_TOKS}) AS tok,
        generate_subscripts({_SQL_TOKS}, 1) AS pos
      FROM documents
    )
    SELECT doc_id, CAST(pos AS BIGINT) AS pos, tok,
      trim({_SQL_MERGED}) AS merged,
      CAST(length(string_split(trim({_SQL_MERGED}), ' ')) AS BIGINT)
        AS n_units
    FROM toks
    """,
)
def q_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 BPE tokenizer APPLY (not just the pair statistics): split
    each token to characters, then apply the ordered merge table with
    greedy left-to-right replace rounds — later merges consume earlier
    merges' symbols, exactly byte-pair-encoding's apply loop (public
    algorithm; q_bpe_pair_freqs is the corresponding LEARN step).
    Emits the merged symbol sequence and its unit count per token.

    Plan: the whole apply is a chain of |merges| literal string
    replaces inside ONE whole-stage-codegen projection — zero
    shuffles, zero Python; at 100 TB it is a map-only pass whose cost
    is linear in corpus bytes.  Cross-engine: replace-all rescans
    AFTER each substitution in both engines (probed on the alternating
    ' t a t a ' case — both yield ' ta t a ta '... pattern), so greedy
    merge outputs are byte-identical."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(X.tokens("text")).alias("pos0", "tok")
    ).select("doc_id", (F.col("pos0") + 1).cast("bigint").alias("pos"), "tok")
    spaced = F.concat(
        F.lit(" "), F.trim(F.regexp_replace("tok", "(?s)(.)", "$1 ")), F.lit(" ")
    )
    merged = spaced
    for a, b in _BPE_MERGES:
        merged = F.replace(merged, F.lit(f" {a} {b} "), F.lit(f" {a}{b} "))
    merged = F.trim(merged)
    return toks.select(
        "doc_id",
        "pos",
        "tok",
        merged.alias("merged"),
        F.size(F.split(merged, " ")).cast("bigint").alias("n_units"),
    )


# ---------------------------------------------------------------- BPE train
#
# Full merge-SELECTION loop (Sennrich et al. 2016, public): unlike
# q_bpe_pair_freqs (one round of pair stats) and q_bpe_apply (a GIVEN
# merge table), this trains the merge table itself — N unrolled rounds
# of count-pairs → argmax → rewrite.  The scalable formulation is the
# classic one: train on the aggregated WORD-FREQUENCY table, not the
# raw corpus — one corpus scan produces (word, count), bounded by the
# language's vocabulary (capped to the top _BPE_V here), and every
# iteration then runs on that bounded table.  Rewriting the corpus per
# merge round would be the 100 TB anti-pattern.
_BPE_V = 2000  # head-vocabulary cap (count desc, word asc — deterministic)
_BPE_ROUNDS = 3

_SQL_SYM = "' ' || trim(regexp_replace(tok, '(?s)(.)', '\\1 ', 'g')) || ' '"


def _sql_bpe_round(k: int) -> str:
    """One unrolled train round in DuckDB: pair counts weighted by word
    frequency, deterministic argmax (n DESC, pair ASC), merge via the
    same non-overlapping left-to-right replace both engines implement."""
    return f"""
    p{k} AS (
      SELECT pair, CAST(SUM(c) AS BIGINT) AS n FROM (
        SELECT unnest(list_transform(
          generate_series(1, greatest(length(s) - 1, 0)),
          i -> s[i] || ' ' || s[i+1])) AS pair, c
        FROM (SELECT string_split(trim(w), ' ') AS s, c FROM w{k - 1})
      ) GROUP BY pair
    ),
    b{k} AS (SELECT pair, n FROM p{k} ORDER BY n DESC, pair LIMIT 1),
    w{k} AS (
      SELECT replace(w, ' ' || pair || ' ',
                     ' ' || replace(pair, ' ', '') || ' ') AS w, c
      FROM w{k - 1} CROSS JOIN b{k}
    )"""


@register(
    "q_bpe_train",
    oracle=f"""
    WITH w0 AS (
      SELECT {_SQL_SYM} AS w, c FROM (
        SELECT tok, COUNT(*) AS c FROM (
          SELECT unnest({_SQL_TOKS}) AS tok FROM documents
        ) GROUP BY tok ORDER BY c DESC, tok LIMIT {_BPE_V}
      )
    ),
    {",".join(_sql_bpe_round(k) for k in range(1, _BPE_ROUNDS + 1))}
    {" UNION ALL ".join(
        f"SELECT {k} AS step, pair AS merge_pair, n AS freq FROM b{k}"
        for k in range(1, _BPE_ROUNDS + 1)
    )}
    """,
)
def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 BPE vocabulary TRAINING: {_BPE_ROUNDS} unrolled merge rounds
    over the word-frequency table.  Each round is (a) adjacent-pair
    counts weighted by word frequency — explode + hash-agg with
    map-side partials, input bounded by the vocab cap; (b) a
    deterministic argmax via min(struct(-n, pair)) — no sort, one row
    out; (c) a corpus-free merge: the 1-row winner broadcasts onto the
    vocab table and merges via the same left-to-right non-overlapping
    ``replace`` both engines implement (the q_bpe_apply machinery).

    100 TB plan: the corpus is scanned ONCE (word counts); every
    iteration runs on ≤ {_BPE_V} rows.  The trained merge table feeds
    q_bpe_apply unchanged.  Reference anchor: the warehouse exists to
    serve downstream consumers (README.md:3); tokenizer induction is
    the training-pipeline consumer's first step."""
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(X.tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("tok"))
        .limit(_BPE_V)
    )
    w = words.select(
        F.concat(
            F.lit(" "),
            F.trim(F.regexp_replace(F.col("tok"), "(?s)(.)", "$1 ")),
            F.lit(" "),
        ).alias("w"),
        "c",
    # barrier: the BPE loop's initial state
    ).localCheckpoint(eager=False)

    steps = []
    for k in range(1, _BPE_ROUNDS + 1):
        arr = F.split(F.trim(F.col("w")), " ")
        pairs = F.when(
            F.size(arr) >= 2,
            F.expr(
                "transform(sequence(1, size(split(trim(w), ' ')) - 1),"
                " i -> concat(element_at(split(trim(w), ' '), i), ' ',"
                " element_at(split(trim(w), ' '), i + 1)))"
            ),
        ).otherwise(F.array().cast("array<string>"))
        counted = (
            w.select(F.explode(pairs).alias("pair"), "c")
            .groupBy("pair")
            .agg(F.sum("c").alias("n"))
        )
        best = counted.agg(
            F.min(F.struct((-F.col("n")).alias("neg"), F.col("pair"))).alias("m")
        ).select(
            F.lit(k).alias("step"),
            F.col("m.pair").alias("merge_pair"),
            (-F.col("m.neg")).alias("freq"),
        )
        # a round with no adjacent pairs yields ONE all-NULL row from
        # the global min (the oracle's LIMIT 1 yields zero rows) — drop
        # it so exhausted corpora terminate cleanly on both engines
        best = best.filter(F.col("merge_pair").isNotNull())
        # barrier: the loop state: consumed by the output AND the next round
        best = best.localCheckpoint(eager=False)  # consumed by output AND next round
        steps.append(best)
        w = (
            w.join(F.broadcast(best.select("merge_pair")))
            .select(
                F.expr(
                    "replace(w, ' ' || merge_pair || ' ',"
                    " ' ' || replace(merge_pair, ' ', '') || ' ')"
                ).alias("w"),
                "c",
            )
            # barrier: the loop state, truncated every round
            .localCheckpoint(eager=False)
        )
    out = steps[0]
    for s in steps[1:]:
        out = out.unionAll(s)
    return out


_BM25_TERMS = ("spark", "merge", "window")
_BM25_TERMS_SQL = "('spark', 'merge', 'window')"


@register(
    "q_bm25_search",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
    ),
    stats AS (
      SELECT COUNT(*) AS n_docs, SUM(length(toks)) AS l_total FROM d
    ),
    tf AS (
      SELECT doc_id, token, COUNT(*) AS tf, MAX(dl) AS dl
      FROM (
        SELECT doc_id, length(toks) AS dl, unnest(toks) AS token FROM d
      )
      WHERE token IN {_BM25_TERMS_SQL}
      GROUP BY doc_id, token
    ),
    df AS (
      SELECT token, COUNT(*) AS df FROM tf GROUP BY token
    ),
    scored AS (
      SELECT tf.doc_id,
        round(
          round(ln((CAST(n_docs - df AS DOUBLE) + 0.5) / (df + 0.5) + 1), 6)
          * ((44.0 * tf * l_total)
             / (20.0 * tf * l_total + 6.0 * l_total + 18.0 * dl * n_docs)),
          6) AS s
      FROM tf JOIN df USING (token) CROSS JOIN stats
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
      list_reduce(list_prepend(CAST(0 AS DOUBLE), list_sort(list(s))),
                  (a, b) -> a + b) AS bm25
    FROM scored GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id LIMIT 10
    """,
)
def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 full-text retrieval: BM25 top-10 documents for a bag-of-words
    query (Robertson/Sparck-Jones BM25, Lucene idf form; k1=1.2,
    b=0.75) — the keyword-search complement of q_text_tfidf's
    weighting.

    Scale design: the token filter runs INSIDE the array before the
    explode (``F.filter`` then ``explode``), so the shuffle carries at
    most |query terms| rows per document, never the full posting lists
    — the streaming analog of consulting an inverted index only at the
    query's terms.  df is |terms| rows (broadcast); corpus stats (N,
    total length) are one 1-row aggregate.  Top-k is
    TakeOrderedAndProject (per-partition heads + driver merge), not a
    global sort.

    Engine-exactness: with k1=6/5, b=3/4 and avgdl=L/N, the per-term
    kernel reduces to idf · 44·tf·L / (20·tf·L + 6·L + 18·dl·N) — one
    double division of exact integers, so both engines compute
    bit-identical ratios; idf is rounded to 6dp after ln (libm ulp
    guard, q_text_tfidf precedent) and the per-doc sum is a left fold
    over the SORTED per-term scores (q_embedding_centroids precedent).

    Reference anchor: the warehouse exists "for easy querying"
    (/root/reference/README.md:3); retrieval over the document corpus
    is the C4 extension of that surface.
    """
    docs = load_table(spark, sf_dir, "documents")
    # tokenize ONCE: both tf and the corpus stats consume this
    # projection, and without the checkpoint Catalyst re-runs the
    # whole scan+tokenize per consumer (no cross-branch CSE) — the
    # q_text_tfidf/q_lm_score single-scan policy
    tokd = docs.select(
        "doc_id",
        X.tokens("text").alias("toks"),
    # A/B: sf0.1 q_bm25_search 0.64 s with it vs 0.93 s without (IQR 0.14, 4/5 pairs)
    ).localCheckpoint(eager=False)
    toks = tokd.select(
        "doc_id",
        F.size("toks").cast("bigint").alias("dl"),
        F.explode(
            F.filter("toks", lambda t: t.isin(*_BM25_TERMS))
        ).alias("token"),
    )
    tf = toks.groupBy("doc_id", "token").agg(
        F.count(F.lit(1)).alias("tf"), F.max("dl").alias("dl")
    )
    df_ = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    stats = tokd.select(F.size("toks").cast("bigint").alias("dl")).agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("l_total")
    )
    idf6 = F.round(
        F.log(
            ((F.col("n_docs") - F.col("df")).cast("double") + F.lit(0.5))
            / (F.col("df") + F.lit(0.5))
            + F.lit(1.0)
        ),
        6,
    )
    # double arithmetic from the first multiply (same order both
    # engines → still bit-identical): the int64 form 44·tf·l_total
    # overflows at the ~1e13-token corpora this operator targets
    # (review-caught; ANSI-on raises, ANSI-off silently wraps)
    ratio = (F.lit(44.0) * F.col("tf") * F.col("l_total")) / (
        F.lit(20.0) * F.col("tf") * F.col("l_total")
        + F.lit(6.0) * F.col("l_total")
        + F.lit(18.0) * F.col("dl") * F.col("n_docs")
    )
    scored = (
        tf.join(F.broadcast(df_), "token")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", F.round(idf6 * ratio, 6).alias("s"))
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_terms"),
            F.aggregate(
                F.sort_array(F.collect_list("s")),
                F.lit(0.0),
                lambda a, b: a + b,
            ).alias("bm25"),
        )
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(10)
    )


# --------------------------------------------------------- vocab coverage


_VOCAB_TOP = 100


@register(
    "q_vocab_coverage",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_SQL_TOKS}) AS token FROM documents
    ),
    vocab AS (
      SELECT token FROM (
        SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM tok GROUP BY token
      ) ORDER BY cnt DESC, token LIMIT {_VOCAB_TOP}
    ),
    per_doc AS (
      SELECT t.doc_id,
        CAST(COUNT(*) AS BIGINT) AS n_tokens,
        CAST(COUNT(v.token) AS BIGINT) AS n_in_vocab
      FROM tok t LEFT JOIN vocab v ON t.token = v.token
      GROUP BY t.doc_id
    )
    SELECT
      CAST(floor(10.0 * CAST(n_in_vocab AS DOUBLE)
                 / CAST(n_tokens AS DOUBLE)) AS INT) AS coverage_decile,
      CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
      CAST(SUM(n_in_vocab) AS BIGINT) AS in_vocab_tokens
    FROM per_doc GROUP BY 1
    """,
)
def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer vocabulary coverage / OOV-rate audit: build the
    top-100 corpus vocabulary (count-desc, token tie-break — a total
    order, so the vocab is deterministic), then bucket every document
    by the decile of its in-vocabulary token fraction.  This is the
    pre-training check that tells you what fraction of a new corpus
    slice a fixed tokenizer will shatter into bytes.

    Plan: explode → token-count hash agg; the top-K cut is
    ``orderBy().limit(K)``, which Spark plans as
    TakeOrderedAndProject — per-partition partial top-K merged at the
    driver, NEVER a single-task global sort, so it holds at any
    vocabulary size.  The vocab is then broadcast-joined (≤K rows)
    back onto the token stream, so the coverage pass is map-side
    only, and the final histogram groups on an 11-value domain."""
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.functions.text import tokens

    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens("text")).alias("token"))
    # tok is consumed by BOTH the vocab count and the coverage join, but
    # it is DATA-SCALED (exploded token stream): recomputing two pruned
    # scans beats materializing it (measured equal at sf0.1, and the
    # round-2 rule says input-proportional checkpoints lose at scale)
    cnts = tok.groupBy("token").agg(F.count("*").alias("cnt"))
    vocab = (
        cnts.orderBy(F.desc("cnt"), F.asc("token"))
        .limit(_VOCAB_TOP)
        .select("token")
    )
    per_doc = (
        tok.join(F.broadcast(vocab.withColumn("in_v", F.lit(1))), "token", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.count("in_v").alias("n_in_vocab"),
        )
    )
    return per_doc.groupBy(
        F.floor(
            10.0 * F.col("n_in_vocab").cast("double") / F.col("n_tokens").cast("double")
        )
        .cast("int")
        .alias("coverage_decile")
    ).agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum("n_in_vocab").alias("in_vocab_tokens"),
    )


# ------------------------------------------------------------- readability


@register(
    "q_readability",
    oracle=f"""
    WITH m AS (
      SELECT doc_id, source,
        CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_chars_nosp,
        CAST(length({_SQL_TOKS}) AS BIGINT) AS n_words,
        CAST(greatest(
          length(list_filter(string_split_regex(text, '[.!?]+'),
                             s -> trim(s) <> '')), 1) AS BIGINT) AS n_sents
      FROM documents
    )
    SELECT source,
      CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(SUM(n_words) AS BIGINT) AS total_words,
      CAST(SUM(CAST(floor(
        (CAST(4.71 AS DOUBLE) * (CAST(n_chars_nosp AS DOUBLE) / n_words)
         + CAST(0.5 AS DOUBLE) * (CAST(n_words AS DOUBLE) / n_sents)
         - CAST(21.43 AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT))
      AS DOUBLE) / 1000000.0 / COUNT(*) AS avg_ari
    FROM m WHERE n_words > 0 GROUP BY source
    """,
)
def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Automated Readability Index per corpus source — the
    quality-scoring sibling of q_text_quality: ARI = 4.71·(chars/
    words) + 0.5·(words/sentences) − 21.43 (public formula; character
    counting instead of syllables keeps it deterministic).

    Everything is a codegen projection (length/split/regexp) plus ONE
    hash aggregate.  The per-doc ARI is a float expression (identical
    tree both engines); the cross-doc average would be an
    order-dependent float SUM, so each doc's score is quantized to
    integer micro-units first via ``floor(x·1e6 + 0.5)`` — floor of a
    double is bitwise portable where float→DECIMAL casts are NOT
    (measured round-2 gotcha) — making the sum exact, associative,
    and order-free; the mean divides the exact sum once at the end.
    Sentence count clamps at 1 so punctuation-free documents don't
    divide by zero."""
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.functions.text import tokens

    d = load_table(spark, sf_dir, "documents")
    n_words = F.size(tokens("text")).cast("bigint")
    n_chars = F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast("bigint")
    n_sents = F.greatest(
        F.size(F.filter(F.split("text", r"[.!?]+"), lambda s: F.trim(s) != "")),
        F.lit(1),
    ).cast("bigint")
    m = d.select(
        "source",
        n_chars.alias("n_chars_nosp"),
        n_words.alias("n_words"),
        n_sents.alias("n_sents"),
    ).filter(F.col("n_words") > 0)
    ari = (
        F.lit(4.71) * (F.col("n_chars_nosp").cast("double") / F.col("n_words"))
        + F.lit(0.5) * (F.col("n_words").cast("double") / F.col("n_sents"))
        - F.lit(21.43)
    )
    ari_micro = F.floor(ari * 1000000.0 + 0.5).cast("bigint")
    return m.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_words").alias("total_words"),
        (F.sum(ari_micro).cast("double") / 1000000.0 / F.count("*")).alias(
            "avg_ari"
        ),
    )


@register(
    "q_tokenizer_fertility",
    oracle=f"""
    WITH t AS (
      SELECT lang,
        CAST(length(text) AS BIGINT) AS n_char,
        CAST(length({sql_toks_expr()}) AS BIGINT) AS n_ws,
        CAST(length({sql_bpe_toks_expr()}) AS BIGINT) AS n_bpe
      FROM documents
    )
    SELECT lang,
      CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(SUM(n_ws) AS BIGINT) AS ws_tokens,
      CAST(SUM(n_bpe) AS BIGINT) AS bpe_tokens,
      CASE WHEN SUM(n_ws) > 0
        THEN round(CAST(SUM(n_bpe) AS DOUBLE) / SUM(n_ws), 6) END
        AS fertility,
      CASE WHEN SUM(n_bpe) > 0
        THEN round(CAST(SUM(n_char) AS DOUBLE) / SUM(n_bpe), 6) END
        AS chars_per_token
    FROM t GROUP BY lang
    """,
)
def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 tokenizer FERTILITY audit per language: BPE-ish tokens per
    whitespace word and characters per token — the standard check that
    a tokenizer doesn't systematically over-segment some languages
    (high fertility = more compute per content word for that slice of
    the corpus; the multilingual-fairness number every training-data
    report tables).

    Exactness: all sums are integer token counts; the two divisions
    are int/int double divisions rounded once to 6dp, each guarded by
    a positive-denominator CASE (a lang slice whose every doc
    tokenizes to zero words would otherwise read 0/0 — NULL on Spark
    non-ANSI, NaN/inf on DuckDB: a cross-engine split on degenerate
    corpora; same guard as q_time_decay_attribution's ``sw <> 0``).
    Scale: one scan
    computing both token counts as flat expressions, one hash agg on
    the bounded lang domain — nothing data-scaled crosses the
    network."""
    docs = load_table(spark, sf_dir, "documents")
    per_doc = docs.select(
        "lang",
        F.length("text").cast("bigint").alias("n_char"),
        F.size(X.tokens("text")).cast("bigint").alias("n_ws"),
        F.size(X.bpe_ish_tokens("text")).cast("bigint").alias("n_bpe"),
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_ws").cast("bigint").alias("ws_tokens"),
        F.sum("n_bpe").cast("bigint").alias("bpe_tokens"),
        F.when(
            F.sum("n_ws") > 0,
            F.round(F.sum("n_bpe").cast("double") / F.sum("n_ws"), 6),
        ).alias("fertility"),
        F.when(
            F.sum("n_bpe") > 0,
            F.round(F.sum("n_char").cast("double") / F.sum("n_bpe"), 6),
        ).alias("chars_per_token"),
    )


# CDC delta for the maintained text index, synthesized deterministically
# from doc_id so both engines derive the identical feed: % 13 == 4 →
# DELETE, == 6 → UPDATE (suffix changes the token set), == 8 → INSERT
# (new id, prefixed text).
_TIDX_MOD = 13
_TIDX_SHIFT = 10_000_000  # far above any base doc_id at every SF


@register(
    "q_text_index_incremental",
    oracle=f"""
    WITH corpus2 AS (
      SELECT doc_id, text FROM documents
      WHERE doc_id % {_TIDX_MOD} NOT IN (4, 6)
      UNION ALL
      SELECT doc_id, text || ' qqupdated' FROM documents
      WHERE doc_id % {_TIDX_MOD} = 6
      UNION ALL
      SELECT doc_id + {_TIDX_SHIFT} AS doc_id, 'zzfresh ' || text
      FROM documents WHERE doc_id % {_TIDX_MOD} = 8
    )
    SELECT term, CAST(COUNT(*) AS BIGINT) AS df
    FROM (
      SELECT doc_id, unnest(list_distinct({sql_toks_expr()})) AS term
      FROM corpus2
    )
    GROUP BY term
    """,
)
def q_text_index_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 INCREMENTAL search-index statistics maintenance under CDC —
    the TEXT twin of q_sim_index_incremental and q_mv_incremental: the
    document-frequency table behind TF-IDF/BM25 retrieval advances by
    a CDC delta instead of recomputing from the corpus.  DELETEs and
    the PRE-update images contribute −1 per (doc, distinct term); the
    POST-update images and INSERTs contribute +1; the signed deltas
    fold into the stored df table with one full-outer merge, and terms
    whose df reaches 0 leave the vocabulary.  The delta derives
    deterministically from doc_id (% {_TIDX_MOD}: 4→delete, 6→update
    with a token-set-changing suffix, 8→insert under a shifted id) so
    DuckDB builds the identical feed.

    The ORACLE recomputes document frequencies from the post-delta
    corpus directly, so the hash match proves maintenance ≡ full
    recompute — including the net-zero cancellation for terms present
    in both images of an update and vocabulary exit at df = 0.

    Scale: at 100 TB the base df table is STORAGE (this query rebuilds
    it only because the oracle needs a self-contained expression); the
    incremental work is delta-proportional — tokenize the old+new
    images only, one hash agg on the delta vocabulary, one merge
    shuffled on term (bucket the stored table by term and the merge is
    shuffle-free, the q_mv_incremental argument verbatim).  All counts
    are integers — no float policy needed at all."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def doc_terms(d: DataFrame) -> DataFrame:
        return d.select(
            "doc_id",
            F.explode(F.array_distinct(X.tokens("text"))).alias("term"),
        )

    base = doc_terms(docs).groupBy("term").agg(
        F.count(F.lit(1)).alias("df")
    )
    mod = F.col("doc_id") % _TIDX_MOD
    leaving = docs.filter(mod.isin(4, 6))  # deletes + pre-update images
    arriving = (
        docs.filter(mod == 6)
        .select("doc_id", F.concat("text", F.lit(" qqupdated")).alias("text"))
        .unionByName(
            docs.filter(mod == 8).select(
                (F.col("doc_id") + _TIDX_SHIFT).alias("doc_id"),
                F.concat(F.lit("zzfresh "), F.col("text")).alias("text"),
            )
        )
    )
    signed = (
        doc_terms(leaving)
        .withColumn("d", F.lit(-1))
        .unionByName(doc_terms(arriving).withColumn("d", F.lit(1)))
    )
    delta = signed.groupBy("term").agg(F.sum("d").alias("delta"))
    return (
        base.join(delta, "term", "full_outer")
        .select(
            "term",
            (
                F.coalesce(F.col("df"), F.lit(0))
                + F.coalesce(F.col("delta"), F.lit(0))
            ).alias("df"),
        )
        .filter(F.col("df") > 0)
        .select("term", F.col("df").cast("bigint").alias("df"))
    )


@register(
    "q_doc_novelty",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
    ),
    grams AS (
      SELECT DISTINCT doc_id,
        {sql_md5_int("toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]")} AS h
      FROM (
        SELECT doc_id, toks, unnest(generate_series(1, length(toks) - 2)) AS i
        FROM toks WHERE length(toks) >= 3
      )
    ),
    first_seen AS (
      SELECT h, MIN(doc_id) AS first_doc FROM grams GROUP BY h
    )
    SELECT g.doc_id,
      CAST(COUNT(*) AS BIGINT) AS n_grams,
      round(CAST(COUNT(*) FILTER (WHERE f.first_doc = g.doc_id) AS DOUBLE)
            / COUNT(*), 6) AS novelty
    FROM grams g JOIN first_seen f ON g.h = f.h
    GROUP BY g.doc_id
    """,
)
def q_doc_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document NOVELTY score: the fraction of a document's
    distinct word 3-grams whose FIRST corpus occurrence (minimum
    doc_id — ingestion order) is this document.  The incremental-value
    signal of data-mixture design: a crawl batch full of
    already-seen phrasing scores near 0 and can be down-weighted
    before training, while genuinely new text scores near 1 — the
    per-document refinement of q_source_overlap's corpus-level overlap
    and the soft sibling of q_dedup_cross_spans' hard duplicate spans.

    Plan: one shingling pass (md5_shingle_rows — flat 60-bit gram ids
    inside whole-stage codegen, the repo-wide dedup shape), distinct
    per (doc, gram), one gram-keyed MIN aggregate for the first-seen
    table, one join back on gram id, one doc-keyed count aggregate.
    Docs under 3 tokens vanish at the explode (both engines' length
    guard).

    Scale: everything is hash-partition-friendly — two aggregates and
    a self-equi-join on the gram id; the hot-gram key (a boilerplate
    phrase in millions of docs) is bounded on the BUILD side by the
    first-seen table (one row per distinct gram), so the join fans out
    only to the gram's actual occurrences, never quadratically."""
    docs = load_table(spark, sf_dir, "documents")
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.dedup import (
        md5_shingle_rows,
    )

    grams = md5_shingle_rows(docs, 3).dropDuplicates(["id", "h"])
    first_seen = grams.groupBy("h").agg(F.min("id").alias("first_doc"))
    return (
        grams.join(first_seen, "h")
        .groupBy(F.col("id").alias("doc_id"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            F.round(
                F.count_if(F.col("first_doc") == F.col("id")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("novelty"),
        )
    )


_PREFIX_LEN = 8  # tokens hashed as the shared-prefix unit


@register(
    "q_prefix_cache_hit",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source, {_SQL_TOKS} AS toks FROM documents
      WHERE source IS NOT NULL
    ),
    pre AS (
      SELECT doc_id, source,
        {sql_md5_int(
            "array_to_string(list_slice(toks, 1, " + str(_PREFIX_LEN) + "), ' ')"
        )} AS h
      FROM toks WHERE length(toks) >= {_PREFIX_LEN}
    ),
    firsts AS (SELECT h, MIN(doc_id) AS first_doc FROM pre GROUP BY h)
    SELECT source,
      CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(COUNT(*) FILTER (WHERE f.first_doc <> p.doc_id) AS BIGINT)
        AS n_prefix_hits,
      round(CAST(COUNT(*) FILTER (WHERE f.first_doc <> p.doc_id) AS DOUBLE)
            / COUNT(*), 6) AS hit_frac
    FROM pre p JOIN firsts f ON p.h = f.h
    GROUP BY source
    """,
)
def q_prefix_cache_hit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PREFIX-SHARING estimator for KV-cache planning (public design:
    prefix caching in vLLM/SGLang-class LLM serving, and dedup of
    templated corpora): per source, the fraction of documents whose
    first 8 tokens already appeared as an earlier document's prefix
    (ingestion order = doc_id).  A high hit fraction means templated /
    boilerplate-heavy content — cheap to serve with a shared-prefix
    cache, and a dedup-before-train candidate; the PREFIX-anchored
    sibling of q_doc_novelty's whole-document gram novelty.

    Plan: one tokenize pass → 60-bit md5 prefix id (a codegen'd scalar
    projection, no arrays survive the scan) → one prefix-keyed MIN
    aggregate → one join back → one source-keyed count aggregate.
    Docs shorter than the prefix drop on both engines (length guard).
    Scale: two hash aggregates and an equi-join on the prefix id; the
    hot templated-prefix key is bounded on the build side by the
    firsts table (one row per distinct prefix)."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("source").isNotNull()
    )
    toks = X.tokens("text")
    pre = (
        docs.select("doc_id", "source", toks.alias("toks"))
        .filter(F.size("toks") >= _PREFIX_LEN)
        .select(
            "doc_id",
            "source",
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            " ", F.slice("toks", 1, _PREFIX_LEN)
                        )
                    ),
                    1,
                    15,
                ),
                16,
                10,
            )
            .cast("long")
            .alias("h"),
        )
    )
    firsts = pre.groupBy("h").agg(F.min("doc_id").alias("first_doc"))
    hit = F.col("first_doc") != F.col("doc_id")
    return (
        pre.join(firsts, "h")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.count_if(hit).cast("bigint").alias("n_prefix_hits"),
            F.round(
                F.count_if(hit).cast("double") / F.count(F.lit(1)), 6
            ).alias("hit_frac"),
        )
    )


# ------------------------------------------------------- vocab growth

_VG_BUCKETS = 10


@register(
    "q_vocab_growth",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, {_SQL_TOKS} AS toks,
        row_number() OVER (ORDER BY doc_id) - 1 AS rid
      FROM documents WHERE doc_id IS NOT NULL
    ),
    nd AS (SELECT COUNT(*) AS n FROM d),
    b AS (
      SELECT CAST(rid * {_VG_BUCKETS} // nd.n AS INT) AS bucket,
        unnest(toks) AS token
      FROM d CROSS JOIN nd
    ),
    occ AS (
      SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_occurrences
      FROM b GROUP BY bucket
    ),
    firsts AS (SELECT token, MIN(bucket) AS first_bucket FROM b GROUP BY token),
    newt AS (
      SELECT first_bucket AS bucket, CAST(COUNT(*) AS BIGINT) AS new_tokens
      FROM firsts GROUP BY first_bucket
    )
    SELECT occ.bucket, occ.n_occurrences,
      COALESCE(newt.new_tokens, 0) AS new_tokens,
      CAST(SUM(COALESCE(newt.new_tokens, 0))
           OVER (ORDER BY occ.bucket) AS BIGINT) AS vocab_cum,
      CAST(SUM(occ.n_occurrences) OVER (ORDER BY occ.bucket) AS BIGINT)
        AS tokens_cum
    FROM occ LEFT JOIN newt ON newt.bucket = occ.bucket
    """,
)
def q_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VOCABULARY-GROWTH curve (the Heaps'-law profile a tokenizer /
    dedup team reads before sizing a vocabulary): the corpus in doc_id
    order, cut into 10 equal-count document buckets; per bucket, the
    token occurrences it contributes, the tokens FIRST SEEN there, and
    the cumulative vocabulary / token totals.  A flattening new-token
    curve says the corpus is saturating (more data, little new
    language); a linear one says the domain is still open — both are
    exact integers, no estimator.

    Scale: document numbering via ``assign_dense_ids`` (parallel —
    never a global-sort window over the corpus); token first-
    occurrence is one (token → min bucket) hash aggregate over the
    flat exploded rows with map-side partials; the cumulative windows
    run on the 10-row bucket frame."""
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.functions.ids import (
        assign_dense_ids,
    )

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull()
    )
    d = assign_dense_ids(
        docs.select("doc_id", X.tokens("text").alias("toks")),
        ["doc_id"],
        id_col="rid",
    )
    nd = d.agg(F.count(F.lit(1)).alias("n"))
    b = (
        d.join(F.broadcast(nd))
        .select(
            # integer floor division (DIV), never double-divide + cast:
            # a correctly-rounded double quotient can round UP across
            # an integer boundary and disagree with // at huge n
            F.expr(f"CAST((rid * {_VG_BUCKETS}) DIV n AS INT)").alias(
                "bucket"
            ),
            F.explode("toks").alias("token"),
        )
    )
    occ = b.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_occurrences")
    )
    newt = (
        b.groupBy("token")
        .agg(F.min("bucket").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("new_tokens"))
    )
    w = Window.orderBy("bucket")
    out = (
        occ.join(newt, "bucket", "left")
        .withColumn("new_tokens", F.coalesce("new_tokens", F.lit(0)))
    )
    return out.select(
        "bucket",
        "n_occurrences",
        "new_tokens",
        F.sum("new_tokens").over(w).cast("bigint").alias("vocab_cum"),
        F.sum("n_occurrences").over(w).cast("bigint").alias("tokens_cum"),
    )


# ---------------------------------------------------------------- r12


@register(
    "q_bleu_pairs",
    oracle=f"""
    WITH tt AS (
      SELECT doc_id, source, {_SQL_TOKS} AS toks,
        CAST(length({_SQL_TOKS}) AS BIGINT) AS n_tok
      FROM documents
    ),
    pairs AS (
      SELECT doc_id AS cand_id, lead(doc_id) OVER w AS ref_id,
        n_tok AS c_len, lead(n_tok) OVER w AS r_len
      FROM tt WINDOW w AS (PARTITION BY source ORDER BY doc_id)
    ),
    p AS (
      SELECT * FROM pairs
      WHERE ref_id IS NOT NULL AND c_len >= 2 AND r_len >= 2
    ),
    bg AS MATERIALIZED (
      SELECT doc_id, gram, CAST(COUNT(*) AS BIGINT) AS c
      FROM (
        SELECT doc_id, toks[i] || ' ' || toks[i+1] AS gram
        FROM (
          SELECT doc_id, toks,
            unnest(generate_series(1, length(toks) - 1)) AS i
          FROM tt WHERE length(toks) >= 2
        )
      ) GROUP BY doc_id, gram
    ),
    ov AS (
      SELECT p.cand_id, p.ref_id, p.c_len, p.r_len,
        CAST(SUM(cg.c) AS BIGINT) AS n_bg_cand,
        CAST(SUM(least(cg.c, COALESCE(rg.c, 0))) AS BIGINT) AS clipped
      FROM p
      JOIN bg cg ON cg.doc_id = p.cand_id
      LEFT JOIN bg rg ON rg.doc_id = p.ref_id AND rg.gram = cg.gram
      GROUP BY p.cand_id, p.ref_id, p.c_len, p.r_len
    )
    SELECT cand_id, ref_id, n_bg_cand, clipped,
      CAST(clipped AS DOUBLE) / n_bg_cand AS precision2,
      least(0.0, 1.0 - CAST(r_len AS DOUBLE) / c_len) AS bp_exponent
    FROM ov
    """,
)
def q_bleu_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-BLEU building blocks (Papineni et al. '02, public
    design) over ADJACENT document pairs within each source (candidate
    = doc, reference = the source's next doc by id): clipped modified
    bigram precision plus the brevity-penalty exponent — the
    inter-document similarity signal diversity audits (self-BLEU) and
    near-template detection build on.

    Cross-engine exactness: clip counts are integer min() sums;
    precision2 and bp_exponent are single IEEE divisions of identical
    integers — no exp/log is taken (consumers combine the components;
    exponentiation last keeps the contract float-exact, the
    q_retrieval_ndcg lesson).  Pairs where either side has < 2 tokens
    carry no bigram and are excluded in both engines.

    Scale: pairing is one lead() window per source (sort within
    source, no global sort); bigram multisets explode to flat codegen
    rows and hash-aggregate; the clip join is keyed (ref_id, gram) —
    candidate volume is |adjacent pairs| = |docs|, never all-pairs."""
    tt = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        X.tokens("text").alias("toks"),
        F.size(X.tokens("text")).cast("bigint").alias("n_tok"),
    )
    w = Window.partitionBy("source").orderBy("doc_id")
    pairs = (
        tt.select(
            F.col("doc_id").alias("cand_id"),
            F.lead("doc_id").over(w).alias("ref_id"),
            F.col("n_tok").alias("c_len"),
            F.lead("n_tok").over(w).alias("r_len"),
        )
        .filter(
            F.col("ref_id").isNotNull()
            & (F.col("c_len") >= 2)
            & (F.col("r_len") >= 2)
        )
    )
    bg = (
        tt.filter(F.size("toks") >= 2)
        .select(
            "doc_id",
            "toks",
            F.explode(F.sequence(F.lit(1), F.size("toks") - 1)).alias("i"),
        )
        .select(
            "doc_id",
            F.concat_ws(
                " ",
                F.element_at("toks", F.col("i")),
                F.element_at("toks", F.col("i") + 1),
            ).alias("gram"),
        )
        .groupBy("doc_id", "gram")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    cg = bg.withColumnsRenamed({"doc_id": "cg_doc", "c": "c_c"})
    rg = bg.withColumnsRenamed(
        {"doc_id": "rg_doc", "gram": "rgram", "c": "c_r"}
    )
    ov = (
        pairs.join(cg, F.col("cg_doc") == F.col("cand_id"))
        .join(
            rg,
            (F.col("rg_doc") == F.col("ref_id"))
            & (F.col("rgram") == F.col("gram")),
            "left",
        )
        .groupBy("cand_id", "ref_id", "c_len", "r_len")
        .agg(
            F.sum("c_c").cast("bigint").alias("n_bg_cand"),
            F.sum(F.least(F.col("c_c"), F.coalesce(F.col("c_r"), F.lit(0))))
            .cast("bigint")
            .alias("clipped"),
        )
    )
    return ov.select(
        "cand_id",
        "ref_id",
        "n_bg_cand",
        "clipped",
        (F.col("clipped").cast("double") / F.col("n_bg_cand"))
        .alias("precision2"),
        F.least(
            F.lit(0.0),
            F.lit(1.0) - F.col("r_len").cast("double") / F.col("c_len"),
        ).alias("bp_exponent"),
    )
