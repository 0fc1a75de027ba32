"""Training-data curation operators beyond near-dup detection
(SURVEY.md §2.3 Tier C extensions): repetition-based quality filtering,
eval-set decontamination, PII redaction, and per-source dedup reporting.

These are the corpus-hygiene passes a 100 TB pretraining pipeline runs
between ingest and tokenization (public designs: Gopher/MassiveText
repetition filters, GPT-3/The-Pile n-gram decontamination).  Everything
is built-in column expressions or flat explode + hash-aggregate — no
Python in the hot path — and every query carries a DuckDB oracle twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cdc_from_sql_and_nosql_to_data_warehouse_spark.functions import text as X
from cdc_from_sql_and_nosql_to_data_warehouse_spark.functions.normalize import loud_src_n
from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators import register
from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.dedup import md5_shingle_rows
from cdc_from_sql_and_nosql_to_data_warehouse_spark.sources.readers import load_table

# Shared DuckDB tokenization CTE (single-sourced; functions/portable_hash.py)
from cdc_from_sql_and_nosql_to_data_warehouse_spark.functions.portable_hash import (  # noqa: E402
    SQL_TOKS_CTE as _SQL_TOKS,
    md5_prefix_int,
    md5_unit,
    sql_md5_int,
    sql_md5_unit,
    sql_toks_expr,
)


@register(
    "q_text_repetition",
    oracle=f"""
    WITH {_SQL_TOKS},
    big AS (
      SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS bg
      FROM (
        SELECT doc_id, toks, unnest(generate_series(1, length(toks) - 1)) AS i
        FROM toks WHERE length(toks) >= 2
      )
    ),
    cnt AS (SELECT doc_id, bg, COUNT(*) AS c FROM big GROUP BY doc_id, bg),
    agg AS (
      SELECT doc_id, MAX(c) AS top_c, SUM(c) AS total, COUNT(*) AS n_uniq
      FROM cnt GROUP BY doc_id
    )
    SELECT doc_id,
      CAST(top_c AS DOUBLE) / CAST(total AS DOUBLE) AS top_bigram_frac,
      CAST(1 AS DOUBLE) - CAST(n_uniq AS DOUBLE) / CAST(total AS DOUBLE)
        AS dup_bigram_frac
    FROM agg
    """,
)
def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition quality signals (Gopher/MassiveText-style filters,
    public design): per document, the fraction of bigrams taken by the
    single most frequent bigram, and the fraction of bigram slots that
    are duplicates.  High values on either mark boilerplate / spam /
    degenerate generations for removal before training.

    Plan: explode bigram start positions → flat (doc_id, bigram) rows
    in whole-stage codegen (the measured shape — per-doc array lambdas
    run interpreted), two hash aggregations with map-side partials.
    Ratios divide identical-valued integers in both engines, so the
    doubles hash-match.  Documents with fewer than 2 tokens drop out at
    the explode, exactly like the oracle's length guard."""
    docs = load_table(spark, sf_dir, "documents")
    ex = (
        docs.select("doc_id", X.tokens("text").alias("toks"))
        .filter(F.size("toks") >= 2)
        .select(
            "doc_id",
            "toks",
            F.explode(F.sequence(F.lit(1), F.size("toks") - 1)).alias("i"),
        )
        .select(
            "doc_id",
            F.concat_ws(
                " ", F.element_at("toks", F.col("i")), F.element_at("toks", F.col("i") + 1)
            ).alias("bg"),
        )
    )
    cnt = ex.groupBy("doc_id", "bg").agg(F.count(F.lit(1)).alias("c"))
    agg = cnt.groupBy("doc_id").agg(
        F.max("c").alias("top_c"),
        F.sum("c").alias("total"),
        F.count(F.lit(1)).alias("n_uniq"),
    )
    return agg.select(
        "doc_id",
        (F.col("top_c").cast("double") / F.col("total").cast("double")).alias(
            "top_bigram_frac"
        ),
        (
            F.lit(1).cast("double")
            - F.col("n_uniq").cast("double") / F.col("total").cast("double")
        ).alias("dup_bigram_frac"),
    )


@register(
    "q_decontaminate",
    oracle=f"""
    WITH {_SQL_TOKS},
    g AS (
      SELECT doc_id,
        {sql_md5_int("toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4]")} AS h
      FROM (
        SELECT doc_id, toks, unnest(generate_series(1, length(toks) - 4)) AS i
        FROM toks WHERE length(toks) >= 5
      )
    ),
    ev AS (SELECT DISTINCT h FROM g WHERE doc_id % 97 = 0),
    tr AS (SELECT DISTINCT doc_id, h FROM g WHERE doc_id % 97 <> 0)
    SELECT tr.doc_id, COUNT(*) AS n_shared_grams
    FROM tr JOIN ev ON tr.h = ev.h
    GROUP BY tr.doc_id
    """,
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination (GPT-3 / The-Pile n-gram overlap,
    public design): flag training documents sharing any 5-gram with the
    held-out eval slice (here the deterministic doc_id % 97 == 0
    subset), reporting how many distinct 5-grams leak.  Downstream the
    flagged docs are dropped or audited before training.

    Plan: ONE shingling pass over the corpus (flat 60-bit md5 ids —
    md5_shingle_rows, the codegen shape shared with the MinHash
    anchor), split into eval/train sides; the eval gram set is tiny
    relative to the corpus, so it broadcasts and the overlap check is a
    broadcast hash join — the training side never shuffles.

    The eval side carries NO hard broadcast hint (review-caught): a
    real benchmark eval set is megabytes and AQE will broadcast it on
    its own, but THIS file's stand-in (doc_id % 97) is
    corpus-proportional — a forced broadcast would OOM the driver at
    the operator's own claimed scale, exactly the hint-discipline rule
    the repo applies to every data-scaled side."""
    docs = load_table(spark, sf_dir, "documents")
    # A/B: sf0.1 q_decontaminate 1.53 s with it vs 2.65 s without (IQR 0.05, 4/5 pairs)
    g = md5_shingle_rows(docs, 5).localCheckpoint(eager=False)
    ev = g.filter(F.col("id") % 97 == 0).select("h").distinct()
    tr = g.filter(F.col("id") % 97 != 0).dropDuplicates(["id", "h"])
    return (
        tr.join(ev, "h")
        .groupBy(F.col("id").alias("doc_id"))
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
    )


@register(
    "q_pii_redact",
    oracle="""
    SELECT c_custkey,
      regexp_replace(c_name, '[0-9]', '*', 'g') AS redacted_name,
      CAST(length(c_name) - length(regexp_replace(c_name, '[0-9]', '', 'g'))
           AS INTEGER) AS n_digits
    FROM customer
    """,
)
def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing pass: mask digit characters in an identifier
    column and count how many were masked (the audit metric a redaction
    job reports).  Regex-based scrubbing is the standard first PII pass
    over web corpora; the digit class is identical in Java regex and
    RE2, so the oracle checks the rewrite exactly.

    Plan: pure per-row projection — no shuffle at all; at 100 TB this
    is a map-only pass at full scan speed."""
    c = load_table(spark, sf_dir, "customer")
    stripped = F.regexp_replace(F.col("c_name"), "[0-9]", "")
    return c.select(
        "c_custkey",
        F.regexp_replace(F.col("c_name"), "[0-9]", "*").alias("redacted_name"),
        (F.length("c_name") - F.length(stripped)).cast("int").alias("n_digits"),
    )


@register(
    "q_dedup_report",
    oracle="""
    SELECT source,
      COUNT(*) AS n_docs,
      COUNT(DISTINCT md5(regexp_replace(trim(lower(text)), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')))
        AS n_unique,
      CAST(1 AS DOUBLE)
        - CAST(COUNT(DISTINCT md5(regexp_replace(trim(lower(text)), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')))
               AS DOUBLE) / COUNT(*) AS dup_frac
    FROM documents
    GROUP BY source
    """,
)
def q_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplication report: document count, distinct
    canonical fingerprints, and the duplicate fraction — the corpus
    health dashboard number that decides which sources need the full
    near-dup pass.

    Plan: COUNT(DISTINCT fp) expands to the standard two-phase expand +
    partial-agg (fingerprints partially deduped map-side before the one
    shuffle on source); no row ever carries more than a 32-char hash."""
    docs = load_table(spark, sf_dir, "documents")
    fp = X.fingerprint("text")
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(fp).alias("n_unique"),
        (
            F.lit(1).cast("double")
            - F.countDistinct(fp).cast("double") / F.count(F.lit(1))
        ).alias("dup_frac"),
    )


_LM_HOT_K = 4096  # head-split size: hot-key cover, broadcast-trivial


def _lm_model_and_bigrams(spark: SparkSession, sf_dir: str):
    """(corpus-bigrams ⋈ broadcast head, vocab-side model) — the
    pre-checkpoint frames of q_lm_score, exposed so the head-split plan
    stays inspectable after the query checkpoints them (lineage
    truncation hides the join from the final executedPlan)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = X.tokens("text")
    base = docs.select("doc_id", toks.alias("toks")).filter(F.size("toks") >= 2)
    bg = base.select(
        "doc_id",
        "toks",
        F.explode(F.sequence(F.lit(1), F.size("toks") - 1)).alias("i"),
    ).select(
        "doc_id",
        F.element_at("toks", F.col("i")).alias("w1"),
        F.element_at("toks", F.col("i") + 1).alias("w2"),
    )
    # three consumers (c2, c1, final join) — checkpoint so the corpus
    # is scanned and exploded ONCE, not three times (measured: 3
    # FileScans without this)
    # A/B: sf0.1 q_lm_score 1.60 s with it vs 2.67 s without (IQR 0.18, 5/5 pairs);
    # measured with this site and the next two removed together
    bg = bg.localCheckpoint(eager=False)
    c2 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n2"))
    c1 = bg.groupBy(F.col("w1").alias("m1")).agg(F.count(F.lit(1)).alias("n1"))
    # the model is consumed by the head pick AND the tail join:
    # checkpoint the vocab-bounded frame so the corpus-sized bigram
    # aggregates behind it run once
    sc = c2.join(c1, F.col("w1") == F.col("m1")).select(
        "w1",
        "w2",
        F.col("n2"),
        F.round(F.log(F.col("n2").cast("double") / F.col("n1")), 6).alias("logp"),
    # A/B: q_lm_score, as for bg above
    ).localCheckpoint(eager=False)
    # head split: the _LM_HOT_K most frequent bigrams broadcast
    # (TakeOrderedAndProject on the |vocab²|-bounded model, never the
    # corpus); every corpus row scores map-side if its bigram is in the
    # head, and only the no-hot-keys-left tail takes the shuffle join
    head = (
        sc.orderBy(F.col("n2").desc(), "w1", "w2").limit(_LM_HOT_K).drop("n2")
    )
    return bg.join(F.broadcast(head), ["w1", "w2"], "left"), sc


@register(
    "q_lm_score",
    oracle=f"""
    WITH {_SQL_TOKS},
    bg AS (
      SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
      FROM (
        SELECT doc_id, toks, unnest(generate_series(1, length(toks) - 1)) AS i
        FROM toks WHERE length(toks) >= 2
      )
    ),
    c2 AS (SELECT w1, w2, COUNT(*) AS n2 FROM bg GROUP BY w1, w2),
    c1 AS (SELECT w1, COUNT(*) AS n1 FROM bg GROUP BY w1),
    sc AS (
      SELECT c2.w1, c2.w2,
        round(ln(CAST(n2 AS DOUBLE) / n1), 6) AS logp
      FROM c2 JOIN c1 ON c2.w1 = c1.w1
    )
    SELECT bg.doc_id, COUNT(*) AS n_bigrams,
      CAST(SUM(CAST(logp AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_logp
    FROM bg JOIN sc ON bg.w1 = sc.w1 AND bg.w2 = sc.w2
    GROUP BY bg.doc_id
    """,
)
def q_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model quality score per document (the
    CCNet-style perplexity filter, self-trained on the corpus): each
    document's mean log-probability under the corpus bigram model —
    low scores flag gibberish/boilerplate for the curation gate.

    Plan: one flat bigram explode feeds three aggregations; the
    bigram→logp model is built VOCABULARY-side (c2⋈c1 joins two
    aggregated tables, not the corpus).  The corpus⋈model join is
    skew-proofed by a HEAD SPLIT rather than salting: the top
    _LM_HOT_K bigrams by corpus frequency — by definition the only
    keys that can be hot — are broadcast, so every head-bigram row
    scores MAP-SIDE with no shuffle at all, and only the tail (rare
    bigrams, uniformly distributed by construction) takes the
    shuffle join.  This dominates salting on both axes: the hot keys
    never hit the exchange (salting merely spreads them ×8), and the
    tail join has nothing hot left to skew.  Semantics are unchanged —
    a bigram's logp is identical on either path — and the split is
    deterministic (freq desc, then w1/w2 tie-break).  Plan pinned by
    tests/test_plans.py::test_lm_score_join_is_head_split.
    ln is rounded to 6dp on both engines (libm ulp guard, the
    q_text_tfidf precedent) and per-doc summation is DECIMAL-exact, so
    the mean is order-independent and hash-stable."""
    j, sc = _lm_model_and_bigrams(spark, sf_dir)
    # j feeds BOTH split branches: checkpoint so the corpus-sized
    # broadcast join runs once, not once per branch (review-verified:
    # 14 HashAggregates / 2 head joins without the j+sc checkpoints;
    # the head-split plan itself is pinned on the PRE-checkpoint frame
    # by test_lm_score_join_is_head_split)
    # A/B: q_lm_score, as for bg in _lm_model_and_bigrams
    j = j.localCheckpoint(eager=False)
    covered = j.filter(F.col("logp").isNotNull())
    tail = (
        j.filter(F.col("logp").isNull())
        .drop("logp")
        .join(sc.drop("n2"), ["w1", "w2"])
    )
    return (
        covered.unionByName(tail)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            (
                F.sum(F.col("logp").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1))
            ).alias("avg_logp"),
        )
    )


_MIX_CAP = 15  # expected docs kept per source


@register(
    "q_dataset_mixture",
    oracle=f"""
    WITH counts AS (
      SELECT source, COUNT(*) AS n_in FROM documents GROUP BY source
    ),
    gated AS (
      SELECT d.source, n_in,
        least(1.0, CAST({_MIX_CAP} AS DOUBLE) / n_in) AS keep_prob,
        {sql_md5_unit("CAST(d.doc_id AS VARCHAR)")} AS u,
        length({sql_toks_expr("d.text")}) AS n_tok
      FROM documents d JOIN counts USING (source)
    )
    SELECT source, n_in, keep_prob,
      COUNT(*) FILTER (WHERE u < keep_prob) AS n_kept,
      CAST(COALESCE(SUM(n_tok) FILTER (WHERE u < keep_prob), 0) AS BIGINT)
        AS n_tokens_kept
    FROM gated GROUP BY source, n_in, keep_prob
    """,
)
def q_dataset_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-mixture rebalancing: downsample each source to an
    expected cap of _MIX_CAP (=15) documents with a DETERMINISTIC
    md5-threshold sampler — the domain-reweighting step that sets a
    pretraining mixture without a second pass or an RNG (rerunning the
    pipeline keeps the same documents; both engines draw the same u).

    Plan: per-source counts are a vocabulary-sized aggregate joined
    back unhinted (source cardinality grows with the corpus — AQE
    broadcasts while it fits); u = md5(doc_id)/2^60 is a flat codegen
    projection; the kept-set aggregate is one shuffle keyed by source.
    The same u-threshold pattern yields the kept ROWS at scale — here
    the audit emits per-source totals to stay oracle-small."""
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy(F.col("source").alias("csource")).agg(
        F.count(F.lit(1)).alias("n_in")
    )
    keep_prob = F.least(
        F.lit(1.0), F.lit(float(_MIX_CAP)) / F.col("n_in").cast("double")
    )
    u = md5_unit(F.col("doc_id").cast("string"))
    gated = (
        docs.join(counts, F.col("source") == F.col("csource"))
        .select(
            "source",
            "n_in",
            keep_prob.alias("keep_prob"),
            u.alias("u"),
            F.size(X.tokens("text")).alias("n_tok"),
        )
    )
    kept = F.col("u") < F.col("keep_prob")
    return gated.groupBy("source", "n_in", "keep_prob").agg(
        F.count(F.when(kept, 1)).alias("n_kept"),
        F.coalesce(F.sum(F.when(kept, F.col("n_tok"))), F.lit(0))
        .cast("bigint")
        .alias("n_tokens_kept"),
    )


_TOKEN_BUDGET = 600  # tokens kept per source


@register(
    "q_token_budget",
    oracle=f"""
    WITH {_SQL_TOKS},
    ranked AS (
      SELECT d.doc_id, d.source,
        CAST(length(t.toks) AS BIGINT) AS n_tok,
        md5(CAST(d.doc_id AS VARCHAR)) AS u
      FROM documents d JOIN toks t ON d.doc_id = t.doc_id
      WHERE length(t.toks) >= 1
    ),
    cum AS (
      SELECT doc_id, source, n_tok,
        CAST(SUM(n_tok) OVER (PARTITION BY source ORDER BY u, doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tok
      FROM ranked
    )
    SELECT doc_id, source, n_tok, cum_tok
    FROM cum WHERE cum_tok <= {_TOKEN_BUDGET}
    """,
)
def q_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token budgets: keep documents, in a deterministic
    md5-shuffled order, until each source's running token total reaches
    _TOKEN_BUDGET (=600) — how a pretraining mixture enforces "at most
    N tokens of domain X" without an RNG (rerun = same documents) and
    without materializing the rejected tail.

    Plan: one scan computes (n_tok, u=md5(doc_id)); the cumsum is
    ``functions.ids.running_total(group_cols=['source'])`` — rows
    range-partition on (source, u, doc_id), the window restarts per
    source WITHIN each partition, and a driver-side (partition, source)
    offset map stitches the partials.  A plain per-source window puts
    each source's entire cumsum through ONE task — at 100 TB a single
    web-crawl source is most of the corpus (the round-3 verdict's
    scale-killer); this form parallelizes inside the source and is
    exactly equal to ``sum(n_tok) over (partition by source order by
    u, doc_id)``."""
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.functions.ids import running_total

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        "source",
        X.token_count("text").alias("n_tok"),
        F.md5(F.col("doc_id").cast("string")).alias("u"),
    ).filter(F.col("n_tok") >= 1)
    cum = running_total(
        base,
        ["u", "doc_id"],
        "n_tok",
        total_col="cum_tok",
        group_cols=["source"],
    )
    return (
        cum.filter(F.col("cum_tok") <= _TOKEN_BUDGET)
        .select("doc_id", "source", "n_tok", F.col("cum_tok").cast("bigint").alias("cum_tok"))
    )


def _loud_src_n(qname: str):
    """NULL-tolerant, overflow-loud srcNN parse — shared definition in
    functions.normalize.loud_src_n (the NULL-metadata sweep caught the
    original guard killing the job on NULL source; review caught the
    10-char truncation + silent int overflow)."""
    return loud_src_n("source", qname)


@register(
    "q_cross_dedup",
    oracle="""
    WITH fp AS (
      SELECT doc_id, source,
        md5(regexp_replace(trim(lower(text)), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')) AS fp,
        CAST(substr(source, 4) AS INTEGER) AS src_n
      FROM documents
    )
    SELECT n.doc_id, n.source
    FROM (SELECT * FROM fp WHERE src_n >= 10) n
    ANTI JOIN (SELECT DISTINCT fp FROM fp WHERE src_n < 10) e
      ON n.fp = e.fp
    """,
)
def q_cross_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus (incremental-ingest) dedup: drop every INCOMING
    document whose canonical-text fingerprint already exists in the
    BASE corpus — the "dedup the new crawl against what we already
    trained on" pass, distinct from corpus-internal dedup
    (q_dedup_exact) because only the new side may be dropped and the
    base side is never rewritten.  Here sources src10+ play the
    incoming batch and src0-src9 the base corpus.

    Plan: fingerprints are 16-byte md5 (X.fingerprint, identical
    expression to q_dedup_exact); the decision is ONE left-anti
    equi-join on the fingerprint — at 100 TB the base side is a
    fingerprint-only silver table (16 bytes/doc, bucketed on fp so
    nightly batches anti-join with zero shuffle on the base side)."""
    docs = load_table(spark, sf_dir, "documents")
    src_n = _loud_src_n("q_cross_dedup")
    fp = docs.select(
        "doc_id",
        "source",
        X.fingerprint("text").alias("fp"),
        src_n.alias("src_n"),
    # A/B: sf0.1 q_cross_dedup 0.46 s with it vs 0.57 s without (IQR 0.02, 3/5 pairs)
    ).localCheckpoint(eager=False)  # base + incoming: fingerprint once
    base = fp.filter(F.col("src_n") < 10).select("fp").distinct()
    incoming = fp.filter(F.col("src_n") >= 10)
    return incoming.join(base, "fp", "left_anti").select("doc_id", "source")


@register(
    "q_dedup_segments",
    oracle=f"""
    WITH {_SQL_TOKS},
    segs AS (
      SELECT doc_id, i AS seg_idx,
        {sql_md5_int("array_to_string(toks[(i*10+1):(i*10+10)], ' ')")} AS h
      FROM (
        SELECT doc_id, toks, unnest(generate_series(0, (length(toks) - 1) // 10)) AS i
        FROM toks WHERE length(toks) > 0
      )
    ),
    w AS (SELECT h, MIN(CAST(doc_id AS DECIMAL(38,0)) * 2147483648 + seg_idx)
            AS wkey FROM segs GROUP BY h),
    k AS (SELECT CAST(wkey // 2147483648 AS BIGINT) AS doc_id,
            COUNT(*) AS n_kept FROM w GROUP BY 1),
    t AS (SELECT doc_id, COUNT(*) AS n_segs FROM segs GROUP BY doc_id)
    SELECT t.doc_id, t.n_segs,
      COALESCE(k.n_kept, 0) AS n_kept,
      CAST(COALESCE(k.n_kept, 0) AS DOUBLE) / t.n_segs AS frac_kept
    FROM t LEFT JOIN k ON t.doc_id = k.doc_id
    """,
)
def q_dedup_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment-level exact dedup (MassiveText/RefinedWeb line-dedup,
    public design, over fixed 10-token windows since the synthetic
    corpus has no newlines): every disjoint 10-token segment is hashed
    corpus-wide and only its FIRST occurrence — lowest (doc_id,
    seg_idx) — survives; per document we report how many of its
    segments are the surviving copy.  Downstream the kept fraction
    decides whether the doc is rewritten (drop duplicated segments) or
    dropped outright.

    Plan: ONE shingling scan (flat 60-bit md5 segment ids, the same
    codegen'd conv(substr(md5)) shape as md5_shingle_rows), then two
    thin shuffles: min-key per segment hash (16 bytes/row, map-side
    partial min) and a per-doc count; the winner→doc attribution rides
    the packed bigint key back out of the min, so no self-join against
    the segment rows.  At 100 TB rows never carry text past the first
    projection — shuffle traffic is (h, key) longs only."""
    K = 10
    docs = load_table(spark, sf_dir, "documents")
    toks = X.tokens("text")
    segs = (
        docs.select("doc_id", toks.alias("toks"))
        .filter(F.size("toks") > 0)
        .select(
            "doc_id",
            "toks",
            F.explode(
                F.sequence(
                    F.lit(0).cast("bigint"),
                    ((F.size("toks") - 1) / K).cast("bigint"),
                )
            ).alias("seg_idx"),
        )
        .select(
            "doc_id",
            "seg_idx",
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            " ",
                            F.slice(
                                F.col("toks"),
                                (F.col("seg_idx") * K + 1).cast("int"),
                                K,
                            ),
                        )
                    ),
                    1,
                    15,
                ),
                16,
                10,
            )
            .cast("bigint")
            .alias("h"),
        )
    )
    # pack (doc_id, seg_idx) into one DECIMAL(38,0) so attribution
    # rides the min-aggregate without a self-join.  2^31 multiplier
    # (not 10^6 — review-caught: a 10M-token doc would collide into its
    # neighbor's key space); the key is DECIMAL, not BIGINT, because
    # warehouse-scale ids (the sf1 blowup shifts replicas by 2^32)
    # overflow an int64 pack — the previous loud guard fired exactly
    # there (measured, round 10).  The seg_idx guard stays LOUD:
    # silent packing corruption is the one failure the oracle can
    # never catch because it mirrors the same packing.
    packed = F.when(
        F.col("seg_idx") < F.lit(2147483648),
        F.col("doc_id").cast("decimal(38,0)") * F.lit(2147483648)
        + F.col("seg_idx"),
    ).otherwise(
        F.raise_error(
            F.lit("q_dedup_segments: packed key overflow")
        ).cast("decimal(38,0)")
    )
    winners = segs.groupBy("h").agg(F.min(packed).alias("wkey"))
    kept = (
        winners.select(
            F.expr("CAST(wkey div 2147483648 AS BIGINT)").alias("doc_id")
        )
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )
    total = segs.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_segs"))
    n_kept = F.coalesce(F.col("n_kept"), F.lit(0).cast("bigint"))
    return total.join(kept, "doc_id", "left").select(
        "doc_id",
        "n_segs",
        n_kept.alias("n_kept"),
        (n_kept.cast("double") / F.col("n_segs")).alias("frac_kept"),
    )


@register(
    "q_split_train_eval",
    oracle=f"""
    WITH s AS (
      SELECT source, n_chars,
        {sql_md5_int("CAST(doc_id AS VARCHAR)", 4)} % 100 AS b
      FROM documents
    )
    SELECT
      CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val' ELSE 'test' END AS split,
      source,
      COUNT(*) AS n_docs,
      CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM s GROUP BY 1, 2
    """,
)
def q_split_train_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (90/5/5) by hashing the
    document id — the standard content-stable split for pretraining
    corpora: membership depends only on the id, so re-runs, corpus
    growth, and re-partitioning never move a document across splits
    (no random() anywhere).  Reported as the per-split × per-source
    audit matrix a data-version release ships with.

    Plan: the split label is a pure projection (md5 prefix → bucket
    0-99), so the whole operator is one map + one hash-aggregate on
    (split, source) — at 100 TB the map side combines down to
    |splits|×|sources| rows before the only shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    b = md5_prefix_int(F.col("doc_id").cast("string"), 4) % 100
    split = (
        F.when(b < 90, F.lit("train")).when(b < 95, F.lit("val")).otherwise(F.lit("test"))
    )
    return (
        docs.select(split.alias("split"), "source", "n_chars")
        .groupBy("split", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
    )


@register(
    "q_length_quantile_filter",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, lang,
        CAST(length({sql_toks_expr()}) AS BIGINT) AS n_tok
      FROM documents
    ),
    thr AS (SELECT lang, quantile_cont(n_tok, 0.25) AS thr FROM d GROUP BY lang)
    SELECT d.doc_id, d.lang, d.n_tok, thr.thr
    FROM d JOIN thr USING (lang)
    WHERE d.n_tok >= thr.thr
    """,
)
def q_length_quantile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language length-quantile filter: drop the shortest quartile
    of documents WITHIN each language (a global cutoff would gut the
    lower-resource languages first — the per-group quantile is the
    published C4/CCNet-style shape).  The metric is the integer token
    count, so the exact Type-7 interpolated quantile is reproducible
    bitwise across engines (dyadic fractions over integers).

    Plan: threshold pass is a hash-aggregate to |langs| rows that then
    BROADCASTS back over the corpus — never a per-language global sort
    (percent_rank over PARTITION BY lang would funnel each language
    into one task; at 100 TB that's the anti-pattern this operator
    exists to avoid).  Two column-pruned scans beat materializing a
    corpus-wide token-count table; at cluster scale the exact
    percentile aggregate can be swapped for approx_percentile with the
    same broadcast-join shape."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select("doc_id", "lang", X.token_count("text").alias("n_tok"))
    thr = d.groupBy("lang").agg(F.percentile("n_tok", F.lit(0.25)).alias("thr"))
    return (
        d.join(F.broadcast(thr), "lang")
        .filter(F.col("n_tok") >= F.col("thr"))
        .select("doc_id", "lang", "n_tok", "thr")
    )


@register(
    "q_corpus_shuffle",
    oracle="""
    SELECT doc_id,
      CAST(row_number() OVER (
        ORDER BY md5(CAST(doc_id AS VARCHAR) || '_epoch0')) - 1 AS BIGINT) AS pos
    FROM documents
    """,
)
def q_corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global corpus shuffle for training order: every
    document gets a dense position 0..n-1 in the order of
    md5(doc_id || epoch-salt) — reproducible across runs and engines
    (no random()), re-saltable per epoch, and statistically uniform, so
    sequential shard readers see an unbiased source/time mix.

    Plan: positions come from assign_dense_ids (functions/ids.py) —
    range-partition on the md5 key, number within partitions, add a
    driver-side prefix sum of the per-partition counts — NOT a
    row_number() over a global ORDER BY, which would funnel 100 TB
    through one task.  Writing shards afterwards is a
    repartitionByRange on pos, which reuses this partitioning."""
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.functions.ids import assign_dense_ids

    docs = load_table(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("_epoch0"))).alias("k"),
    )
    return assign_dense_ids(keyed, ["k"], id_col="pos").select(
        "doc_id", F.col("pos").cast("bigint").alias("pos")
    )


@register(
    "q_quality_classifier",
    oracle=f"""
    WITH {_SQL_TOKS},
    scored AS (
      SELECT doc_id, length(toks) AS n_toks,
        list_reduce(
          list_prepend(CAST(0 AS DOUBLE),
            list_transform(toks, t ->
              CAST(({sql_md5_int("'w' || t", 8)} % 2001) - 1000
                   AS DOUBLE) / 1000.0)),
          (a, b) -> a + b) / length(toks) AS z
      FROM toks WHERE length(toks) > 0
    )
    SELECT doc_id, CAST(n_toks AS INTEGER) AS n_toks,
      round(1.0 / (1.0 + exp(-8.0 * z)), 6) AS score,
      round(1.0 / (1.0 + exp(-8.0 * z)), 6) > 0.5 AS keep
    FROM scored
    """,
)
def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed linear quality classifier (the fastText-style gate every
    public pretraining pipeline runs — CCNet/GPT-3 quality filtering):
    score = sigmoid(w·x) where x is the document's token stream under
    the hashing trick and w is a fixed weight table addressed by
    feature hash.  The weights here are derived from md5 so the oracle
    can reproduce them exactly; swapping in trained weights changes one
    expression, not the plan.

    Plan: ZERO shuffles — per-token weight lookup is a pure hash
    expression (no weight-table join: the hashing trick turns the
    model into compute), the dot product is a sequential fold over the
    token list (order-deterministic, same fold both engines), and the
    sigmoid is a projection.  Map-only at any corpus size, so the gate
    runs at scan throughput alongside the other curation passes.
    Rounded to 6dp: exp() may differ in the last ulp between libm and
    java.lang.Math; the keep decision compares the ROUNDED score so
    both engines gate identically."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", X.tokens("text").alias("toks")).filter(
        F.size("toks") > 0
    )
    w = lambda t: (  # noqa: E731
        (F.conv(F.substring(F.md5(F.concat(F.lit("w"), t)), 1, 8), 16, 10).cast("bigint") % 2001)
        - 1000
    ).cast("double") / 1000.0
    z = (
        F.aggregate(
            F.transform(F.col("toks"), w), F.lit(0.0), lambda a, x: a + x
        )
        / F.size("toks")
    )
    score = F.round(1.0 / (1.0 + F.exp(-8.0 * z)), 6)
    return toks.select(
        "doc_id",
        F.size("toks").alias("n_toks"),
        score.alias("score"),
        (score > 0.5).alias("keep"),
    )


@register(
    "q_feature_drift",
    oracle="""
    WITH binned AS (
      SELECT least(CAST(n_chars // 64 AS BIGINT), 9) AS bin,
        CAST(substr(source, 4) AS INTEGER) >= 10 AS is_new
      FROM documents
    ),
    counts AS (
      SELECT bin,
        COUNT(*) FILTER (WHERE NOT is_new) AS c_base,
        COUNT(*) FILTER (WHERE is_new) AS c_new
      FROM binned GROUP BY bin
    ),
    tot AS (
      SELECT SUM(c_base) AS t_base, SUM(c_new) AS t_new FROM counts
    )
    SELECT bin,
      CAST(c_base AS DOUBLE) / t_base AS p_base,
      CAST(c_new AS DOUBLE) / t_new AS p_new,
      CASE WHEN c_base > 0 AND c_new > 0 THEN
        round((CAST(c_base AS DOUBLE) / t_base - CAST(c_new AS DOUBLE) / t_new)
              * ln((CAST(c_base AS DOUBLE) / t_base)
                   / (CAST(c_new AS DOUBLE) / t_new)), 6)
      END AS psi
    FROM counts CROSS JOIN tot
    """,
)
def q_feature_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor (PSI — population stability index)
    between the base corpus (src0-9) and the incoming batch (src10+)
    over a document-length histogram: the data-quality alarm a
    continuously-ingesting pipeline runs before admitting a new crawl
    into the training mix (PSI > 0.2 ⇒ the new batch is differently
    distributed; investigate before training).

    Plan: one scan → 10-bin conditional-count aggregate (map-side
    partial, 10 rows out) → single-row totals broadcast back.  The
    whole monitor moves 10 rows over the network regardless of corpus
    size.  p ratios are exact int/int double divisions (deterministic);
    only the ln() term is rounded (libm-vs-JVM last-ulp)."""
    docs = load_table(spark, sf_dir, "documents")
    is_new = _loud_src_n("q_feature_drift") >= 10
    counts = (
        docs.select(
            F.least(F.floor(F.col("n_chars") / 64), F.lit(9)).alias("bin"),
            is_new.alias("is_new"),
        )
        .groupBy("bin")
        .agg(
            F.count_if(~F.col("is_new")).alias("c_base"),
            F.count_if(F.col("is_new")).alias("c_new"),
        )
        # 10 rows, two consumers (totals + final join): checkpoint so
        # the corpus scan runs once, making the docstring's "one scan"
        # true (review-verified: 2 FileScans without it)
        # A/B: sf0.1 q_feature_drift 0.35 s with it vs 0.52 s without (IQR 0.03, 3/5 pairs)
        .localCheckpoint(eager=False)
    )
    tot = counts.agg(
        F.sum("c_base").alias("t_base"), F.sum("c_new").alias("t_new")
    )
    p_base = F.col("c_base").cast("double") / F.col("t_base")
    p_new = F.col("c_new").cast("double") / F.col("t_new")
    return counts.join(F.broadcast(tot)).select(
        "bin",
        p_base.alias("p_base"),
        p_new.alias("p_new"),
        F.when(
            (F.col("c_base") > 0) & (F.col("c_new") > 0),
            F.round((p_base - p_new) * F.log(p_base / p_new), 6),
        ).alias("psi"),
    )


@register(
    "q_pseudonymize",
    oracle="""
    WITH mapped AS (
      SELECT substr(md5('cust:' || CAST(c_custkey AS VARCHAR)), 1, 16)
               AS surrogate_id,
        c_mktsegment, c_custkey
      FROM customer
    )
    SELECT m.surrogate_id, m.c_mktsegment, COUNT(o_orderkey) AS n_orders
    FROM mapped m LEFT JOIN orders ON o_custkey = m.c_custkey
    GROUP BY m.surrogate_id, m.c_mktsegment
    """,
)
def q_pseudonymize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII pseudonymization with referential integrity (the GDPR-safe
    analytics export twin of q_pii_redact's free-text scrub): replace
    the natural key with a salted-hash surrogate, drop direct
    identifiers (name/phone/address), keep coarse attributes — and
    because the surrogate is a pure FUNCTION of the key, every fact
    table maps to the same surrogate independently, so joins still
    work without a lookup table to secure or replicate.

    Plan: the surrogate is a flat codegen projection on both sides of
    an ordinary equi-join + aggregate — pseudonymizing 100 TB adds
    zero shuffles over the un-masked query.  (A true anonymization
    upgrade — k-anonymity binning, salt rotation — changes only the
    projection.)"""
    cust = load_table(spark, sf_dir, "customer").select(
        F.substring(
            F.md5(F.concat(F.lit("cust:"), F.col("c_custkey").cast("string"))), 1, 16
        ).alias("surrogate_id"),
        "c_mktsegment",
        "c_custkey",
    )
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    return (
        cust.join(o, F.col("o_custkey") == F.col("c_custkey"), "left")
        .groupBy("surrogate_id", "c_mktsegment")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


@register(
    "q_dedup_url",
    oracle="""
    WITH raw AS (
      SELECT doc_id,
        (CASE WHEN doc_id % 4 = 0 THEN 'http://' ELSE 'https://' END)
        || (CASE WHEN doc_id % 5 = 0
                 THEN upper(CASE WHEN doc_id % 3 = 0
                                 THEN 'www.' || source || '.example.com'
                                 ELSE source || '.example.com' END)
                 ELSE CASE WHEN doc_id % 3 = 0
                           THEN 'www.' || source || '.example.com'
                           ELSE source || '.example.com' END END)
        || '/docs/' || CAST((doc_id // 20) % 5 AS VARCHAR)
        || (CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END)
        || (CASE WHEN doc_id % 4 = 1
                 THEN '?utm_source=feed&utm_id=' || CAST(doc_id % 13 AS VARCHAR)
                 WHEN doc_id % 4 = 2
                 THEN '?page=' || CAST(doc_id % 3 AS VARCHAR) || '&utm_campaign=x'
                 ELSE '' END) AS url
      FROM documents
    ),
    split AS (
      SELECT doc_id,
        regexp_replace(regexp_replace(regexp_replace(
          lower(CASE WHEN strpos(url, '?') > 0
                     THEN substr(url, 1, strpos(url, '?') - 1)
                     ELSE url END),
          '^https?://', ''), '^www\\.', ''), '/$', '') AS base,
        CASE WHEN strpos(url, '?') > 0
             THEN substr(url, strpos(url, '?') + 1) ELSE '' END AS q
      FROM raw
    ),
    canon AS (
      SELECT doc_id,
        'https://' || base ||
        CASE WHEN q = '' THEN ''
             -- array_to_string([]) is NULL in DuckDB (not ''), and ||
             -- propagates it: coalesce so utm-only queries canonicalize
             -- to no-query instead of a NULL url
             ELSE CASE WHEN coalesce(array_to_string(list_sort(list_filter(
                         string_split(q, '&'),
                         x -> NOT starts_with(x, 'utm_'))), '&'), '') = ''
                       THEN ''
                       ELSE '?' || array_to_string(list_sort(list_filter(
                              string_split(q, '&'),
                              x -> NOT starts_with(x, 'utm_'))), '&') END
        END AS canon_url
      FROM split
    )
    SELECT canon_url, MIN(doc_id) AS survivor_id, COUNT(*) AS n_urls
    FROM canon GROUP BY canon_url
    """,
)
def q_dedup_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2′ URL-level dedup — the FIRST stage of a web-corpus pipeline
    (CommonCrawl curation dedups by canonical URL before any content
    hashing): canonicalize messy crawl URLs, group, keep the smallest
    doc_id as survivor.

    Since testdata ships no URL column, a deterministic messy URL is
    SYNTHESIZED per document (scheme/www/case/trailing-slash/tracking-
    param variants keyed on doc_id residues — identical expressions on
    both engines), and the operator under test is the canonicalization
    chain: lowercase, scheme- and www-strip, trailing-slash strip,
    drop utm_* tracking params, sort surviving params.  All pure
    string/array expressions — whole-stage-codegen'd, no Python.

    Scale: map-only canonicalize, then ONE hash aggregate keyed on the
    canonical URL string (~60 bytes) — the same single-shuffle shape as
    q_dedup_exact; at 100 TB the key could be md5(canon) to fix the
    shuffle width at 16 bytes.
    """
    d = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    host0 = F.concat(F.col("source"), F.lit(".example.com"))
    host1 = F.when(did % 3 == 0, F.concat(F.lit("www."), host0)).otherwise(host0)
    url = F.concat(
        F.when(did % 4 == 0, F.lit("http://")).otherwise(F.lit("https://")),
        F.when(did % 5 == 0, F.upper(host1)).otherwise(host1),
        F.lit("/docs/"),
        F.expr("CAST((doc_id DIV 20) % 5 AS STRING)"),
        F.when(did % 2 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(
            did % 4 == 1,
            F.concat(F.lit("?utm_source=feed&utm_id="), (did % 13).cast("string")),
        )
        .when(
            did % 4 == 2,
            F.concat(F.lit("?page="), (did % 3).cast("string"), F.lit("&utm_campaign=x")),
        )
        .otherwise(F.lit("")),
    )
    qpos = F.instr(F.col("url"), "?")
    base = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.lower(
                    F.when(qpos > 0, F.expr("substr(url, 1, instr(url, '?') - 1)"))
                    .otherwise(F.col("url"))
                ),
                "^https?://",
                "",
            ),
            r"^www\.",
            "",
        ),
        "/$",
        "",
    )
    q = F.when(qpos > 0, F.expr("substr(url, instr(url, '?') + 1)")).otherwise(F.lit(""))
    kept = F.array_join(
        F.array_sort(
            F.filter(F.split(F.col("q"), "&"), lambda x: ~x.startswith("utm_"))
        ),
        "&",
    )
    canon = F.concat(
        F.lit("https://"),
        F.col("base"),
        F.when(
            (F.col("q") == "") | (F.col("kept") == ""), F.lit("")
        ).otherwise(F.concat(F.lit("?"), F.col("kept"))),
    )
    return (
        d.select("doc_id", url.alias("url"))
        .withColumn("base", base)
        .withColumn("q", q)
        .withColumn("kept", kept)
        .select("doc_id", canon.alias("canon_url"))
        .groupBy("canon_url")
        .agg(F.min("doc_id").alias("survivor_id"), F.count(F.lit(1)).alias("n_urls"))
    )


_TEMP_BUDGET = 100  # total expected docs in the temperature-resampled mix


@register(
    "q_mixture_temperature",
    oracle=f"""
    WITH counts AS (
      SELECT source, COUNT(*) AS n_in FROM documents GROUP BY source
    ),
    tot AS (
      SELECT list_reduce(
        list_prepend(CAST(0 AS DOUBLE),
                     list_sort(list(sqrt(CAST(n_in AS DOUBLE))))),
        (a, x) -> a + x) AS z
      FROM counts
    ),
    w AS (
      SELECT source, n_in,
        sqrt(CAST(n_in AS DOUBLE)) / z AS temp_weight,
        least(1.0, CAST({_TEMP_BUDGET} AS DOUBLE)
                   * (sqrt(CAST(n_in AS DOUBLE)) / z)
                   / CAST(n_in AS DOUBLE)) AS keep_prob
      FROM counts, tot
    )
    SELECT w.source, n_in, temp_weight, keep_prob,
      COUNT(*) FILTER (
        WHERE {sql_md5_unit("CAST(d.doc_id AS VARCHAR)")} < keep_prob
      ) AS n_kept
    FROM w JOIN documents d ON d.source = w.source
    GROUP BY w.source, n_in, temp_weight, keep_prob
    """,
)
def q_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture sampling (the standard LLM
    data-mixing scheme, public from the GPT-3/PaLM data recipes and
    UniMax): source s is sampled proportionally to n_s^alpha with
    alpha = 0.5, flattening the head sources relative to natural
    proportions, and each source keeps an md5-deterministic subset
    sized to its temperature weight under a fixed total budget.

    Cross-engine determinism: alpha = 0.5 is computed as sqrt (IEEE-
    exact and identical in both engines — POWER(x, 0.5) is NOT
    guaranteed bit-equal to sqrt); the normalizer sums the per-source
    sqrt terms through the sorted-fold (float sums are order-dependent,
    and source iteration order differs between engines).

    100 TB plan: per-source counts are a vocabulary-sized aggregate;
    the normalizer is ONE row broadcast via cross join; keep/drop is a
    flat md5-threshold projection (no RNG, rerun-stable) and the audit
    aggregate shuffles once on source.  The same threshold yields the
    kept ROWS at scale; the registered query emits per-source totals
    to stay oracle-small."""
    docs = load_table(spark, sf_dir, "documents")
    # counts feeds BOTH the normalizer and the weights frame: without a
    # checkpoint the vocabulary-sized aggregate (and its documents
    # scan) re-executes per consumer (no cross-branch CSE)
    counts = (
        docs.groupBy(F.col("source").alias("csource"))
        .agg(F.count(F.lit(1)).alias("n_in"))
        # A/B: sf0.1 q_mixture_temperature 0.80 s with it vs 0.98 s without (IQR 0.16, 4/5 pairs)
        .localCheckpoint(eager=False)
    )
    tot = counts.agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.sqrt(F.col("n_in").cast("double")))),
            F.lit(0.0),
            lambda a, x: a + x,
        ).alias("z")
    )
    w = counts.crossJoin(F.broadcast(tot)).select(
        "csource",
        "n_in",
        (F.sqrt(F.col("n_in").cast("double")) / F.col("z")).alias("temp_weight"),
        F.least(
            F.lit(1.0),
            F.lit(float(_TEMP_BUDGET))
            * (F.sqrt(F.col("n_in").cast("double")) / F.col("z"))
            / F.col("n_in").cast("double"),
        ).alias("keep_prob"),
    )
    u = md5_unit(F.col("doc_id").cast("string"))
    return (
        docs.join(F.broadcast(w), F.col("source") == F.col("csource"))
        .select("source", "n_in", "temp_weight", "keep_prob", u.alias("u"))
        .groupBy("source", "n_in", "temp_weight", "keep_prob")
        .agg(
            F.sum(F.when(F.col("u") < F.col("keep_prob"), 1).otherwise(0)).alias(
                "n_kept"
            )
        )
    )


# distribution matching: resample the "crawl" half of the corpus
# (src0..src9) so its length-bin distribution matches the "reference"
# half (src10..src19).  100-char bins; acceptance is deterministic
# rejection sampling with the portable md5-uniform.
_DM_BIN = 100


@register(
    "q_distribution_match",
    oracle=f"""
    WITH docs AS (
      SELECT doc_id, n_chars // {_DM_BIN} AS bin,
        CAST(substr(source, 4) AS INT) < 10 AS is_crawl
      FROM documents WHERE n_chars IS NOT NULL
    ),
    a AS (
      SELECT bin, COUNT(*) AS cnt_a FROM docs WHERE is_crawl GROUP BY bin
    ),
    b AS (
      SELECT bin, COUNT(*) AS cnt_b FROM docs WHERE NOT is_crawl
      GROUP BY bin
    ),
    na AS (SELECT SUM(cnt_a) AS n_a FROM a),
    nb AS (SELECT SUM(cnt_b) AS n_b FROM b),
    ratios AS (
      SELECT a.bin, a.cnt_a,
        round(CAST(COALESCE(b.cnt_b, 0) * na.n_a AS DOUBLE)
              / (a.cnt_a * nb.n_b), 6) AS ratio
      FROM a LEFT JOIN b ON a.bin = b.bin CROSS JOIN na CROSS JOIN nb
    ),
    mx AS (SELECT MAX(ratio) AS m FROM ratios),
    probs AS (
      SELECT bin, cnt_a,
        CASE WHEN mx.m > 0 THEN round(ratio / mx.m, 6) ELSE 0.0 END
          AS accept_prob
      FROM ratios CROSS JOIN mx
    )
    SELECT p.bin AS bin, CAST(p.cnt_a AS BIGINT) AS n_orig,
      CAST(COUNT(CASE WHEN
        {sql_md5_unit("CAST(d.doc_id AS VARCHAR) || ':dm'")} < p.accept_prob
        THEN 1 END) AS BIGINT) AS n_accepted,
      p.accept_prob
    FROM probs p JOIN docs d ON d.bin = p.bin AND d.is_crawl
    GROUP BY p.bin, p.cnt_a, p.accept_prob
    """,
)
def q_distribution_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTRIBUTION MATCHING by deterministic rejection sampling (the
    importance-resampling step of training-data pipelines — e.g.
    matching a crawl's length profile to a curated reference corpus,
    the move behind quality-matched data mixes): per 100-char length
    bin, a crawl document is kept with probability proportional to
    (reference density / crawl density), normalized so the
    highest-ratio bin keeps everything.  Bins the reference corpus
    lacks get acceptance 0 (ratio's COALESCE), bins the crawl lacks
    have nothing to sample and don't appear.

    Determinism: densities are integer-count cross-products (one
    double division, 6dp); acceptance compares the portable
    md5-uniform (functions/portable_hash.py) against the 6dp-rounded
    probability — reproducible across engines, runs and cluster
    sizes, the same policy as q_split_train_eval.

    Scale: two bounded hash aggregates (|bins| rows), 1-row totals +
    |bins|-row prob table broadcast back onto the crawl scan; the
    accept decision is a pure projection."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("n_chars").isNotNull())
        .select(
            "doc_id",
            (F.col("n_chars") / _DM_BIN).cast("bigint").alias("bin"),
            (F.substring("source", 4, 10).cast("int") < 10).alias(
                "is_crawl"
            ),
        )
    )
    a = docs.filter("is_crawl").groupBy("bin").agg(
        F.count(F.lit(1)).alias("cnt_a")
    )
    b = docs.filter(~F.col("is_crawl")).groupBy("bin").agg(
        F.count(F.lit(1)).alias("cnt_b")
    )
    na = a.agg(F.sum("cnt_a").alias("n_a"))
    nb = b.agg(F.sum("cnt_b").alias("n_b"))
    ratios = (
        a.join(b.withColumnsRenamed({"bin": "bbin"}),
               F.col("bin") == F.col("bbin"), "left")
        .join(F.broadcast(na))
        .join(F.broadcast(nb))
        .select(
            "bin",
            "cnt_a",
            F.round(
                (F.coalesce(F.col("cnt_b"), F.lit(0)) * F.col("n_a"))
                .cast("double")
                / (F.col("cnt_a") * F.col("n_b")),
                6,
            ).alias("ratio"),
        )
    )
    mx = ratios.agg(F.max("ratio").alias("m"))
    # a reference sharing NO bin with the crawl zeroes every ratio:
    # 0/0 is NULL in Spark, NaN in DuckDB — pin acceptance to 0
    probs = ratios.join(F.broadcast(mx)).select(
        "bin",
        "cnt_a",
        F.when(F.col("m") > 0, F.round(F.col("ratio") / F.col("m"), 6))
        .otherwise(0.0)
        .alias("accept_prob"),
    )
    u = md5_unit(F.concat(F.col("doc_id").cast("string"), F.lit(":dm")))
    return (
        docs.filter("is_crawl")
        .join(F.broadcast(probs), "bin")
        .groupBy("bin", "cnt_a", "accept_prob")
        .agg(
            F.count(F.when(u < F.col("accept_prob"), 1))
            .cast("bigint")
            .alias("n_accepted")
        )
        .select(
            "bin",
            F.col("cnt_a").cast("bigint").alias("n_orig"),
            "n_accepted",
            "accept_prob",
        )
    )


# ------------------------------------------------------ code detection

# code-marker symbols counted per char; keywords matched as whole
# whitespace tokens — both exact integer features
_CODE_SYMS = ";{}()[]=<>"
_CODE_KWS = (
    "def", "return", "import", "class", "function", "var", "const",
    "if", "else", "for", "while", "elif", "lambda", "void", "int",
)
_CODE_SYM_RE = r"[;{}()\[\]=<>]"
_SYM_THR_NUM, _SYM_THR_DEN = 1, 20  # is_code when 20·sym_cnt ≥ n_chars
_KW_THR = 3


@register(
    "q_code_detect",
    oracle=f"""
    WITH feats AS (
      SELECT doc_id,
        CAST(length(text)
             - length(regexp_replace(text, '{_CODE_SYM_RE}', '', 'g'))
             AS BIGINT) AS sym_cnt,
        CAST(len(list_filter({{toks}},
          t -> list_contains([{", ".join(repr(k) for k in _CODE_KWS)}], t)))
          AS BIGINT) AS kw_cnt,
        CAST(length(text) AS BIGINT) AS n_chars
      FROM documents WHERE text IS NOT NULL
    )
    SELECT doc_id, sym_cnt, kw_cnt, n_chars,
      CASE WHEN n_chars > 0
        THEN round(CAST(sym_cnt AS DOUBLE) / n_chars, 6) END AS sym_ratio,
      ({_SYM_THR_DEN} * sym_cnt >= {_SYM_THR_NUM} * n_chars
       AND n_chars > 0) OR kw_cnt >= {_KW_THR} AS is_code
    FROM feats
    """.replace("{toks}", "regexp_split_to_array(text, ' ')"),
)
def q_code_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CODE-vs-PROSE detection for corpus curation: per document, the
    count of code-marker symbols (braces/brackets/operators), the
    count of programming-keyword tokens, and the is_code verdict —
    the filter a text-corpus pipeline runs to route source code away
    from (or into) the prose mixture, next to q_text_langid and
    q_text_quality in the gate chain.

    Exactness: both features are exact integers; the symbol ratio is
    an integer-ratio double with a 6dp guard and a NULL on empty
    text; the VERDICT itself compares in exact integers
    (20·sym ≥ chars) so the threshold boundary carries no float
    risk.  Keyword matching is exact whole-token equality on the
    whitespace split (deliberately conservative: 'return;' does not
    count — the symbol feature catches that form instead).

    Scale: map-only over documents — two codegen'd string
    expressions per row, zero shuffles, the scan-speed floor."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    kw_arr = F.array(*[F.lit(k) for k in _CODE_KWS])
    feats = docs.select(
        "doc_id",
        (
            F.length("text")
            - F.length(F.regexp_replace("text", _CODE_SYM_RE, ""))
        )
        .cast("bigint")
        .alias("sym_cnt"),
        F.size(
            F.filter(
                F.split(F.col("text"), " "),
                lambda t: F.array_contains(kw_arr, t),
            )
        )
        .cast("bigint")
        .alias("kw_cnt"),
        F.length("text").cast("bigint").alias("n_chars"),
    )
    return feats.select(
        "doc_id",
        "sym_cnt",
        "kw_cnt",
        "n_chars",
        F.when(
            F.col("n_chars") > 0,
            F.round(F.col("sym_cnt").cast("double") / F.col("n_chars"), 6),
        ).alias("sym_ratio"),
        (
            (
                (_SYM_THR_DEN * F.col("sym_cnt") >= _SYM_THR_NUM * F.col("n_chars"))
                & (F.col("n_chars") > 0)
            )
            | (F.col("kw_cnt") >= _KW_THR)
        ).alias("is_code"),
    )


# ---------------------------------------------------------------- r12 ops

# Gopher rule bounds (Rae et al. '21 §A1.1, public design), restricted
# to the rules computable on whitespace-tokenized text (the line-shape
# rules — bullet/ellipsis fractions — are vacuous on single-line docs
# and deliberately omitted).  All thresholds compare via integer
# cross-multiplication so no gate ever touches a float boundary.
_GOPHER_MIN_WORDS = 50
_GOPHER_MAX_WORDS = 100_000
_GOPHER_WLEN_LO = 3  # mean word length bounds
_GOPHER_WLEN_HI = 10
_GOPHER_ALPHA_NUM, _GOPHER_ALPHA_DEN = 8, 10  # >= 80% words alphabetic
_GOPHER_MIN_STOPKINDS = 2

_SQL_GOPHER_SW = "[" + ",".join(f"'{w}'" for w in X.STOPWORDS_EN) + "]"


@register(
    "q_gopher_rules",
    oracle=f"""
    WITH {_SQL_TOKS},
    ex AS (
      SELECT doc_id, unnest(toks) AS t FROM toks
    ),
    m AS (
      SELECT doc_id,
        CAST(COUNT(*) AS BIGINT) AS n_words,
        CAST(SUM(length(t)) AS BIGINT) AS sum_wlen,
        CAST(COUNT(*) FILTER (WHERE regexp_matches(t, '[a-z]'))
          AS BIGINT) AS n_alpha,
        CAST(COUNT(DISTINCT CASE WHEN list_contains({_SQL_GOPHER_SW}, t)
          THEN t END) AS BIGINT) AS n_stop_kinds
      FROM ex GROUP BY doc_id
    )
    SELECT doc_id, n_words, n_alpha, n_stop_kinds,
      CAST(sum_wlen AS DOUBLE) / n_words AS mean_wlen,
      (n_words BETWEEN {_GOPHER_MIN_WORDS} AND {_GOPHER_MAX_WORDS})
        AS ok_word_count,
      (sum_wlen >= {_GOPHER_WLEN_LO} * n_words
       AND sum_wlen <= {_GOPHER_WLEN_HI} * n_words) AS ok_mean_wlen,
      ({_GOPHER_ALPHA_DEN} * n_alpha >= {_GOPHER_ALPHA_NUM} * n_words)
        AS ok_alpha_words,
      (n_stop_kinds >= {_GOPHER_MIN_STOPKINDS}) AS ok_stopwords,
      ((n_words BETWEEN {_GOPHER_MIN_WORDS} AND {_GOPHER_MAX_WORDS})
       AND sum_wlen >= {_GOPHER_WLEN_LO} * n_words
       AND sum_wlen <= {_GOPHER_WLEN_HI} * n_words
       AND {_GOPHER_ALPHA_DEN} * n_alpha >= {_GOPHER_ALPHA_NUM} * n_words
       AND n_stop_kinds >= {_GOPHER_MIN_STOPKINDS}) AS pass_gopher
    FROM m
    """,
)
def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 document-quality GATE BATTERY (Gopher/MassiveText rules,
    public design — Rae et al. '21): per-document boolean gates for
    word count in [50, 100k], mean word length in [3, 10], >=80%
    alphabetic words, and >=2 distinct stopwords present, plus the
    conjunction (`pass_gopher`) a pretraining pipeline filters on.
    Complements q_text_quality (a composite SCORE): gates give the
    auditable per-rule rejection reason the score hides.

    Exactness: every gate compares integers (mean-word-length bounds
    via sum_wlen <=> k*n_words cross-multiplication), so no boolean
    ever depends on a float rounding; the one emitted double
    (mean_wlen) is an int/int IEEE division, bit-identical across
    engines.  Zero-token documents drop at the explode in both engines
    (they would fail the word-count gate anyway).

    Scale: one explode + one hash aggregate keyed by doc_id (map-side
    partials; per-group state is four counters) — the q_text_repetition
    shape, linear in corpus tokens, no window, no join."""
    docs = load_table(spark, sf_dir, "documents")
    ex = docs.select(
        "doc_id", F.explode(X.tokens("text")).alias("t")
    )
    m = ex.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_words"),
        F.sum(F.length("t")).cast("bigint").alias("sum_wlen"),
        F.count(F.when(F.col("t").rlike("[a-z]"), 1))
        .cast("bigint")
        .alias("n_alpha"),
        F.countDistinct(
            F.when(F.col("t").isin(*X.STOPWORDS_EN), F.col("t"))
        )
        .cast("bigint")
        .alias("n_stop_kinds"),
    )
    ok_words = F.col("n_words").between(_GOPHER_MIN_WORDS, _GOPHER_MAX_WORDS)
    ok_wlen = (
        F.col("sum_wlen") >= _GOPHER_WLEN_LO * F.col("n_words")
    ) & (F.col("sum_wlen") <= _GOPHER_WLEN_HI * F.col("n_words"))
    ok_alpha = (
        _GOPHER_ALPHA_DEN * F.col("n_alpha")
        >= _GOPHER_ALPHA_NUM * F.col("n_words")
    )
    ok_stop = F.col("n_stop_kinds") >= _GOPHER_MIN_STOPKINDS
    return m.select(
        "doc_id",
        "n_words",
        "n_alpha",
        "n_stop_kinds",
        (F.col("sum_wlen").cast("double") / F.col("n_words"))
        .alias("mean_wlen"),
        ok_words.alias("ok_word_count"),
        ok_wlen.alias("ok_mean_wlen"),
        ok_alpha.alias("ok_alpha_words"),
        ok_stop.alias("ok_stopwords"),
        (ok_words & ok_wlen & ok_alpha & ok_stop).alias("pass_gopher"),
    )


# Boilerplate phrase detection: a 3-gram counts as boilerplate within a
# source when it appears in at least _BP_MIN_DF distinct documents of
# that source; the report keeps the top _BP_TOPK per source (literal
# rank cap -> WindowGroupLimit).
_BP_MIN_DF = 2
_BP_TOPK = 20


@register(
    "q_boilerplate_ngrams",
    oracle=f"""
    WITH {_SQL_TOKS},
    tg AS (
      SELECT doc_id, source,
        toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS gram
      FROM (
        SELECT d.doc_id, d.source, t.toks,
          unnest(generate_series(1, length(t.toks) - 2)) AS i
        FROM documents d JOIN toks t ON t.doc_id = d.doc_id
        WHERE length(t.toks) >= 3
      )
    ),
    df AS (
      SELECT source, gram, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
      FROM tg GROUP BY source, gram
    ),
    nsrc AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY source
    ),
    ranked AS (
      SELECT df.source, gram, df, n_docs,
        row_number() OVER (PARTITION BY df.source
                           ORDER BY df DESC, gram) AS rn
      FROM df JOIN nsrc ON nsrc.source = df.source
      WHERE df >= {_BP_MIN_DF}
    )
    SELECT source, gram, df, n_docs,
      CAST(df AS DOUBLE) / n_docs AS df_share, CAST(rn AS BIGINT) AS rn
    FROM ranked WHERE rn <= {_BP_TOPK}
    """,
)
def q_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate PHRASE DICTIONARY per source (CCNet/RefinedWeb-style
    hygiene, public design): word-3-grams appearing in >= 2 distinct
    documents of the same source, ranked by document frequency — the
    header/footer/banner dictionary a cleaning pass strips before
    near-dup detection (complements q_dedup_segments, which REMOVES
    repeated segments; this REPORTS what repeats and how widely).

    Plan: explode 3-gram start positions to flat (source, gram, doc)
    rows in whole-stage codegen, COUNT(DISTINCT doc_id) by (source,
    gram) (two-phase expand + partial agg), join the |sources|-bounded
    doc-count table, literal top-20 rank per source — Spark plans
    WindowGroupLimit, so per-task heap state is 20 rows.  df_share
    divides identical integers in both engines."""
    docs = load_table(spark, sf_dir, "documents")
    tg = (
        docs.select("doc_id", "source", X.tokens("text").alias("toks"))
        .filter(F.size("toks") >= 3)
        .select(
            "doc_id",
            "source",
            "toks",
            F.explode(F.sequence(F.lit(1), F.size("toks") - 2)).alias("i"),
        )
        .select(
            "doc_id",
            "source",
            F.concat_ws(
                " ",
                F.element_at("toks", F.col("i")),
                F.element_at("toks", F.col("i") + 1),
                F.element_at("toks", F.col("i") + 2),
            ).alias("gram"),
        )
    )
    df = tg.groupBy("source", "gram").agg(
        F.countDistinct("doc_id").cast("bigint").alias("df")
    )
    nsrc = docs.groupBy(F.col("source").alias("nsource")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    w = Window.partitionBy("source").orderBy(F.desc("df"), F.asc("gram"))
    return (
        df.filter(F.col("df") >= _BP_MIN_DF)
        .join(nsrc, F.col("source") == F.col("nsource"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _BP_TOPK)
        .select(
            "source",
            "gram",
            "df",
            "n_docs",
            (F.col("df").cast("double") / F.col("n_docs")).alias("df_share"),
            F.col("rn").cast("bigint").alias("rn"),
        )
    )


# Quality-weighted selection: keep a document with probability equal to
# its quality score, decided by the deterministic md5 coin — the
# QuRating/DsDm-style data-selection shape (public designs) with an
# engine-independent sampler, so the kept set is bit-reproducible.
@register(
    "q_quality_select",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source,
        {sql_toks_expr()} AS toks,
        CAST(length(text) AS BIGINT) AS n_char,
        CAST(length(text) - length(regexp_replace(text,
          '[^\\w \\t\\n\\x0B\\f\\r]', '', 'g')) AS BIGINT) AS n_punct
      FROM documents
    ), s AS (
      SELECT doc_id, source, n_char, n_punct,
        CAST(length(toks) AS BIGINT) AS n_tok,
        CAST(length(list_filter(toks, t -> list_contains(
          {_SQL_GOPHER_SW}, t))) AS BIGINT) AS n_sw
      FROM t
    ), q AS (
      SELECT doc_id, source, n_tok,
        (least(CAST(n_char AS DOUBLE) / 400.0, 1.0)
         + (1.0 - least((CASE WHEN n_char = 0 THEN 0.0
              ELSE CAST(n_punct AS DOUBLE) / n_char END) * 4.0, 1.0))
         + least((CASE WHEN n_tok = 0 THEN 0.0
              ELSE CAST(n_sw AS DOUBLE) / n_tok END) * 2.0, 1.0)
        ) / 3.0 AS quality,
        {sql_md5_unit("'qsel' || CAST(doc_id AS VARCHAR)")} AS u
      FROM s
    )
    SELECT source,
      CAST(COUNT(*) AS BIGINT) AS n_in,
      CAST(COUNT(*) FILTER (WHERE u < quality) AS BIGINT) AS n_kept,
      CAST(COALESCE(SUM(n_tok) FILTER (WHERE u < quality), 0) AS BIGINT)
        AS tokens_kept
    FROM q GROUP BY source
    """,
)
def q_quality_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUALITY-WEIGHTED data selection (QuRating / DsDm shape, public
    designs): each document is kept with probability equal to its
    heuristic quality score, using the deterministic md5 coin
    (u = md5('qsel'||doc_id)/2^60 < quality) instead of an RNG — the
    kept set replays bit-identically on any cluster and in the oracle.
    Complements q_dataset_mixture (UNIFORM per-source caps): here the
    keep decision is per-document and quality-proportional, the
    "sample good data more" arm of mixture design.

    Exactness: quality is q_text_quality's composite (already
    hash-green — bit-identical ratios across engines); u and quality
    are both deterministic doubles, so u < quality is the same boolean
    everywhere.  The audit emits per-source kept counts/token mass
    (bounded by |sources|); the kept ROWS are the same filter without
    the final aggregate.

    Scale: flat per-row projections (no UDF) + one aggregate keyed by
    source; the md5 coin is whole-stage-codegen'd JVM md5."""
    docs = load_table(spark, sf_dir, "documents")
    u = md5_unit(F.concat(F.lit("qsel"), F.col("doc_id").cast("string")))
    g = docs.select(
        "source",
        F.size(X.tokens("text")).cast("bigint").alias("n_tok"),
        (u < X.quality_score("text")).alias("kept"),
    )
    return g.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_in"),
        F.count(F.when(F.col("kept"), 1)).cast("bigint").alias("n_kept"),
        F.coalesce(F.sum(F.when(F.col("kept"), F.col("n_tok"))), F.lit(0))
        .cast("bigint")
        .alias("tokens_kept"),
    )


# Post-stratification weights: estimate corpus composition from a
# deterministic md5 sample, then weight each stratum by
# (population share) / (sample share) — the survey-statistics
# correction every sampled-audit pipeline needs before extrapolating
# sample metrics to the corpus.
_PS_THR = "4"  # md5 hex prefix < '4' ~ 1/4 of the key space


@register(
    "q_poststrat_weights",
    oracle=f"""
    WITH pop AS (
      SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n_pop
      FROM documents GROUP BY source, lang
    ),
    tot AS (SELECT CAST(SUM(n_pop) AS BIGINT) AS n_tot FROM pop),
    samp AS (
      SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n_samp
      FROM documents
      WHERE md5(CAST(doc_id AS VARCHAR)) < '{_PS_THR}'
      GROUP BY source, lang
    ),
    stot AS (SELECT CAST(COALESCE(SUM(n_samp), 0) AS BIGINT) AS n_stot
             FROM samp)
    SELECT p.source, p.lang, p.n_pop, COALESCE(s.n_samp, 0) AS n_samp,
      CASE WHEN COALESCE(s.n_samp, 0) > 0
        THEN round((CAST(p.n_pop AS DOUBLE) / t.n_tot)
                   / (CAST(s.n_samp AS DOUBLE) / st.n_stot), 6)
      END AS weight
    FROM pop p
    LEFT JOIN samp s ON s.source = p.source AND s.lang = p.lang
    CROSS JOIN tot t CROSS JOIN stot st
    """,
)
def q_poststrat_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POST-STRATIFICATION weights over a deterministic md5 sample
    (survey-statistics design, public): sample ~1/4 of documents by
    md5(doc_id) threshold, count per (source, lang) stratum in both
    population and sample, and emit weight = pop_share / sample_share —
    the correction factor that makes sampled audit metrics (quality
    rates, contamination rates) unbiased corpus estimates.  Strata the
    sample missed get NULL weight (flagged for a bigger slice), never a
    silent 0.

    Exactness: the md5 slice is the repo's standard cross-engine
    sampler; weights are one 6dp-rounded division of two int-ratio
    doubles.  Scale: two aggregates over the corpus (one filtered
    map-side by the md5 predicate), 1-row totals broadcast, stratum
    table bounded by |sources|x|langs|."""
    docs = load_table(spark, sf_dir, "documents")
    pop = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pop")
    )
    samp = (
        docs.filter(F.md5(F.col("doc_id").cast("string")) < _PS_THR)
        .groupBy(F.col("source").alias("ssource"), F.col("lang").alias("slang"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_samp_raw"))
    )
    tot = pop.agg(F.sum("n_pop").cast("bigint").alias("n_tot"))
    stot = samp.agg(
        F.coalesce(F.sum("n_samp_raw"), F.lit(0)).cast("bigint").alias("n_stot")
    )
    return (
        pop.join(
            samp,
            (F.col("source") == F.col("ssource"))
            & (F.col("lang") == F.col("slang")),
            "left",
        )
        .join(F.broadcast(tot))
        .join(F.broadcast(stot))
        .select(
            "source",
            "lang",
            "n_pop",
            F.coalesce(F.col("n_samp_raw"), F.lit(0))
            .cast("bigint")
            .alias("n_samp"),
            F.when(
                F.coalesce(F.col("n_samp_raw"), F.lit(0)) > 0,
                F.round(
                    (F.col("n_pop").cast("double") / F.col("n_tot"))
                    / (F.col("n_samp_raw").cast("double") / F.col("n_stot")),
                    6,
                ),
            ).alias("weight"),
        )
    )
