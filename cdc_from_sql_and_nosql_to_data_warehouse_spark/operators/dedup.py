"""Tier C deduplication operators (driver north star; SURVEY.md §2.3
C1/C2): exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine.

Scale design: near-dup never compares all pairs.  MinHash/SimHash band
signatures turn the candidate search into an equi-join on a bucket key
(one shuffle, skew-safe under AQE); exact Jaccard/cosine verification
runs only on bucket-mates.  The small-SF oracle queries for the exact
variants verify semantics; the hash-based variants are deterministic but
engine-specific (murmur3/xxhash64), so the driver records rows-only.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from pyspark.storagelevel import StorageLevel

from cdc_from_sql_and_nosql_to_data_warehouse_spark.functions import text as X
from cdc_from_sql_and_nosql_to_data_warehouse_spark.functions import vectors as V
from cdc_from_sql_and_nosql_to_data_warehouse_spark.functions.normalize import loud_src_n
from cdc_from_sql_and_nosql_to_data_warehouse_spark.functions.parallelism import spread
from cdc_from_sql_and_nosql_to_data_warehouse_spark.functions.portable_hash import (
    SQL_TOKS_EXPR,
    sql_md5_int,
)
from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators import (
    register,
    register_sampled,
)
from cdc_from_sql_and_nosql_to_data_warehouse_spark.sources.readers import load_table


@register(
    "q_dedup_exact",
    oracle="""
    SELECT md5(regexp_replace(trim(lower(text)), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')) AS fp,
      MIN(doc_id) AS keep_doc_id,
      COUNT(*) AS n_copies
    FROM documents
    GROUP BY md5(regexp_replace(trim(lower(text)), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'))
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1 exact dedup by canonical-text hash: one hash-groupBy shuffle,
    deterministic survivor (min doc_id) — never dropDuplicates, whose
    survivor is partitioning-dependent."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", X.fingerprint("text").alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


@register(
    "q_dedup_exact_rows",
    oracle="""
    SELECT doc_id, lang, source, n_chars FROM (
      SELECT *, row_number() OVER (
        PARTITION BY md5(regexp_replace(trim(lower(text)), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'))
        ORDER BY doc_id) AS rn
      FROM documents
    ) WHERE rn = 1
    """,
)
def q_dedup_exact_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1 exact dedup, surviving-rows form (row_number over the
    fingerprint partition — the latest-wins pattern with a min-wins
    ordering)."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy(X.fingerprint("text")).orderBy("doc_id")
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang", "source", "n_chars")
    )


_MERSENNE61 = (1 << 61) - 1
# fixed affine-permutation constants (a odd, any b) — deterministic,
# no RNG so signatures are stable across sessions and partitions
_PERMS = [
    (((2654435761 * (i + 1)) & ((1 << 31) - 1)) | 1, (40503 * (i + 7)) % _MERSENNE61)
    for i in range(64)
]


def minhash_min_aggs(hash_col: str, n_hashes: int = 16) -> list[F.Column]:
    """MinHash as a CODEGEN'D hash aggregate: for exploded
    (id, shingle-hash) rows, the i-th signature value is
    ``min(a_i*h + b_i mod 2^61-1)`` — one universal affine permutation
    per aggregate, all Tungsten integer ops.

    Why not `transform`/`array_min` over a shingle array?  Spark
    evaluates higher-order functions INTERPRETED, outside whole-stage
    codegen — 16 interpreted array passes dominated the minhash bench
    (the measured trap recorded in SCALE.md).  Explode + partial
    hash-agg keeps everything in generated code, and the map-side
    partial agg means the shuffle carries n_hashes longs per doc, not
    per shingle.  a < 2^31 and |h| < 2^31 keep a*h+b inside 2^63.
    """
    h = F.col(hash_col).cast("bigint")
    return [
        F.min(F.pmod(F.lit(a) * h + F.lit(b), F.lit(_MERSENNE61))).alias(f"m{i}")
        for i, (a, b) in enumerate(_PERMS[:n_hashes])
    ]


def minhash_candidates(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    n_hashes: int = 16, bands: int = 4, shingle_n: int = 3,
) -> DataFrame:
    """MinHash+LSH candidate pairs: shingle → minhash → band → bucket
    equi-join (SURVEY.md north star).  Returns (a, b, jaccard) for
    bucket-mates with exact Jaccard computed on distinct shingle sets."""
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.functions.text import _shingle_starts

    rows = n_hashes // bands
    # FLAT (id, h) shingle-hash rows: explode the start positions first
    # so murmur3 runs in a whole-stage-codegen projection — building
    # per-doc shingle arrays with transform lambdas runs interpreted
    # (the measured trap; md5_shingle_rows records the 4x number).
    # Shingles as murmur3 ints, never strings: MinHash and the Jaccard
    # verify only need shingle identity.  The flat relation feeds the
    # signature agg and (as collect_set) both verify sides.
    ex = (
        docs.select(F.col(id_col).alias("id"), X.tokens(text_col).alias("toks"))
        .select("id", "toks", F.explode(_shingle_starts(F.col("toks"), shingle_n)).alias("i"))
        .select(
            "id",
            F.hash(
                *[F.element_at("toks", F.col("i") + k) for k in range(shingle_n)]
            ).alias("h"),
        )
    )
    sh = ex.groupBy("id").agg(F.collect_set("h").alias("shingles"))
    # Signature via codegen'd hash aggregate (see minhash_min_aggs): 16
    # affine-permuted mins computed map-side; the exchange carries 16
    # longs per doc, not per shingle (duplicates cannot change a min).
    sig = ex.groupBy("id").agg(*minhash_min_aggs("h", n_hashes))
    # Band rows carry only (id, band, bucket) — never the shingle arrays
    # — so the candidate-generation shuffle moves a few bytes per row.
    # Shingles are re-attached only for the (rare) candidate pairs.
    banded = sig.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.hash(*[F.col(f"m{b * rows + r}") for r in range(rows)]).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("a"), F.col("b.id").alias("b"))
        .dropDuplicates(["a", "b"])  # same pair can collide in several bands
    )
    shingle_sets = sh.select("id", "shingles")
    verified = (
        pairs.join(shingle_sets.withColumnRenamed("id", "a").withColumnRenamed("shingles", "sh_a"), "a")
        .join(shingle_sets.withColumnRenamed("id", "b").withColumnRenamed("shingles", "sh_b"), "b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    return verified.select("a", "b", (inter / union).alias("jaccard"))


@register("q_dedup_near_minhash")  # murmur3-based — rows-only check
def q_dedup_near_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2 MinHash+LSH near-dup candidates with exact Jaccard verify,
    thresholded at 0.5."""
    docs = load_table(spark, sf_dir, "documents")
    return minhash_candidates(docs).filter(F.col("jaccard") >= 0.5)


# Cross-engine shingle identity: ONE md5 per shingle, folded to a
# 60-bit int (15 hex digits — DuckDB parses '0x…'::BIGINT, Spark
# conv(…,16,10); both positive, both < 2^63).  Identity ints make the
# Jaccard verify an integer-array intersect and let the MinHash
# permutations be pure codegen'd integer arithmetic — measured ~4x
# cheaper than hashing each shingle once per permutation with salted
# md5 strings.
_M31 = 2147483647  # fold to < 2^31 so a*h+b stays inside 2^63

# Shared DuckDB CTE: distinct hashed word-3-gram shingles per document,
# short (< 3-token) documents excluded — generate_series(1, 0) is empty
# in DuckDB, and the Spark side's _shingle_starts guard matches it.
# COUPLING: _sampled_docs_sql() (below) rewrites the single literal
# "FROM documents" in this string via str.replace to inject the
# md5-slice WHERE clause for sampled oracles — if you add a WHERE here
# or a second "FROM documents" occurrence, update _sampled_docs_sql in
# the same change or the sampled SQL silently goes wrong.
_SQL_SHINGLES = f"""
    sh AS (
      SELECT doc_id,
        list_distinct(list_transform(
          list_transform(
            generate_series(1, greatest(length(toks) - 2, 0)),
            i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]),
          s -> {sql_md5_int('s')})) AS shingles
      FROM (
        SELECT doc_id,
          {SQL_TOKS_EXPR} AS toks
        FROM documents
      )
    ),
    shn AS (SELECT * FROM sh WHERE length(shingles) > 0)
"""


def md5_shingle_rows(docs: DataFrame, n: int = 3, rebalance: bool = False) -> DataFrame:
    """FLAT (id, h) rows of 60-bit md5-derived word-n-gram shingle ids.

    The shape matters more than the hash: building per-doc shingle
    ARRAYS with transform lambdas runs interpreted (measured 4.8 s at
    sf0.1 — the whole rest of the pipeline is <2 s), while exploding
    the start positions first puts md5(concat_ws(slice)) in a flat
    projection inside whole-stage codegen (measured ~6x faster).
    Documents with fewer than n tokens vanish at the explode (empty
    start sequence), matching the oracle's length-guard.  Consumers
    rebuild per-doc sets with collect_set only where sets are really
    needed (the Jaccard verify); MinHash mins consume the flat rows
    directly — duplicate shingles cannot change a min.

    ``rebalance`` spreads the (id, text) projection before the
    tokenize+explode so the shingling escapes the scan's file-layout
    parallelism.  Opt-in per call site because the r13 interleaved A/B
    split cleanly by consumer shape: the prefix-filter pipelines whose
    next step is a distinct/checkpoint win (q_setsim_join min-of-5
    3.47→2.77 s, q_dedup_containment neutral 3.04/3.66 → 3.12/3.39),
    while the band-key pipelines whose next step is a per-doc min/sum
    aggregate LOSE ~10% (q_dedup_minhash_md5 1.22→1.31,
    q_dedup_simhash_md5 1.00→1.12): their map-side partials reduce the
    exploded rows to one row per doc BEFORE the exchange, and spreading
    first multiplies the shuffled partial rows by the task count — the
    q_weighted_quantile trade again."""
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.functions.text import _shingle_starts

    toks = X.tokens("text")
    base = docs.select(F.col("doc_id").alias("id"), "text")
    if rebalance:
        base = spread(base)
    return (
        base.select("id", toks.alias("toks"))
        .select("id", "toks", F.explode(_shingle_starts(F.col("toks"), n)).alias("i"))
        .select(
            "id",
            F.conv(
                F.substring(F.md5(F.concat_ws(" ", F.slice("toks", F.col("i"), n))), 1, 15),
                16,
                10,
            )
            .cast("bigint")
            .alias("h"),
        )
    )


def _md5_band_keys(ex: DataFrame, n_bands: int, rows_per_band: int = 1) -> DataFrame:
    """(id, band, key) rows for MinHash LSH over flat (id, h) shingle
    rows: the k-th minhash is ``min over shingles of (a_k·(h mod
    2^31-1)+b_k mod 2^61-1)`` (the same affine permutations as the
    murmur3 path, _PERMS), and a band key joins ``rows_per_band``
    consecutive mins.  Every operation is engine-portable integer
    arithmetic on the shared md5-derived ids, so DuckDB reproduces the
    buckets bit-for-bit.  Codegen'd min-aggregates with map-side
    partials: the shuffle carries n_bands*rows_per_band longs per doc."""
    n_hashes = n_bands * rows_per_band
    # fold to 31 bits ONCE in the projection; the aggs then share the
    # materialized column instead of re-evaluating the pmod per hash
    sig = (
        ex.select("id", F.pmod(F.col("h"), F.lit(_M31)).alias("h31"))
        .groupBy("id")
        .agg(
            *[
                F.min(F.pmod(F.lit(a) * F.col("h31") + F.lit(b), F.lit(_MERSENNE61))).alias(f"m{k}")
                for k, (a, b) in enumerate(_PERMS[:n_hashes])
            ]
        )
    )
    return sig.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            "_",
                            *[F.col(f"m{b * rows_per_band + r}") for r in range(rows_per_band)],
                        ).alias("key"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.key")


def _sql_band_keys(n_bands: int, rows_per_band: int = 1) -> str:
    """DuckDB twin of _md5_band_keys over the ``shn`` CTE: ``sig``
    (affine-min signature) and ``bk`` (exploded band keys)."""
    n_hashes = n_bands * rows_per_band
    mins = ",\n        ".join(
        f"min(({a} * h + {b}) % {_MERSENNE61}) AS m{k}"
        for k, (a, b) in enumerate(_PERMS[:n_hashes])
    )
    bands = "\n      UNION ALL\n".join(
        "      SELECT doc_id, {b} AS band, {key} AS key FROM sig".format(
            b=b,
            key=" || '_' || ".join(
                f"CAST(m{b * rows_per_band + r} AS VARCHAR)" for r in range(rows_per_band)
            ),
        )
        for b in range(n_bands)
    )
    return f"""
    sig AS (
      SELECT doc_id, {mins}
      FROM (SELECT doc_id, unnest(shingles) % {_M31} AS h FROM shn)
      GROUP BY doc_id
    ),
    bk AS (
{bands}
    )
"""


@register(
    "q_dedup_ngram_jaccard",
    oracle=f"""
    WITH {_SQL_SHINGLES}, {_sql_band_keys(n_bands=4, rows_per_band=1)},
    pairs AS (
      SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
      FROM bk a JOIN bk b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    )
    SELECT p.a, p.b,
      CAST(length(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
        / length(list_distinct(list_concat(sa.shingles, sb.shingles))) AS jaccard
    FROM pairs p
    JOIN shn sa ON sa.doc_id = p.a
    JOIN shn sb ON sb.doc_id = p.b
    WHERE length(list_intersect(sa.shingles, sb.shingles)) * 4
          >= length(list_distinct(list_concat(sa.shingles, sb.shingles)))
    """,
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2 word-3-gram Jaccard similarity with md5-derived MinHash band
    blocking (4 bands of 1 hash): candidate pairs share at least one
    salted-md5 min-shingle, so block size is bounded by hash-key
    popularity — corpus-independent, unlike blocking on a metadata
    column (``source``), whose blocks grow quadratically with corpus
    size.  md5 makes the blocks bit-identical in DuckDB, so the whole
    pipeline (not just the verify step) is oracle-checked.  Keeps pairs
    with jaccard >= 0.25 via integer cross-multiplication (no float
    threshold ambiguity)."""
    docs = load_table(spark, sf_dir, "documents")
    return md5_jaccard_pairs(docs, n_bands=4, rows_per_band=1, thr_num=1, thr_den=4)


@register(
    "q_dedup_minhash_md5",
    oracle=f"""
    WITH {_SQL_SHINGLES}, {_sql_band_keys(n_bands=4, rows_per_band=2)},
    pairs AS (
      SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
      FROM bk a JOIN bk b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    )
    SELECT p.a, p.b,
      CAST(length(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
        / length(list_distinct(list_concat(sa.shingles, sb.shingles))) AS jaccard
    FROM pairs p
    JOIN shn sa ON sa.doc_id = p.a
    JOIN shn sb ON sb.doc_id = p.b
    WHERE length(list_intersect(sa.shingles, sb.shingles)) * 2
          >= length(list_distinct(list_concat(sa.shingles, sb.shingles)))
    """,
)
def q_dedup_minhash_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2 MinHash+LSH near-dup, fully oracle-checked: 8 salted-md5
    min-hashes in 4 bands of 2, bucket equi-join for candidates, exact
    Jaccard >= 0.5 verify on bucket-mates.  Same scale shape as
    q_dedup_near_minhash (explode + codegen'd min-aggs, band-bucket
    equi-join, verify only on candidates); md5 instead of murmur3 makes
    every stage engine-portable, at ~2x the hash cost — the murmur3
    path stays the throughput choice, this one is the correctness
    anchor the driver can hash-check end-to-end."""
    docs = load_table(spark, sf_dir, "documents")
    return md5_minhash_pairs(docs)


def jaccard_verify(
    pairs: DataFrame,
    sh: DataFrame,
    left: str,
    right: str,
    thr_num: int,
    thr_den: int,
) -> DataFrame:
    """Exact-Jaccard verification shared by every md5 band pipeline:
    attach both shingle sets to the candidate pairs and keep
    jaccard ≥ thr_num/thr_den via integer cross-multiplication (the
    threshold boundary carries no float risk).  Extracted from three
    hand-maintained copies (review-caught lockstep-edit hazard)."""
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return (
        pairs.join(
            sh.select(F.col("id").alias(left), F.col("shingles").alias("sh_a")), left
        )
        .join(
            sh.select(F.col("id").alias(right), F.col("shingles").alias("sh_b")), right
        )
        .filter(inter * thr_den >= thr_num * union)
        .select(
            left,
            right,
            (inter.cast("double") / union.cast("double")).alias("jaccard"),
        )
    )


def md5_jaccard_pairs(
    docs: DataFrame, n_bands: int, rows_per_band: int, thr_num: int, thr_den: int
) -> DataFrame:
    """(a, b, jaccard) near-dup pairs from the engine-portable md5
    band pipeline: flat shingle rows → band keys → bucket-mate
    self-join → exact-Jaccard verify.  One parameterized body replaces
    the previously triplicated block; the band/row/threshold knobs are
    the only thing the variants ever differed in."""
    # A/B: sf0.1 q_dedup_minhash_md5 1.50 s with it vs 1.81 s without (IQR 0.16, 4/5 pairs);
    # q_dedup_ngram_jaccard 1.75 vs 1.70 s (IQR 0.24): no loss
    ex = md5_shingle_rows(docs, 3).localCheckpoint(eager=False)
    sh = ex.groupBy("id").agg(F.collect_set("h").alias("shingles"))
    bk = _md5_band_keys(ex, n_bands=n_bands, rows_per_band=rows_per_band)
    a, b = bk.alias("a"), bk.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("a"), F.col("b.id").alias("b"))
        .dropDuplicates(["a", "b"])
    )
    return jaccard_verify(pairs, sh, "a", "b", thr_num, thr_den)


def md5_minhash_pairs(docs: DataFrame) -> DataFrame:
    """(a, b, jaccard) near-dup pairs from the engine-portable md5
    MinHash path (4 bands × 2 rows, exact Jaccard ≥ 0.5 verify) — the
    pair feed shared by q_dedup_minhash_md5 and the oracle-checked
    cluster resolution."""
    return md5_jaccard_pairs(docs, n_bands=4, rows_per_band=2, thr_num=1, thr_den=2)


def simhash_signatures(docs: DataFrame, n_bits: int = 16) -> DataFrame:
    """(doc_id, simhash) via the flat explode+aggregate shape: tokens
    explode to (doc_id, xxhash64) rows and each signature bit is a
    codegen'd conditional SUM over the hash's own bits (+1/-1), packed
    back to a BIGINT in the post-agg projection.  Per-bit array folds
    (`F.aggregate` lambdas) run interpreted — the same measured trap as
    MinHash shingling — while these n_bits sums partial-aggregate
    map-side like any hash aggregate.  Documents with no tokens drop
    out at the explode (an all-empty bucket would otherwise match every
    empty doc against every other)."""
    ex = docs.select("doc_id", F.explode(X.tokens("text")).alias("t")).select(
        "doc_id", F.xxhash64("t").alias("h")
    )
    return simhash_pack(ex, n_bits)


def simhash_pack(ex: DataFrame, n_bits: int) -> DataFrame:
    """(doc_id, h) hash rows → packed n-bit simhash: ONE hash-aggregate
    of n_bits conditional ±1 bit sums (map-side partials — the shuffle
    carries n_bits longs per doc), packed in the post-agg projection.
    Bit b is tested as shiftright(h, b) & 1, identical in outcome to a
    mask test for any sign of h.  Shared by the xxhash64 throughput
    variant and the md5 oracle variant (review-caught duplication)."""
    bit_sums = ex.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(
                    F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1
                ).otherwise(-1)
            ).alias(f"s{b}")
            for b in range(n_bits)
        ]
    )
    packed = F.lit(0).cast("bigint")
    for b in range(n_bits):
        packed = packed + F.when(
            F.col(f"s{b}") > 0, F.lit(1 << b).cast("bigint")
        ).otherwise(F.lit(0).cast("bigint"))
    return bit_sums.select("doc_id", packed.alias("simhash"))


def simhash_equal_pairs(sig: DataFrame) -> DataFrame:
    """Signature-equality bucket join (a < b) over a checkpointed
    signature frame — the candidate stage both simhash variants share."""
    a, b = sig.alias("a"), sig.alias("b")
    return a.join(
        b,
        (F.col("a.simhash") == F.col("b.simhash")) & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("a"),
        F.col("b.doc_id").alias("b"),
        F.col("a.simhash").alias("simhash"),
    )


@register("q_dedup_simhash")  # xxhash64-based — rows-only check
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2 SimHash near-dup: signature per doc, candidates = equal
    signature (bucket join), no pairwise scan."""
    docs = load_table(spark, sf_dir, "documents")
    return simhash_equal_pairs(simhash_signatures(docs))


_SIMHASH_BITS = 16

_SQL_MD5_SIMHASH_SIG = """
    st AS (
      SELECT doc_id, toks,
        unnest(generate_series(1, greatest(length(toks) - 2, 0))) AS i
      FROM (
        SELECT doc_id,
          """ + SQL_TOKS_EXPR + """ AS toks
        FROM documents
      )
    ),
    flat AS (
      SELECT doc_id,
        """ + sql_md5_int("toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]") + """ AS h
      FROM st
    ),
    bits AS (
      SELECT doc_id,
        {sums}
      FROM flat GROUP BY doc_id
    ),
    sig AS (
      SELECT doc_id, {pack} AS simhash FROM bits
    )
""".format(
    sums=",\n        ".join(
        f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}"
        for b in range(_SIMHASH_BITS)
    ),
    pack=" + ".join(
        f"(CASE WHEN s{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for b in range(_SIMHASH_BITS)
    ),
)


@register(
    "q_dedup_simhash_md5",
    oracle=f"""
    WITH {_SQL_MD5_SIMHASH_SIG}
    SELECT a.doc_id AS a, b.doc_id AS b, a.simhash AS simhash
    FROM sig a JOIN sig b ON a.simhash = b.simhash AND a.doc_id < b.doc_id
    """,
)
def q_dedup_simhash_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2 SimHash near-dup, fully oracle-checked: 16-bit weighted
    SimHash over the shared md5-derived shingle ids (duplicates kept —
    repeated shingles vote repeatedly, the standard weighting), then
    candidates = equal signature.  The xxhash64 twin
    (`q_dedup_simhash`) stays rows-only; this variant proves the
    algorithm end-to-end against DuckDB.

    Plan: flat (id, h) shingle rows in codegen (md5_shingle_rows) →
    ONE hash-aggregate computing all 16 conditional bit sums with
    map-side partials (the shuffle carries 16 longs per doc) → packed
    signature → self-equi-join on the signature.  No pairwise scan at
    any scale; the signature join side is unhinted so AQE picks the
    strategy."""
    docs = load_table(spark, sf_dir, "documents")
    ex = md5_shingle_rows(docs).select(F.col("id").alias("doc_id"), "h")
    return simhash_equal_pairs(simhash_pack(ex, _SIMHASH_BITS))


_SQL_DOT_FOLD = """
  list_reduce(
    list_prepend(CAST(0 AS DOUBLE),
      list_transform(generate_series(1, length({a})),
        i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))),
    (x, y) -> x + y)
"""


def _sql_cosine(a: str, b: str) -> str:
    dot = _SQL_DOT_FOLD.format(a=a, b=b)
    na = _SQL_DOT_FOLD.format(a=a, b=a)
    nb = _SQL_DOT_FOLD.format(a=b, b=b)
    return f"({dot}) / (sqrt({na}) * sqrt({nb}))"


@register(
    "q_dedup_embedding",
    oracle=f"""
    SELECT a.vec_id AS a, b.vec_id AS b,
      {_sql_cosine('a.embedding', 'b.embedding')} AS cosine
    FROM embeddings a JOIN embeddings b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE {_sql_cosine('a.embedding', 'b.embedding')} >= 0.35
    """,
)
def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2 embedding-cosine near-dup, blocked by ``label`` (the cluster
    id acts as the IVF cell — at scale the blocking key comes from an
    LSH signature, similarity._signature_rows' Arrow matmul kernel or
    its expression-form reference vectors.hyperplane_signature).
    Cosine is a
    left-fold in doubles on both sides, so the 0.35 threshold compares
    bit-identical values.

    spread (r13): the pair-join's dot folds inherit the scan's
    file-layout parallelism (1 partition on single-row-group testdata),
    so the ~200k interpreted folds ran on one core; one narrow
    round-robin exchange (reused by both join sides) parallelizes them.
    A/B min-of-5: 2.26 s → 0.46 s.  An Arrow mapInArrow kernel
    (bit-exact column-loop fold) was built and measured AGAINST this:
    0.69 s with spread, 2.49 s without — the JVM fold parallelized
    beats the Python boundary, so the kernel was not adopted."""
    emb = spread(
        load_table(spark, sf_dir, "embeddings").select(
            "vec_id", "label", "embedding", V.norm2("embedding").alias("nrm")
        )
    )
    a, b = emb.alias("a"), emb.alias("b")
    # norms precomputed ONCE per vector (N folds), not per pair (3N²
    # interpreted folds — measured 3x of the query's cost); the dot
    # fold and the na*nb product are bit-identical to V.cosine, so the
    # oracle is unchanged
    cos = V.dot(F.col("a.embedding"), F.col("b.embedding")) / (
        F.col("a.nrm") * F.col("b.nrm")
    )
    return (
        a.join(b, (F.col("a.label") == F.col("b.label")) & (F.col("a.vec_id") < F.col("b.vec_id")))
        .select(F.col("a.vec_id").alias("a"), F.col("b.vec_id").alias("b"), cos.alias("cosine"))
        .filter(F.col("cosine") >= 0.35)
    )


@register(
    "q_semdedup",
    oracle=f"""
    WITH dropped AS (
      SELECT DISTINCT b.vec_id AS vec_id
      FROM embeddings a JOIN embeddings b
        ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE {_sql_cosine('a.embedding', 'b.embedding')} >= 0.35
    )
    SELECT e.vec_id, e.label, (d.vec_id IS NULL) AS kept
    FROM embeddings e LEFT JOIN dropped d ON e.vec_id = d.vec_id
    """,
)
def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2 semantic dedup, SemDeDup-style (Abbas et al. 2023, public):
    cluster the corpus coarsely, then inside each cluster keep/drop by
    near-identity (cosine ≥ 0.35) — the *decision* that turns
    q_dedup_embedding's candidate pairs into a curated corpus.  Policy:
    an item is dropped iff it has ANY lower-vec_id neighbor over the
    threshold (one-pass, deterministic — the anti-join analog of
    SemDeDup's keep-one-per-ε-ball; slightly more aggressive than
    sequential greedy on chains a~b~c, by design: no iteration).

    Scale: identical candidate generation to q_dedup_embedding
    (cluster-blocked self-join — here ``label``, at 100 TB the trained
    IVF cell from similarity._ivf_centroids); the decision adds ONE
    distinct + ONE left join keyed by vec_id.  Nothing quadratic
    outside a cluster.

    spread (r13): same single-row-group fix as q_dedup_embedding —
    the pair folds ran single-threaded; A/B min-of-5 2.32 s → 0.94 s
    (the Arrow-kernel alternative measured slower, see there)."""
    emb = spread(
        load_table(spark, sf_dir, "embeddings").select(
            "vec_id", "label", "embedding", V.norm2("embedding").alias("nrm")
        )
    )
    a, b = emb.alias("a"), emb.alias("b")
    cos = V.dot(F.col("a.embedding"), F.col("b.embedding")) / (
        F.col("a.nrm") * F.col("b.nrm")
    )
    dropped = (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .filter(cos >= 0.35)
        .select(F.col("b.vec_id").alias("vec_id"))
        .distinct()
        .withColumn("__dropped", F.lit(1))
    )
    return (
        emb.select("vec_id", "label")
        .join(dropped, "vec_id", "left")
        .select("vec_id", "label", F.col("__dropped").isNull().alias("kept"))
    )


def dedup_clusters(pairs: DataFrame, max_iters: int = 20) -> DataFrame:
    """Connected components over near-dup candidate pairs → one cluster
    id per document (the min doc id in its component).  This is the
    step that turns pairwise matches into a keep-one-per-cluster
    decision for corpus dedup.

    Algorithm: iterative min-label propagation (large/small-star
    flavor).  Each round every node adopts the smallest label among
    itself and its neighbors — a groupBy(min) per round, converging in
    O(diameter) rounds.  Near-dup graphs are overwhelmingly tiny
    star-shaped components, so 3-4 rounds settle real corpora; each
    round is one shuffle of (node, label) pairs, nothing quadratic.
    The loop re-checks convergence with a count of changed labels —
    driver-side control flow over distributed steps, not a
    driver-side data loop.  localCheckpoint per round truncates the
    lineage so the plan doesn't grow exponentially with iterations.
    """
    # double via explode, not union-of-two-selects: each union branch
    # would re-execute the (expensive) candidate-pair subtree — no
    # cross-branch CSE — so the matcher ran twice per clustering (r12).
    # One Generate node emits both directions in a single pass.
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col("a").alias("x"), F.col("b").alias("y")),
                    F.struct(F.col("b").alias("x"), F.col("a").alias("y")),
                )
            ).alias("e")
        )
        .select("e.x", "e.y")
        # keyed repartition (no explicit N) so AQE sizes the
        # materialized width to the match graph's actual bytes: a
        # checkpoint freezes its input layout, and freezing the
        # upstream join's full shuffle width turned every tiny-graph
        # propagation round into width×stages scheduling overhead
        # (r12 A/B: er_resolve 8.6 s frozen vs 5.7 s AQE-sized)
        .repartition(F.col("x"))
        # DISK_ONLY (r13): edges grows with the MATCH FAN-OUT, not
        # with a reduction.  The default MEMORY_AND_DISK pinned 148.5M
        # rows of storage on the sf10 probe (100× blowup) and starved
        # execution memory into UNABLE_TO_ACQUIRE_MEMORY inside the
        # first distinct; disk blocks keep the lineage barrier (each
        # propagation round still reads the matcher output once, never
        # re-scores) at a sequential-read cost instead of a heap cost.
        # A/B: sf0.1 without it every propagation round rescores the
        # matcher: q_dedup_clusters_md5 2.38 vs 4.69 s (IQR 0.15), q_er_resolve
        # 4.71 vs 9.78 s (IQR 0.27), q_dedup_clusters 2.18 vs 3.84 s; 5/5 pairs each
        .localCheckpoint(eager=False, storageLevel=StorageLevel.DISK_ONLY)
    )
    labels = (
        edges.select(F.col("x").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        # barrier: the propagation loop's state; truncated every round so
        # the plan does not grow with the rounds
        .localCheckpoint(eager=False)
    )
    for _ in range(max_iters):
        neighbor_min = (
            edges.join(labels, edges["y"] == labels["node"])
            .groupBy("x")
            .agg(F.min("label").alias("nbr_label"))
        )
        new_labels = (
            labels.join(neighbor_min, labels["node"] == neighbor_min["x"], "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce("nbr_label", "label")).alias("label"),
            )
            # barrier: the loop state, truncated every round
            .localCheckpoint(eager=False)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        # silently returning intermediate labels would split a
        # >max_iters-diameter component (e.g. a chain of incremental
        # edits) and diverge from the exact closure oracle —
        # review-caught; long chains need more rounds (or
        # pointer-doubling), not a wrong answer
        raise RuntimeError(
            f"dedup_clusters did not converge in {max_iters} rounds "
            "(component diameter exceeds max_iters); raise max_iters"
        )
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster_id"))


@register("q_dedup_clusters")  # cluster ids from engine-specific hashes — rows-only
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2 near-dup cluster resolution: MinHash candidate pairs →
    connected components → (doc_id, cluster_id).  Downstream keep-rule:
    min doc_id per cluster survives (deterministic)."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_candidates(docs).filter(F.col("jaccard") >= 0.5)
    return dedup_clusters(pairs)


@register(
    "q_dedup_clusters_md5",
    oracle=f"""
    WITH RECURSIVE {_SQL_SHINGLES}, {_sql_band_keys(n_bands=4, rows_per_band=2)},
    cand AS (
      SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
      FROM bk a JOIN bk b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    ),
    verified AS (
      SELECT c.a, c.b FROM cand c
      JOIN shn sa ON sa.doc_id = c.a
      JOIN shn sb ON sb.doc_id = c.b
      WHERE length(list_intersect(sa.shingles, sb.shingles)) * 2
            >= length(list_distinct(list_concat(sa.shingles, sb.shingles)))
    ),
    edges AS (
      SELECT a AS x, b AS y FROM verified
      UNION SELECT b, a FROM verified
    ),
    reach(x, y) AS (
      SELECT x, y FROM edges
      UNION
      SELECT r.x, e.y FROM reach r JOIN edges e ON r.y = e.x
    )
    SELECT x AS doc_id, least(x, MIN(y)) AS cluster_id
    FROM reach GROUP BY x
    """,
)
def q_dedup_clusters_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2 cluster resolution, fully oracle-checked: the md5 MinHash
    pair feed (engine-portable buckets + exact Jaccard ≥ 0.5) resolved
    to connected components — each doc labeled with the min doc_id in
    its component.  The DuckDB twin computes the same components by
    recursive transitive closure (fine at oracle scale; component
    closures are tiny), while the Spark side runs the O(diameter)
    min-label propagation of ``dedup_clusters`` — one shuffle per
    round, lineage truncated, convergence-tested — which is the shape
    that survives 10^9-node near-dup graphs."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup_clusters(md5_minhash_pairs(docs))


@register(
    "q_fuzzy_match",
    oracle="""
    WITH c AS (
      SELECT c_custkey, c_name,
        substr(c_name, length(c_name) - 2, 3) AS blk_a,
        length(c_name) || ':' || substr(c_name, length(c_name) - 3, 3) AS blk_b
      FROM customer
    ),
    cand AS (
      SELECT a.c_custkey AS ak, b.c_custkey AS bk,
             a.c_name AS an, b.c_name AS bn
      FROM c a JOIN c b ON a.blk_a = b.blk_a AND a.c_custkey < b.c_custkey
      UNION
      SELECT a.c_custkey, b.c_custkey, a.c_name, b.c_name
      FROM c a JOIN c b ON a.blk_b = b.blk_b AND a.c_custkey < b.c_custkey
    )
    SELECT ak AS a, bk AS b,
      CAST(levenshtein(an, bn) AS INTEGER) AS edit_dist
    FROM cand
    WHERE levenshtein(an, bn) <= 2
    """,
)
def q_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2-adjacent entity resolution: fuzzy name matching by edit
    distance — with BLOCKING keys, the same invariant as every
    near-dup op here: candidate generation is an equi-join on computed
    keys; the quadratic Levenshtein runs only inside blocks.  An
    unblocked fuzzy join is a cross join and is refused by design.
    Levenshtein is built-in (JVM) in both engines with the classic
    definition, so the oracle checks it exactly.

    Round-8 blocking (VERDICT r7 weak-1 fix): TWO compound block
    passes, candidates UNIONed —
      pass A: the 3-char name suffix (chars -3..-1);
      pass B: name length × the 3-char window one char left of the
              suffix (chars -4..-2).
    On TPC-H-shaped names the old single 2-char suffix key had bounded
    cardinality (100 digit pairs → pair volume O(n²/100), 1,117,500
    candidate pairs / ~5 s at sf0.1 — the one quadratic candidate set
    in the repo).  Each round-8 key draws on 3 varying digit positions,
    so block cardinality grows ~10× faster with data volume: measured
    at sf0.1 the union generates 217,500 candidate pairs vs 1,117,500
    (5.1× reduction) and the warm wall drops ~3× (1.5 s vs ~5 s).
    Recall: a true pair is missed only when its edits hit BOTH windows
    — single-edit pairs are missed only at the two overlapped positions
    (-3, -2), the same breadth as the old key's (-2, -1) miss window,
    at 1/5 the pair volume — which is why production entity resolution
    stacks independent blocks (suffix × phonetic × sorted-neighborhood)
    instead of widening one.  The plan shape — equi-joins on computed
    keys + union + distinct — is unchanged by the key choice."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_name",
        F.substring(F.col("c_name"), -3, 3).alias("blk_a"),
        F.concat_ws(
            ":",
            F.length("c_name"),
            F.substring(F.col("c_name"), -4, 3),
        ).alias("blk_b"),
    )

    def pairs_on(key: str) -> DataFrame:
        a, b = c.alias("a"), c.alias("b")
        return a.join(
            b,
            (F.col(f"a.{key}") == F.col(f"b.{key}"))
            & (F.col("a.c_custkey") < F.col("b.c_custkey")),
        ).select(
            F.col("a.c_custkey").alias("a"),
            F.col("b.c_custkey").alias("b"),
            F.col("a.c_name").alias("an"),
            F.col("b.c_name").alias("bn"),
        )

    # distinct BEFORE the Levenshtein so pairs caught by both passes
    # pay the edit-distance DP once, not twice
    cand = pairs_on("blk_a").union(pairs_on("blk_b")).dropDuplicates(["a", "b"])
    # thresholded levenshtein runs the banded O(threshold·len) DP and
    # returns -1 over the bound — same accepted pairs and distances as
    # the unbounded form the oracle computes, at a fraction of the
    # per-pair cost (measured ~3x on the suffix blocks)
    dist = F.levenshtein(F.col("an"), F.col("bn"), 2)
    return cand.filter(dist >= 0).select("a", "b", dist.alias("edit_dist"))


@register(
    "q_dedup_incremental",
    oracle=f"""
    WITH {_SQL_SHINGLES}, {_sql_band_keys(n_bands=4, rows_per_band=2)},
    roles AS (
      SELECT doc_id, CAST(substr(source, 4) AS INTEGER) AS src_n FROM documents
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS base_id, b.doc_id AS new_id
      FROM bk a
      JOIN bk b ON a.band = b.band AND a.key = b.key
      JOIN roles ra ON ra.doc_id = a.doc_id
      JOIN roles rb ON rb.doc_id = b.doc_id
      WHERE ra.src_n < 10 AND rb.src_n >= 10
    )
    SELECT p.base_id, p.new_id,
      CAST(length(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
        / length(list_distinct(list_concat(sa.shingles, sb.shingles))) AS jaccard
    FROM pairs p
    JOIN shn sa ON sa.doc_id = p.base_id
    JOIN shn sb ON sb.doc_id = p.new_id
    WHERE length(list_intersect(sa.shingles, sb.shingles)) * 2
          >= length(list_distinct(list_concat(sa.shingles, sb.shingles)))
    """,
)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2 incremental NEAR-dup: new-batch documents (sources src10+)
    checked against the base corpus (src0-src9) by MinHash band
    buckets — the fuzzy companion of q_cross_dedup's exact-fingerprint
    anti-join, and the shape of nightly crawl ingestion at 100 TB: the
    base side's band keys are a persisted index (16 longs/doc) bucketed
    on (band, key), so each new batch shuffles ONLY its own signatures;
    the base corpus is never re-shingled, never rewritten.

    Here both sides' signatures are computed in-query (testdata has no
    persisted index), but the candidate join is already base⋈new only —
    no new×new or base×base pairs — and exact Jaccard ≥ 0.5 runs solely
    on bucket-mates."""
    docs = load_table(spark, sf_dir, "documents")
    # loud role parse shared with q_cross_dedup/q_feature_drift: a
    # malformed source must raise, never silently vanish from both
    # dedup roles (review-caught third quiet parse site)
    roles = docs.select(
        F.col("doc_id").alias("rid"),
        loud_src_n("source", "q_dedup_incremental").alias("src_n"),
    )
    ex = md5_shingle_rows(docs, 3)
    sh = ex.groupBy("id").agg(F.collect_set("h").alias("shingles"))
    bk = _md5_band_keys(ex, n_bands=4, rows_per_band=2).join(
        roles, F.col("id") == F.col("rid")
    )
    base_bk = bk.filter(F.col("src_n") < 10).select(
        F.col("id").alias("base_id"), "band", "key"
    )
    new_bk = bk.filter(F.col("src_n") >= 10).select(
        F.col("id").alias("new_id"), "band", "key"
    )
    pairs = (
        base_bk.join(new_bk, ["band", "key"])
        .select("base_id", "new_id")
        .dropDuplicates(["base_id", "new_id"])
    )
    return jaccard_verify(pairs, sh, "base_id", "new_id", thr_num=1, thr_den=2)


@register(
    "q_setsim_join",
    oracle=f"""
    WITH {_SQL_SHINGLES}
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      CAST(length(list_intersect(a.shingles, b.shingles)) AS BIGINT) AS n_common,
      CAST(length(a.shingles) AS BIGINT) AS sz_a,
      CAST(length(b.shingles) AS BIGINT) AS sz_b,
      round(CAST(length(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
            / (length(a.shingles) + length(b.shingles)
               - length(list_intersect(a.shingles, b.shingles))),
            6) AS jaccard
    FROM shn a JOIN shn b ON a.doc_id < b.doc_id
    WHERE 5 * length(list_intersect(a.shingles, b.shingles))
          >= 3 * (length(a.shingles) + length(b.shingles)
                  - length(list_intersect(a.shingles, b.shingles)))
    """,
)
def q_setsim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-similarity join with PREFIX FILTERING (AllPairs/PPJoin
    family, Bayardo et al. 2007 — public): all document pairs whose
    3-token SHINGLE-set Jaccard ≥ 0.6, found without comparing all
    pairs.  Candidate generation: order the shingle vocabulary by
    ascending document frequency; a pair with Jaccard ≥ t MUST share a
    shingle in each side's first |x| − ⌈t·|x|⌉ + 1 rarest shingles
    (pigeonhole on the ordered set), so an equi-join on PREFIX
    shingles is provably complete — the oracle is the exact all-pairs
    join and matches exactly, unlike the probabilistic MinHash/SimHash
    candidate generators (their completeness is statistical; this one
    is combinatorial).

    Shingles, not unigrams (q_dedup_containment's lesson, re-measured
    here): unigram token sets saturate on a shared vocabulary — the
    16-word synthetic corpus made nearly EVERY pair Jaccard-similar,
    so the result itself (and the verify) was data-quadratic: 150 s at
    sf0.1 regardless of candidate generation, vs ~3 s on 3-gram
    phrase sets, where overlap means actual text reuse.

    Plan: df-ranking is one vocabulary-sized aggregate followed by
    ``functions.ids.assign_dense_ids`` (range-partitioned parallel
    numbering — every stage parallel, no single-task global sort even
    over a billions-row vocabulary); the candidate join keys on the
    prefix SHINGLE (rare by construction → small buckets) and applies
    the symmetric length bound 3·max(|A|,|B|) ≤ 5·min(|A|,|B|) a
    Jaccard ≥ 3/5 match implies, before the distinct and the set-fetch
    joins; prefix length is exact integer arithmetic
    (sz − (3·sz + 4) div 5 + 1); verification compares 5·|∩| ≥ 3·|∪|
    in EXACT INTEGERS, so the t = 0.6 boundary has no float risk."""
    docs = load_table(spark, sf_dir, "documents")
    # flat 60-bit md5 shingle ids in codegen (md5_shingle_rows shape);
    # sub-3-token docs vanish at the explode, matching the oracle's shn
    # length guard — no empty-empty NULL-jaccard pairs on either side.
    # rebalance=True: parallelize the shingling before the distinct
    # (r13 A/B 3.47→2.77 s; see md5_shingle_rows for the per-consumer
    # split that keeps the band-key pipelines unspread)
    # A/B: sf0.1 q_setsim_join 5.88 s with it vs 7.05 s without (IQR 0.56, 3/5 pairs),
    # this site and sets below removed together
    dt = md5_shingle_rows(docs, 3, rebalance=True).distinct().localCheckpoint(eager=False)
    sets = (
        dt.groupBy("id")
        .agg(F.collect_set("h").alias("s"))
        .withColumn("sz", F.size("s"))
        # A/B: q_setsim_join, as for dt above
        .localCheckpoint(eager=False)  # consumed by prefix + both verify sides
    )
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.functions.ids import (
        assign_dense_ids,
    )

    dfreq = dt.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    # df-rank via range-partitioned parallel numbering: a plain
    # Window.orderBy("df","h") funnels the whole (data-scaled) shingle
    # vocabulary through ONE task — the round-3 verdict's scale-killer.
    # Prefix-filter completeness only needs that BOTH sides share one
    # total order, which dense ids over (df, h) provide exactly.
    ranked = assign_dense_ids(dfreq, ["df", "h"], id_col="h_rank").select(
        "h", "h_rank"
    )
    wd = Window.partitionBy("id").orderBy("h_rank")
    prefix_len = F.col("sz") - F.expr("(3 * sz + 4) div 5") + 1
    prefix = (
        dt.join(ranked, "h")
        .join(sets.select("id", "sz"), "id")
        .withColumn("pos", F.row_number().over(wd))
        .filter(F.col("pos") <= prefix_len)
        .select("id", "h", "sz")
    )
    pa = prefix.select(F.col("id").alias("doc_a"), "h", F.col("sz").alias("p_sz_a"))
    pb = prefix.select(
        F.col("id").alias("doc_b"),
        F.col("h").alias("h_b"),
        F.col("sz").alias("p_sz_b"),
    )
    cand = (
        pa.join(
            pb,
            (F.col("h") == F.col("h_b"))
            & (F.col("doc_a") < F.col("doc_b"))
            & (
                3 * F.greatest("p_sz_a", "p_sz_b")
                <= 5 * F.least("p_sz_a", "p_sz_b")
            ),
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    sa = sets.select(F.col("id").alias("doc_a"), F.col("s").alias("s_a"), F.col("sz").alias("sz_a"))
    sb = sets.select(F.col("id").alias("doc_b"), F.col("s").alias("s_b"), F.col("sz").alias("sz_b"))
    scored = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("n_common", F.size(F.array_intersect("s_a", "s_b")).cast("bigint"))
        .withColumn("uni", F.col("sz_a") + F.col("sz_b") - F.col("n_common"))
        .filter(5 * F.col("n_common") >= 3 * F.col("uni"))
    )
    return scored.select(
        "doc_a",
        "doc_b",
        "n_common",
        F.col("sz_a").cast("bigint").alias("sz_a"),
        F.col("sz_b").cast("bigint").alias("sz_b"),
        F.round(F.col("n_common").cast("double") / F.col("uni"), 6).alias("jaccard"),
    )


@register(
    "q_dedup_containment",
    oracle=f"""
    WITH {_SQL_SHINGLES}
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      CAST(length(list_intersect(a.shingles, b.shingles)) AS BIGINT) AS n_common,
      CAST(length(a.shingles) AS BIGINT) AS sz_a,
      CAST(length(b.shingles) AS BIGINT) AS sz_b,
      round(CAST(length(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
            / length(a.shingles), 6) AS containment
    FROM shn a JOIN shn b ON a.doc_id <> b.doc_id
    WHERE 5 * length(list_intersect(a.shingles, b.shingles))
          >= 4 * length(a.shingles)
    """,
)
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2 asymmetric CONTAINMENT dedup: ordered pairs (A, B) where
    ≥ 80% of A's 3-token SHINGLE set lies inside B — the
    wrapper/template-page detector Jaccard misses (a short doc embedded
    in a long aggregation page has high containment but low Jaccard
    because the union is dominated by the long side).  Shingles, not
    unigrams: token-set containment saturates on a shared vocabulary
    (measured 144k matching pairs on the sf0.01 corpus — every doc
    "contains" every other), while 3-gram phrase identity is what
    actual text reuse looks like.

    Candidate generation is a one-sided PREFIX FILTER (the containment
    member of the AllPairs family, Bayardo et al. 2007 — public): if
    |A∩B| ≥ ⌈0.8·|A|⌉ then at most |A| − ⌈0.8·|A|⌉ tokens of A are
    outside B, so among A's first |A| − ⌈0.8·|A|⌉ + 1 tokens in ANY
    fixed ordering at least one is in B (pigeonhole).  Ordering by
    ascending document frequency makes those prefix tokens the RAREST,
    which bounds the candidate join's bucket sizes; the B side joins
    with its FULL token list (containment has no bound on B), but is
    first semi-join-pruned to tokens that occur in anyone's prefix, so
    the equi-join never shuffles the hot common-token posting lists.
    Prefix length uses exact integer arithmetic
    (sz − (4·sz + 4) div 5 + 1) — not because a concrete float failure
    was measured (0.8·45 is exactly 36.0 in IEEE doubles; an earlier
    revision of this docstring claimed otherwise — corrected on
    review), but because integer ceil is exact by construction while
    float-boundary ceil must be re-audited per threshold.

    The oracle is the exact all-pairs quadratic join; this plan must
    (and does) reproduce it exactly — candidate generation is
    combinatorially complete, not probabilistic.  Verification compares
    5·|∩| ≥ 4·|A| in exact integers so the t = 0.8 boundary carries no
    float risk.  The df-rank runs through
    ``functions.ids.assign_dense_ids`` — all-parallel, no single-task
    vocabulary sort (q_setsim_join's plan note).

    Cost engineering (measured at sf0.1, 300k candidate pairs on the
    16-word-vocabulary synthetic corpus): shingles are 60-bit md5 ids
    built in the flat codegen'd explode form (md5_shingle_rows — the
    per-doc transform-lambda form runs interpreted, the recorded 6×
    trap), so the 300k verifies intersect LONG arrays, not ~20-char
    strings; and the length bound a containment match implies
    (5·sz_b ≥ 4·sz_a — B must hold ⌈0.8·|A|⌉ distinct shingles) is
    applied AT THE CANDIDATE JOIN, before the distinct and the
    set-fetch joins.  9.3 s → 3.0 s end-to-end (min-of-3).
    """
    docs = load_table(spark, sf_dir, "documents")
    # A/B: sf0.1 q_dedup_containment 4.81 s with it vs 6.71 s without (IQR 0.49, 5/5 pairs),
    # this site and sets below removed together
    dt = md5_shingle_rows(docs, 3, rebalance=True).distinct().localCheckpoint(
        eager=False
    )  # (id, h) distinct shingle rows; consumed by df-rank, prefix, B
    # side.  rebalance: r13 A/B neutral-to-better locally (min 3.04→
    # 3.12, med 3.66→3.39) and the explode+distinct parallelizes at
    # scale — same decision as q_setsim_join
    sets = (
        dt.groupBy("id")
        .agg(F.collect_set("h").alias("s"))
        .withColumn("sz", F.size("s"))
        # A/B: q_dedup_containment, as for dt above
        .localCheckpoint(eager=False)  # consumed by prefix sizes + verify×2
    )
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.functions.ids import (
        assign_dense_ids,
    )

    dfreq = dt.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    # parallel df-rank (see q_setsim_join): the single-task global
    # window over the distinct shingle vocabulary is gone; any shared
    # total order preserves one-sided prefix-filter completeness
    ranked = assign_dense_ids(dfreq, ["df", "h"], id_col="h_rank").select(
        "h", "h_rank"
    )
    wd = Window.partitionBy("id").orderBy("h_rank")
    prefix_len = F.col("sz") - F.expr("(4 * sz + 4) div 5") + 1
    prefix = (
        dt.join(ranked, "h")
        .join(sets.select("id", "sz"), "id")
        .withColumn("pos", F.row_number().over(wd))
        .filter(F.col("pos") <= prefix_len)
        .select("id", "h", "sz")
    )
    pa = prefix.select(
        F.col("id").alias("doc_a"), "h", F.col("sz").alias("p_sz_a")
    )
    # B side: full shingle lists pruned to shingles appearing in any
    # prefix, carrying sz_b so the length bound prunes candidates early
    db = (
        dt.join(prefix.select("h").distinct(), "h", "left_semi")
        .join(sets.select("id", "sz"), "id")
        .select(
            F.col("id").alias("doc_b"),
            F.col("h").alias("h_b"),
            F.col("sz").alias("p_sz_b"),
        )
    )
    cand = (
        pa.join(
            db,
            (F.col("h") == F.col("h_b"))
            & (F.col("doc_a") != F.col("doc_b"))
            & (5 * F.col("p_sz_b") >= 4 * F.col("p_sz_a")),
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    sa = sets.select(
        F.col("id").alias("doc_a"), F.col("s").alias("s_a"), F.col("sz").alias("sz_a")
    )
    sb = sets.select(
        F.col("id").alias("doc_b"), F.col("s").alias("s_b"), F.col("sz").alias("sz_b")
    )
    scored = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("n_common", F.size(F.array_intersect("s_a", "s_b")).cast("bigint"))
        .filter(5 * F.col("n_common") >= 4 * F.col("sz_a"))
    )
    return scored.select(
        "doc_a",
        "doc_b",
        "n_common",
        F.col("sz_a").cast("bigint").alias("sz_a"),
        F.col("sz_b").cast("bigint").alias("sz_b"),
        F.round(
            F.col("n_common").cast("double") / F.col("sz_a").cast("double"), 6
        ).alias("containment"),
    )


# ---------------------------------------------------- sampled oracles
#
# The two AllPairs operators above are EXACT (combinatorially complete
# candidate generation), but their textbook oracle — the literal
# all-pairs quadratic join — is infeasible in DuckDB past ~5k documents
# (VERDICT r10: "oracle infeasible", not an engine defect).  The
# sampled protocol (r10 next-2) recovers VALUE checks at blowup SFs:
# restrict the corpus to the deterministic md5-threshold slice
# md5(doc_id) < _SAMPLE_THR (≈1/16 of documents), run the exact
# all-pairs oracle on the slice, and compare against the engine's FULL
# output filtered to pairs with BOTH endpoints in the slice.  Because
# a similarity/containment match depends only on the two endpoints'
# own shingle sets, truth(slice) == truth|slice — the comparison is an
# exact hash check of that restriction, the q_dedup_eval audit-sample
# argument.  Slice size: at sf1 (~50k docs) the slice is ~3.1k docs →
# ~5M oracle pairs, inside a DuckDB minute; two decades up the
# threshold shrinks with 1/SF to hold the oracle bounded while the
# slice still samples every replica.

# md5 hex prefix; '10' ≈ 1/16 of the key space — right for sf1.  Two
# decades up the slice must SHRINK with 1/SF or the quadratic oracle
# on the slice grows back to infeasible (r12, measured: 1/16 of 500k
# sf10 docs is a ~1e9-pair DuckDB join) — SPARK_GRAFT_SAMPLE_THR lets
# the sweep tool pick the slice at launch ('02' ≈ 1/128 keeps the sf10
# oracle in DuckDB-minutes); the registered oracle SQL and the engine
# restriction both read this one constant at import, so the two sides
# can never disagree on the slice.
_SAMPLE_THR = os.environ.get("SPARK_GRAFT_SAMPLE_THR", "10")


def _sampled_docs_sql(thr: str = _SAMPLE_THR) -> str:
    """_SQL_SHINGLES with the corpus restricted to the md5 slice.

    Patches the single "FROM documents" literal in _SQL_SHINGLES (see
    the COUPLING note at its definition); asserts the occurrence count
    so a future edit there breaks loudly instead of producing a
    silently wrong sampled oracle."""
    assert _SQL_SHINGLES.count("FROM documents") == 1, (
        "_SQL_SHINGLES changed shape; update _sampled_docs_sql's "
        "replace-site (see COUPLING note at _SQL_SHINGLES)"
    )
    return _SQL_SHINGLES.replace(
        "FROM documents",
        "FROM documents "
        f"WHERE md5(CAST(doc_id AS VARCHAR)) < '{thr}'",
    )


def _restrict_pairs(df: DataFrame, thr: str = _SAMPLE_THR) -> DataFrame:
    """Engine-side restriction: keep pairs with BOTH endpoints in the
    md5 slice (doc_a/doc_b are original doc_ids in both engines)."""
    return df.filter(
        (F.md5(F.col("doc_a").cast("string")) < thr)
        & (F.md5(F.col("doc_b").cast("string")) < thr)
    )


register_sampled(
    "q_setsim_join",
    restrict=_restrict_pairs,
    oracle=f"""
    WITH {_sampled_docs_sql()}
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      CAST(length(list_intersect(a.shingles, b.shingles)) AS BIGINT) AS n_common,
      CAST(length(a.shingles) AS BIGINT) AS sz_a,
      CAST(length(b.shingles) AS BIGINT) AS sz_b,
      round(CAST(length(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
            / (length(a.shingles) + length(b.shingles)
               - length(list_intersect(a.shingles, b.shingles))),
            6) AS jaccard
    FROM shn a JOIN shn b ON a.doc_id < b.doc_id
    WHERE 5 * length(list_intersect(a.shingles, b.shingles))
          >= 3 * (length(a.shingles) + length(b.shingles)
                  - length(list_intersect(a.shingles, b.shingles)))
    """,
    note="exact all-pairs Jaccard truth over the md5(doc_id) < "
    f"'{_SAMPLE_THR}' slice vs the engine's full output restricted to "
    "slice-endpoint pairs",
)

register_sampled(
    "q_dedup_containment",
    restrict=_restrict_pairs,
    oracle=f"""
    WITH {_sampled_docs_sql()}
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      CAST(length(list_intersect(a.shingles, b.shingles)) AS BIGINT) AS n_common,
      CAST(length(a.shingles) AS BIGINT) AS sz_a,
      CAST(length(b.shingles) AS BIGINT) AS sz_b,
      round(CAST(length(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
            / length(a.shingles), 6) AS containment
    FROM shn a JOIN shn b ON a.doc_id <> b.doc_id
    WHERE 5 * length(list_intersect(a.shingles, b.shingles))
          >= 4 * length(a.shingles)
    """,
    note="exact all-pairs containment truth over the md5(doc_id) < "
    f"'{_SAMPLE_THR}' slice vs the engine's full output restricted to "
    "slice-endpoint pairs",
)


_SPAN_K = 8  # tokens per rolling window (span granularity)


@register(
    "q_dedup_spans",
    oracle=f"""
    WITH st AS (
      SELECT doc_id, toks,
        unnest(generate_series(1, greatest(length(toks) - {_SPAN_K - 1}, 0))) AS i
      FROM (SELECT doc_id, {SQL_TOKS_EXPR} AS toks FROM documents)
    ),
    w AS (
      SELECT doc_id,
        {sql_md5_int(f"array_to_string(toks[i:i+{_SPAN_K - 1}], ' ')")} AS h
      FROM st
    ),
    flagged AS (
      SELECT doc_id, h, COUNT(*) OVER (PARTITION BY h) AS cnt FROM w
    ),
    perdoc AS (
      SELECT doc_id,
        COUNT(*) AS n_windows,
        CAST(SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_windows
      FROM flagged GROUP BY doc_id
    )
    SELECT d.doc_id,
      COALESCE(n_windows, 0) AS n_windows,
      COALESCE(n_dup_windows, 0) AS n_dup_windows,
      CASE WHEN COALESCE(n_windows, 0) = 0 THEN 0.0
           ELSE CAST(n_dup_windows AS DOUBLE) / CAST(n_windows AS DOUBLE)
      END AS dup_frac
    FROM documents d LEFT JOIN perdoc USING (doc_id)
    """,
)
def q_dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2′ duplicate-SPAN detection (public algorithm: exact substring
    dedup of "Deduplicating Training Data Makes Language Models
    Better", Lee et al. 2022, at fixed-window granularity): every
    rolling 8-token (_SPAN_K) window is hashed; a window whose hash occurs
    more than once CORPUS-WIDE is a duplicated span, and each document
    reports its duplicated-span fraction — the per-doc signal used to
    drop or trim boilerplate-heavy pages.

    100 TB plan: flat (doc_id, h) window rows stay in whole-stage
    codegen (md5_shingle_rows shape — explode start positions first,
    never per-doc arrays in interpreted lambdas); corpus-wide window
    multiplicity is a COUNT over Window.partitionBy(h) — ONE shuffle
    on the 60-bit hash, no self-join, and the shingle subtree executes
    once (a groupBy+join-back would re-execute it per consumer, the
    no-cross-branch-CSE rule); then one per-doc hash aggregate.  Skew:
    an ultra-hot span hash lands one window partition — bounded by the
    corpus count of ONE boilerplate sentence; AQE skew-split handles
    the partition, and no row explosion ever multiplies payloads.
    Short documents (< 8 tokens) have zero windows and report
    dup_frac 0.0 via the left join."""
    docs = load_table(spark, sf_dir, "documents")
    w = md5_shingle_rows(docs, _SPAN_K).select(F.col("id").alias("doc_id"), "h")
    cnt = F.count(F.lit(1)).over(Window.partitionBy("h"))
    perdoc = (
        w.withColumn("cnt", cnt)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum(F.when(F.col("cnt") > 1, 1).otherwise(0)).alias("n_dup_windows"),
        )
    )
    return (
        docs.select("doc_id")
        .join(perdoc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_windows", F.lit(0)).alias("n_windows"),
            F.coalesce("n_dup_windows", F.lit(0)).alias("n_dup_windows"),
            F.when(F.coalesce("n_windows", F.lit(0)) == 0, F.lit(0.0))
            .otherwise(
                F.col("n_dup_windows").cast("double")
                / F.col("n_windows").cast("double")
            )
            .alias("dup_frac"),
        )
    )


_SNM_WINDOW = 3  # sorted-neighborhood comparison window


@register(
    "q_sorted_neighborhood",
    oracle=f"""
    WITH ranked AS (
      SELECT c_custkey, c_name,
        row_number() OVER (ORDER BY c_name, c_custkey) - 1 AS rid
      FROM customer
    )
    SELECT a.c_custkey AS a, b.c_custkey AS b,
      CAST(b.rid - a.rid AS BIGINT) AS rank_gap,
      CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS edit_dist
    FROM ranked a JOIN ranked b
      ON b.rid - a.rid BETWEEN 1 AND {_SNM_WINDOW}
    WHERE levenshtein(a.c_name, b.c_name) <= 2
    """,
)
def q_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2-adjacent entity resolution, third blocking family: the
    SORTED-NEIGHBORHOOD method (Hernández & Stolfo) — sort records by a
    key, compare each record only to its next w=3 neighbors in sort
    order, keep pairs within edit distance 2.  The pass production ER
    stacks ON TOP of key blocking (q_fuzzy_match): sort order catches
    near-matches whose block keys differ.

    Scale shape: the textbook formulation is a single-task
    ``row_number() OVER (ORDER BY name)`` — the global-sort bottleneck.
    Here the dense rank comes from functions/ids.assign_dense_ids
    (range partition → local sort → driver prefix sum over partition
    COUNTS — every stage parallel), and the neighbor pairing is an
    equi-join on rank buckets of width w (the left side explodes to
    the ≤2 buckets its window [rid+1, rid+w] can reach; the right side
    lands in exactly 1, so no pair matches twice) with the gap bound
    as a residual — candidate volume is exactly n·w, linear by
    construction at any corpus size."""
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.functions.ids import (
        assign_dense_ids,
    )

    ranked = assign_dense_ids(
        load_table(spark, sf_dir, "customer").select("c_custkey", "c_name"),
        ["c_name", "c_custkey"],
        id_col="rid",
    )
    a = ranked.select(
        F.col("c_custkey").alias("a"),
        F.col("c_name").alias("an"),
        F.col("rid").alias("a_rid"),
        F.explode(
            F.array_distinct(
                F.array(
                    F.floor(F.col("rid") / _SNM_WINDOW),
                    F.floor((F.col("rid") + _SNM_WINDOW) / _SNM_WINDOW),
                )
            )
        ).alias("bucket"),
    )
    b = ranked.select(
        F.col("c_custkey").alias("b"),
        F.col("c_name").alias("bn"),
        F.col("rid").alias("b_rid"),
        F.floor(F.col("rid") / _SNM_WINDOW).alias("bucket"),
    )
    gap = F.col("b_rid") - F.col("a_rid")
    dist = F.levenshtein(F.col("an"), F.col("bn"), 2)
    return (
        a.join(b, "bucket")
        .filter((gap >= 1) & (gap <= _SNM_WINDOW) & (dist >= 0))
        .select(
            "a",
            "b",
            gap.cast("bigint").alias("rank_gap"),
            dist.alias("edit_dist"),
        )
    )


# ONE definition of the Fellegi-Sunter agreement weights and the
# blocked-candidate SQL, shared by q_record_linkage and q_er_resolve
# (review-caught: the weights were retyped in four places — a tuning
# change could silently desynchronize the chain).
_LINKAGE_W = {"nation": 22, "segment": 16, "acctbal": 19, "name": 31}

# Adaptive sub-blocking cap (round 11, found by the sf10 probe): the
# suffix-3 key has a FIXED domain (≤1000 digit blocks on this data),
# so block populations grow linearly with the corpus and pair volume
# quadratically — at the 100× blowup that was 1.1B candidate pairs and
# a heap OOM.  Blocks larger than the cap re-block on suffix-6, and
# (round 12, VERDICT r11 next-5) suffix-6 blocks STILL over the cap
# re-block once more on suffix-9 — each step a REFINEMENT: equal
# suffix-9 ⇒ equal suffix-6 ⇒ equal suffix-3, so sub-blocks nest and
# identical-name true duplicates are never separated.  Below the cap
# — every driver-checked SF through sf1 (≤150/block) — the output is
# bit-identical to plain suffix-3 blocking; at sf10 the post-refine
# blocks are the ~100-copy replica name groups, under the cap; both
# engines carry the same two-level rule so the contract holds at every
# SF.  A block that exceeds the cap even at suffix-9 (a bulk group of
# near-identical full names) is irreducible by suffix blocking — the
# engine raises a loud error (_guard_er_blocks) instead of silently
# going quadratic toward an executor OOM.
_ER_BLOCK_CAP = 256

_SQL_LINKAGE_SCORED = f"""c0 AS (
      SELECT c_custkey, c_name, c_nationkey, c_mktsegment, c_acctbal,
        substr(c_name, length(c_name) - 2, 3) AS blk3,
        substr(c_name, length(c_name) - 5, 6) AS blk6,
        substr(c_name, length(c_name) - 8, 9) AS blk9
      FROM customer
    ),
    bsz AS (SELECT blk3, COUNT(*) AS n FROM c0 GROUP BY blk3),
    bsz6 AS MATERIALIZED (
      SELECT c0.blk6, COUNT(*) AS n6
      FROM c0 JOIN bsz ON bsz.blk3 = c0.blk3
      WHERE bsz.n > {_ER_BLOCK_CAP}
      GROUP BY c0.blk6
    ),
    c AS (
      SELECT c0.c_custkey, c0.c_name, c0.c_nationkey, c0.c_mktsegment,
        c0.c_acctbal,
        CASE WHEN bsz.n > {_ER_BLOCK_CAP}
          THEN CASE WHEN bsz6.n6 > {_ER_BLOCK_CAP}
                 THEN c0.blk9 ELSE c0.blk6 END
          ELSE c0.blk3 END AS blk
      FROM c0 JOIN bsz ON bsz.blk3 = c0.blk3
        LEFT JOIN bsz6 ON bsz6.blk6 = c0.blk6
    ),
    scored AS (
      SELECT a.c_custkey AS a, b.c_custkey AS b,
        CAST(CASE WHEN a.c_nationkey = b.c_nationkey THEN {_LINKAGE_W["nation"]} ELSE 0 END
           + CASE WHEN a.c_mktsegment = b.c_mktsegment THEN {_LINKAGE_W["segment"]} ELSE 0 END
           + CASE WHEN abs(a.c_acctbal - b.c_acctbal) < 100.0 THEN {_LINKAGE_W["acctbal"]} ELSE 0 END
           + CASE WHEN levenshtein(a.c_name, b.c_name) <= 2 THEN {_LINKAGE_W["name"]} ELSE 0 END
          AS BIGINT) AS score
      FROM c a JOIN c b
        ON a.blk = b.blk AND a.c_custkey < b.c_custkey
    )"""


def _guard_er_blocks(c: DataFrame) -> None:
    """Loud scale guard (r12, VERDICT r11 next-5): if any FINAL block
    still exceeds the cap after both refinement levels, candidate
    generation within it is irreducibly quadratic by suffix blocking —
    fail with a clear error instead of letting the pair join crawl
    toward an executor OOM.  Cost: one tiny aggregate over the blocked
    key column (column-pruned scan; block-size table is bounded by the
    refined key domain), run once per query build — the same eager
    pre-pass precedent as assign_dense_ids' partition counts."""
    hot = (
        c.groupBy("blk")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > _ER_BLOCK_CAP)
        .orderBy(F.desc("n"))
        .limit(3)
        .collect()
    )
    if hot:
        worst = ", ".join(f"{r['blk']!r}:{r['n']}" for r in hot)
        raise RuntimeError(
            f"ER blocking: {len(hot)}+ post-refinement blocks exceed "
            f"_ER_BLOCK_CAP={_ER_BLOCK_CAP} (worst {worst}); a bulk group "
            "of identical name suffixes is irreducible by suffix blocking "
            "— shard these records by another attribute (nation/segment) "
            "or raise the cap knowingly before the pair join goes "
            "quadratic within the block."
        )


def _linkage_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of ``_SQL_LINKAGE_SCORED``: suffix-3-blocked customer
    pairs with the integer Fellegi-Sunter agreement score, with the
    ``_ER_BLOCK_CAP`` TWO-LEVEL adaptive sub-blocking rule (oversized
    suffix-3 blocks refine to suffix-6; still-oversized suffix-6
    blocks refine to suffix-9 — see the cap's comment; identical at
    every SF whose blocks fit the cap, which includes all
    driver-checked SFs through sf1) and the loud over-cap guard
    (_guard_er_blocks)."""
    c0 = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        "c_mktsegment",
        "c_acctbal",
        F.substring(F.col("c_name"), -3, 3).alias("blk3"),
        F.substring(F.col("c_name"), -6, 6).alias("blk6"),
        F.substring(F.col("c_name"), -9, 9).alias("blk9"),
    )
    # block-size tables: bounded by the suffix key domains, not the
    # data — but left unhinted so AQE picks the join strategies
    bsz = c0.groupBy("blk3").agg(F.count(F.lit(1)).alias("bn"))
    bsz6 = (
        c0.join(bsz, "blk3")
        .filter(F.col("bn") > _ER_BLOCK_CAP)
        .groupBy("blk6")
        .agg(F.count(F.lit(1)).alias("bn6"))
    )
    c = (
        c0.join(bsz, "blk3")
        .join(bsz6, "blk6", "left")
        .select(
            "c_custkey",
            "c_name",
            "c_nationkey",
            "c_mktsegment",
            "c_acctbal",
            F.when(
                F.col("bn") > _ER_BLOCK_CAP,
                F.when(F.col("bn6") > _ER_BLOCK_CAP, F.col("blk9")).otherwise(
                    F.col("blk6")
                ),
            )
            .otherwise(F.col("blk3"))
            .alias("blk"),
        )
    )
    # consumed by the guard's eager aggregate AND both self-join
    # sides: checkpoint so the block-assignment joins run once, not 3×
    # (r12 plan audit: customer scanned 4×).  spread FIRST: the
    # checkpoint freezes its input layout, and the scan-rooted frame
    # is one partition on single-row-group files — without the
    # rebalance the expensive levenshtein scoring join runs
    # single-threaded off the materialized blocks (measured r12).
    # A/B: sf0.1 q_record_linkage 1.17 s with it vs 1.27 s without (IQR 0.03, 4/5 pairs)
    c = spread(c).localCheckpoint(eager=False)
    _guard_er_blocks(c)
    a, b = c.alias("a"), c.alias("b")
    score = (
        F.when(
            F.col("a.c_nationkey") == F.col("b.c_nationkey"),
            _LINKAGE_W["nation"],
        ).otherwise(0)
        + F.when(
            F.col("a.c_mktsegment") == F.col("b.c_mktsegment"),
            _LINKAGE_W["segment"],
        ).otherwise(0)
        + F.when(
            F.abs(F.col("a.c_acctbal") - F.col("b.c_acctbal")) < 100.0,
            _LINKAGE_W["acctbal"],
        ).otherwise(0)
        + F.when(
            F.levenshtein(F.col("a.c_name"), F.col("b.c_name"), 2) >= 0,
            _LINKAGE_W["name"],
        ).otherwise(0)
    )
    return a.join(
        b,
        (F.col("a.blk") == F.col("b.blk"))
        & (F.col("a.c_custkey") < F.col("b.c_custkey")),
    ).select(
        F.col("a.c_custkey").alias("a"),
        F.col("b.c_custkey").alias("b"),
        score.cast("bigint").alias("score"),
    )


@register(
    "q_record_linkage",
    oracle=f"""
    WITH {_SQL_LINKAGE_SCORED}
    SELECT a, b, score FROM scored WHERE score >= 38
    """,
)
def q_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2-adjacent entity resolution, stage 2: Fellegi-Sunter-style
    pairwise MATCH SCORING over blocked candidates — the step between
    candidate generation (q_fuzzy_match / q_sorted_neighborhood) and
    cluster resolution (q_dedup_clusters).  Each candidate pair earns
    integer log-odds-style agreement weights per field (nation 22,
    market segment 16, account balance within 100.0 → 19, name edit
    distance ≤ 2 → 31); pairs scoring ≥ 38 (at least two strong
    agreements) survive.

    Integer weights keep the score exact and associative — no float
    summation policy needed.  Scale: candidates come from the same
    suffix-3 equi-join block as q_fuzzy_match's pass A (never
    all-pairs); scoring is a flat codegen projection per pair; the
    Levenshtein runs thresholded (banded DP, -1 over the bound) so the
    expensive feature costs O(threshold·len) per pair."""
    return _linkage_scored(spark, sf_dir).filter(F.col("score") >= 38)


_ER_MATCH_SCORE = 50  # linkage score at or above which a pair is a match


@register(
    "q_er_resolve",
    oracle=f"""
    WITH RECURSIVE {_SQL_LINKAGE_SCORED},
    matches AS (
      SELECT a, b FROM scored WHERE score >= {_ER_MATCH_SCORE}
    ),
    edges AS (
      SELECT a AS x, b AS y FROM matches
      UNION SELECT b, a FROM matches
    ),
    reach(x, y) AS (
      SELECT x, y FROM edges
      UNION
      SELECT r.x, e.y FROM reach r JOIN edges e ON r.y = e.x
    )
    SELECT x AS record_id, least(x, MIN(y)) AS entity_id
    FROM reach GROUP BY x
    """,
)
def q_er_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end ENTITY RESOLUTION, the full chain in one query:
    blocking (suffix-3 equi-join — q_fuzzy_match's pass A) → pairwise
    Fellegi-Sunter scoring (q_record_linkage's integer agreement
    weights, match at score ≥ 50 = name + any strong field, or three
    weak fields) → connected components (dedup_clusters' O(diameter)
    min-label propagation) → (record, entity_id) for every record that
    matched anything.

    Each stage keeps its own scale shape: candidates are block-local
    equi-join output, scoring is a flat projection per pair, and
    clustering shuffles only (node, label) pairs per round.  The
    DuckDB twin resolves the same matches by recursive transitive
    closure (the q_dedup_clusters_md5 precedent — exact at oracle
    scale)."""
    matches = (
        _linkage_scored(spark, sf_dir)
        .filter(F.col("score") >= _ER_MATCH_SCORE)
        .select("a", "b")
    )
    return dedup_clusters(matches).select(
        F.col("doc_id").alias("record_id"),
        F.col("cluster_id").alias("entity_id"),
    )


@register(
    "q_dedup_cross_spans",
    oracle=f"""
    WITH st AS (
      SELECT doc_id, toks,
        unnest(generate_series(1, greatest(length(toks) - {_SPAN_K - 1}, 0))) AS i
      FROM (SELECT doc_id, {SQL_TOKS_EXPR} AS toks FROM documents)
    ),
    w AS (
      SELECT doc_id,
        {sql_md5_int(f"array_to_string(toks[i:i+{_SPAN_K - 1}], ' ')")} AS h
      FROM st
    ),
    pairs AS (SELECT DISTINCT doc_id, h FROM w),
    flagged AS (
      SELECT doc_id, h, COUNT(*) OVER (PARTITION BY h) AS nd FROM pairs
    ),
    perdoc AS (
      SELECT doc_id,
        COUNT(*) AS n_distinct_windows,
        CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_cross_windows
      FROM flagged GROUP BY doc_id
    )
    SELECT d.doc_id,
      COALESCE(n_distinct_windows, 0) AS n_distinct_windows,
      COALESCE(n_cross_windows, 0) AS n_cross_windows,
      CASE WHEN COALESCE(n_distinct_windows, 0) = 0 THEN 0.0
           ELSE CAST(n_cross_windows AS DOUBLE)
                / CAST(n_distinct_windows AS DOUBLE)
      END AS cross_frac
    FROM documents d LEFT JOIN perdoc USING (doc_id)
    """,
)
def q_dedup_cross_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2′ CROSS-DOCUMENT duplicated-passage detection — the
    boilerplate/template signal q_dedup_spans cannot isolate: there a
    window is "duplicated" if its hash occurs more than once
    corpus-wide, which conflates WITHIN-doc repetition (a chorus, a
    table of numbers) with CROSS-doc boilerplate (cookie banners,
    license headers, injected templates — the thing a training-data
    pipeline actually strips).  Here (doc_id, window-hash) pairs are
    DEDUPLICATED first, so a window counts as cross-duplicated only
    when it appears in ≥2 DISTINCT documents, and each document
    reports the fraction of its distinct windows shared with another
    document.

    100 TB plan: the same flat codegen window rows as q_dedup_spans
    (md5_shingle_rows shape — explode start positions, never
    interpreted per-doc arrays); dropDuplicates(doc_id, h) is one hash
    aggregate; distinct-doc multiplicity is a COUNT over
    Window.partitionBy(h) on the DEDUPED pairs (bounded by docs, not
    occurrences — a doc repeating one sentence 10^6 times contributes
    ONE row to the hot hash partition, which is why this is not
    q_dedup_spans with an extra distinct); then one per-doc aggregate.
    No self-join, no array rebuild; short documents report 0.0 via the
    left join."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = (
        md5_shingle_rows(docs, _SPAN_K)
        .select(F.col("id").alias("doc_id"), "h")
        .dropDuplicates(["doc_id", "h"])
    )
    nd = F.count(F.lit(1)).over(Window.partitionBy("h"))
    perdoc = (
        pairs.withColumn("nd", nd)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_distinct_windows"),
            F.sum(F.when(F.col("nd") > 1, 1).otherwise(0)).alias(
                "n_cross_windows"
            ),
        )
    )
    return (
        docs.select("doc_id")
        .join(perdoc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_distinct_windows", F.lit(0)).alias(
                "n_distinct_windows"
            ),
            F.coalesce("n_cross_windows", F.lit(0)).alias("n_cross_windows"),
            F.when(
                F.coalesce("n_distinct_windows", F.lit(0)) == 0, F.lit(0.0)
            )
            .otherwise(
                F.col("n_cross_windows").cast("double")
                / F.col("n_distinct_windows").cast("double")
            )
            .alias("cross_frac"),
        )
    )
