"""ML-prep operators over the embedding corpus (SURVEY.md §2.3 Tier C
extensions): deterministic k-means clustering, product-quantization
codes, and priority-based weighted sampling.

These are the vector-side passes of a training-data pipeline the
similarity module's search ops don't cover: clustering documents for
mixture/curriculum decisions (SemDeDup's first stage), compressing the
embedding store 32× for the ANN index (PQ, Jégou et al. 2011, public),
and drawing a weighted subsample for eval/inspection (priority
sampling, Duffield-Lund-Thorup 2007, public).

Engine determinism policy: every vector arithmetic is a LEFT FOLD in
element order (``F.zip_with`` + ``F.aggregate`` ↔ DuckDB
``list_transform`` + ``list_reduce``), every mean is a sorted fold over
collected values (the q_embedding_centroids trick), and all
"randomness" is md5-derived — so Spark and the DuckDB oracle produce
bit-identical doubles and the driver's value-hash matches.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cdc_from_sql_and_nosql_to_data_warehouse_spark.functions import text as X
from cdc_from_sql_and_nosql_to_data_warehouse_spark.functions.parallelism import spread
from cdc_from_sql_and_nosql_to_data_warehouse_spark.functions.portable_hash import (
    md5_prefix_int,
    md5_unit,
    sql_md5_int,
    sql_md5_unit,
    sql_toks_expr,
)
from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators import register
from cdc_from_sql_and_nosql_to_data_warehouse_spark.sources.readers import load_table

_K = 8  # k-means clusters; seeds = the _K lowest vec_ids
_LLOYD_ITERS = 2  # fixed unrolled iterations (assign → update → assign)
_EMB_DIM = 64  # testdata embedding width (TESTDATA.md); M * SUB must equal it
_PQ_M = 8  # product-quantization subspaces
_PQ_SUB = 8  # dims per subspace (M * SUB = embedding dim 64)
_PQ_K = 16  # codewords per subspace; seeds = the _PQ_K lowest vec_ids
_PQ_ITERS = 1  # unrolled Lloyd iterations training each sub-codebook
# measured on the synthetic corpus (recall@10 after rerank / sf0.1 wall):
#   ITERS=0 → 0.88 / 1.6 s;  ITERS=1 → 0.90 / 4.2 s;  ITERS=2 → 0.94 / 6.0 s
# the rerank dominates recall; one iteration is the balance point
# (the 4.2 s ITERS=1 wall predates sharing the codebook between encode
# and LUT and dropping the subvector self-join; the search now
# measures ~2.3 s)
_SAMPLE_K = 100  # weighted-sample size


def _sq_dist(a: Column | str, b: Column | str, dim: int | None = None) -> Column:
    """Squared L2 as a left fold in element order — bit-deterministic
    and identical to the DuckDB twin (_SQL_SQ_DIST).

    ``dim`` is accepted and IGNORED: an unrolled element_at chain was
    tried (round 3) on the hypothesis that interpreted higher-order
    lambdas lose to codegen — measured SLOWER on both shapes
    (64-dim assign: 0.082 s vs 0.043 s fold; 8-dim PQ encode: 0.201 s
    vs 0.139 s fold, sf0.1 local[32] min-of-3).  Per-element virtual
    element_at calls cost more than the JIT'd fold loop at these
    vector widths; the interpreted-lambda penalty only dominates on
    WIDE per-doc arrays (see the shingling measurement in the verify
    skill).  Keeping the fold everywhere."""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    diffs = F.zip_with(
        ca,
        cb,
        lambda x, y: (x.cast("double") - y.cast("double"))
        * (x.cast("double") - y.cast("double")),
    )
    return F.aggregate(diffs, F.lit(0.0), lambda acc, v: acc + v)


def _sql_sq_dist(a: str, b: str) -> str:
    return f"""list_reduce(
      list_prepend(CAST(0 AS DOUBLE),
        list_transform(generate_series(1, length({a})),
          i -> (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))
             * (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE)))),
      (x, y) -> x + y)"""


_SQL_SORTED_MEAN = (
    "list_reduce(list_prepend(CAST(0 AS DOUBLE), list_sort(list(v))),"
    " (x, y) -> x + y) / COUNT(*)"
)


def _sql_lloyd_round(k: int) -> str:
    """One unrolled Lloyd iteration in DuckDB: assign to the nearest
    centroid of round k-1, then rebuild centroids as per-(cluster, dim)
    sorted-fold means."""
    return f"""
    d{k} AS (
      SELECT e.vec_id, c.cid, {_sql_sq_dist("e.embedding", "c.cvec")} AS d
      FROM e CROSS JOIN c{k - 1} c
    ),
    a{k} AS (
      SELECT vec_id, cid AS cluster, d FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
        FROM d{k}
      ) WHERE rn = 1
    ),
    c{k} AS (
      SELECT cluster AS cid, list(m ORDER BY pos) AS cvec FROM (
        SELECT cluster, pos, {_SQL_SORTED_MEAN} AS m
        FROM (
          SELECT a.cluster, i AS pos, CAST(e.embedding[i] AS DOUBLE) AS v
          FROM (
            SELECT vec_id, embedding,
              unnest(generate_series(1, length(embedding))) AS i
            FROM e
          ) e JOIN a{k} a USING (vec_id)
        ) GROUP BY cluster, pos
      ) GROUP BY cluster
    )"""


def _assert_clean_embeddings(emb) -> None:
    """Fail LOUDLY on ragged dimensions or NULL vector elements: the
    sorted-fold means these operators share silently diverge from the
    DuckDB oracles on such input (collect_list drops NULL elements and
    zip_with NULL-pads ragged pairs, while list()/generate_series
    NULL-poison or truncate) — the q_embedding_centroids guard applied
    to every mlprep entry (review).  One bounded aggregate job."""
    row = emb.agg(
        F.countDistinct(F.size("embedding")).alias("dims"),
        F.max(F.exists("embedding", lambda x: x.isNull())).alias("has_null"),
    ).first()
    if (row["dims"] or 0) > 1 or row["has_null"]:
        raise ValueError(
            f"embeddings must be rectangular and NULL-free: "
            f"{row['dims']} distinct dims, null elements={row['has_null']}"
        )


def _sorted_mean_centroids(
    frame: DataFrame, keys: list[str], vec_col: str, out_vec: str
) -> DataFrame:
    """Per-key centroid rebuild with SORTED-FOLD means — the
    q_embedding_centroids determinism trick as the one shared helper
    (SURVEY §2.4 deferred item, extracted r9 from its three copies:
    the k-means Lloyd update, the PQ codebook training round, and the
    label centroids of q_embedding_outliers).  Explode the vector,
    mean each (keys, pos) group as a sorted left fold (partition-order
    free, bit-identical to DuckDB's list_reduce∘list_sort), then
    rebuild the ordered array per key.  Mirrors the shared SQL
    fragment _SQL_SORTED_MEAN."""
    dims = frame.select(*keys, F.posexplode(vec_col).alias("pos0", "x")).select(
        *keys,
        (F.col("pos0") + 1).alias("pos"),
        F.col("x").cast("double").alias("v"),
    )
    means = dims.groupBy(*keys, "pos").agg(
        (
            F.aggregate(
                F.array_sort(F.collect_list("v")), F.lit(0.0), lambda a, x: a + x
            )
            / F.count(F.lit(1))
        ).alias("m")
    )
    return means.groupBy(*keys).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda t: t["m"]
        ).alias(out_vec)
    )


@register(
    "q_kmeans_assign",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding FROM embeddings),
    c0 AS (
      SELECT vec_id AS cid, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec
      FROM e WHERE vec_id < {_K}
    ),
    {",".join(_sql_lloyd_round(k) for k in range(1, _LLOYD_ITERS + 1))},
    df AS (
      SELECT e.vec_id, c.cid, {_sql_sq_dist("e.embedding", "c.cvec")} AS d
      FROM e CROSS JOIN c{_LLOYD_ITERS} c
    )
    SELECT vec_id, cid AS cluster, round(d, 8) AS dist FROM (
      SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
      FROM df
    ) WHERE rn = 1
    """,
)
def q_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-means document clustering (k=8, 2 unrolled Lloyd
    iterations, seeds = the 8 lowest vec_ids): the cluster-then-decide
    stage shared by SemDeDup, IVF index builds, and per-cluster mixture
    curricula.  Unlike q_sim_ivf's pyspark.ml KMeans (trained, but
    engine-specific — rows-only), this unrolled form is exactly
    replicable in SQL, so the whole iterative algorithm is
    value-hash-checked against DuckDB.

    Plan per iteration: centroids are k rows — broadcast to score
    (a BroadcastNestedLoopJoin over k·N pairs, embarrassingly
    parallel), one window keyed by vec_id for the argmin, one
    hash-aggregate keyed by (cluster, dim) ≤ k·64 groups for the
    update.  Nothing driver-side, no `.count()`: empty input flows
    through as empty.  At 100 TB the per-iteration cost is two
    data-proportional map passes + one bounded aggregate — the same
    shape pyspark.ml uses internally, minus its engine-private RNG.
    Ties (equidistant centroids) break on the lower cluster id in both
    engines; means are sorted folds, distances element-order folds, so
    every double is bit-identical."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    _assert_clean_embeddings(emb)
    cents = (
        emb.filter(F.col("vec_id") < _K)
        .select(
            F.col("vec_id").alias("cid"),
            F.transform("embedding", lambda x: x.cast("double")).alias("cvec"),
        )
    )

    # argmin as min(struct(d, cid)) — a HASH aggregate with map-side
    # partials (each task pre-reduces its k candidates per vector to
    # one row), not a row_number window, which would SORT k·N rows per
    # partition.  Struct ordering is lexicographic, so the (d, cid)
    # min is exactly the ORDER BY d, cid winner — same tiebreak as the
    # oracle's row_number.
    def _assign(scored: DataFrame) -> DataFrame:
        return scored.groupBy("vec_id").agg(
            F.min(F.struct("d", "cid")).alias("m")
        )

    for _ in range(_LLOYD_ITERS):
        # carry the embedding THROUGH the argmin aggregate (first() is
        # well-defined — it's functionally dependent on vec_id): the
        # map-side partial reduces k scored rows to one per vector
        # before the shuffle, and the update step needs no join back
        # to the corpus — one exchange per iteration instead of an
        # aggregate plus a data×data join
        assigned = (
            emb.join(F.broadcast(cents))
            .select("vec_id", "embedding", "cid", _sq_dist("embedding", "cvec", _EMB_DIM).alias("d"))
            .groupBy("vec_id")
            .agg(
                F.min(F.struct("d", "cid")).alias("m"),
                F.first("embedding").alias("embedding"),
            )
            .select("vec_id", F.col("m.cid").alias("cluster"), "embedding")
        )
        # no checkpoint here: the iteration lineage is a single chain
        # (each cents is consumed exactly once by the next assign), so
        # there is no cross-branch recomputation to save — measured
        # 1.11 s → 1.48 s WITH a localCheckpoint (it just adds a
        # materialization stage).  Contrast q_pagerank, whose edge
        # frame is consumed once per iteration and does checkpoint.
        cents = _sorted_mean_centroids(
            assigned, ["cluster"], "embedding", "cvec"
        ).select(F.col("cluster").alias("cid"), "cvec")
    return _assign(
        emb.join(F.broadcast(cents)).select(
            "vec_id", "cid", _sq_dist("embedding", "cvec", _EMB_DIM).alias("d")
        )
    ).select(
        "vec_id",
        F.col("m.cid").alias("cluster"),
        F.round(F.col("m.d"), 8).alias("dist"),
    )


def _pq_subvectors(emb: DataFrame) -> DataFrame:
    """(vec_id, s, sv): each vector exploded into its M subspace
    slices — one generator projection, map-side, no shuffle (and no
    self-join: the embedding rides through the 8-row explode and is
    sliced immediately, so nothing wider than a subvector survives)."""
    return emb.select(
        "vec_id",
        F.explode(F.sequence(F.lit(0), F.lit(_PQ_M - 1))).alias("s"),
        "embedding",
    ).select(
        "vec_id",
        "s",
        F.expr(f"slice(embedding, s * {_PQ_SUB} + 1, {_PQ_SUB})").alias("sv"),
    )


def _pq_codebook(emb: DataFrame) -> DataFrame:
    """(code, cs, cv): M·K* TRAINED codebook rows — per-subspace
    k-means with _PQ_ITERS unrolled Lloyd iterations, seeds = the
    _PQ_K lowest vec_ids' subvectors.  Same deterministic machinery
    as q_kmeans_assign (min(struct) argmin carrying the subvector
    through the aggregate, sorted-fold means), run once per subspace
    in the SAME plan (the subspace id is just another grouping key),
    so training all M codebooks costs M-fold nothing extra.  Raw seed
    codebooks measured recall@10 = 0.2 vs exact; training lifts the
    quantizer the same way the k-means|| fix lifted IVF in round 3."""
    sub = _pq_subvectors(emb)
    cb = sub.filter(F.col("vec_id") < _PQ_K).select(
        F.col("vec_id").alias("code"),
        F.col("s").alias("cs"),
        F.transform("sv", lambda x: x.cast("double")).alias("cv"),
    )
    for _ in range(_PQ_ITERS):
        assigned = (
            sub.join(F.broadcast(cb), F.col("s") == F.col("cs"))
            .select("vec_id", "s", "sv", "code", _sq_dist("sv", "cv", _PQ_SUB).alias("d"))
            .groupBy("vec_id", "s")
            .agg(F.min(F.struct("d", "code")).alias("m"), F.first("sv").alias("sv"))
            .select("s", F.col("m.code").alias("code"), "sv")
        )
        cb = _sorted_mean_centroids(assigned, ["s", "code"], "sv", "cv").select(
            F.col("s").alias("cs"), "code", "cv"
        )
    return cb


def _pq_encode(emb: DataFrame, cb: DataFrame | None = None) -> DataFrame:
    """(vec_id, s, code, d): nearest codeword per (vector, subspace).
    Argmin is min(struct(d, code)) — hash aggregate with map-side
    partials (K* candidate rows fold to 1 before the shuffle), not a
    sort window; struct ordering reproduces the ORDER BY d, code
    tiebreak exactly.  Pass a shared ``cb`` when another consumer
    (the ADC LUT) needs the SAME codebook: a second _pq_codebook call
    would build a second training subtree that the lazy checkpoint
    cannot dedupe, doubling the Lloyd cost."""
    if cb is None:
        cb = _pq_codebook(emb)
    scored = _pq_subvectors(emb).join(
        F.broadcast(cb), F.col("s") == F.col("cs")
    ).select("vec_id", "s", "code", _sq_dist("sv", "cv", _PQ_SUB).alias("d"))
    return scored.groupBy("vec_id", "s").agg(
        F.min(F.struct("d", "code")).alias("m")
    ).select("vec_id", "s", F.col("m.code").alias("code"), F.col("m.d").alias("d"))



def _sql_pq_round(k: int) -> str:
    """One unrolled per-subspace Lloyd iteration in DuckDB (mirrors
    _pq_codebook's loop; the subspace is just another grouping key)."""
    return f"""
    pd{k} AS (
      SELECT sub.vec_id, sub.s, c.code, {_sql_sq_dist("sub.sv", "c.cv")} AS d
      FROM sub JOIN pcb{k - 1} c ON sub.s = c.s
    ),
    pa{k} AS (
      SELECT vec_id, s, code FROM (
        SELECT *, row_number() OVER (
          PARTITION BY vec_id, s ORDER BY d, code) AS rn
        FROM pd{k}
      ) WHERE rn = 1
    ),
    pcb{k} AS (
      SELECT s, code, list(m ORDER BY pos) AS cv FROM (
        SELECT s, code, pos, {_SQL_SORTED_MEAN} AS m FROM (
          SELECT a.s AS s, a.code AS code, x.i AS pos,
            CAST(x.sv[x.i] AS DOUBLE) AS v
          FROM (
            SELECT vec_id, s, sv,
              unnest(generate_series(1, length(sv))) AS i
            FROM sub
          ) x JOIN pa{k} a ON x.vec_id = a.vec_id AND x.s = a.s
        ) GROUP BY s, code, pos
      ) GROUP BY s, code
    )"""


_SQL_PQ_PRELUDE = f"""
    e AS (SELECT vec_id, embedding FROM embeddings),
    s AS (SELECT unnest(generate_series(0, {_PQ_M - 1})) AS s),
    sub AS (
      SELECT vec_id, s,
        list_slice(embedding, s * {_PQ_SUB} + 1, s * {_PQ_SUB} + {_PQ_SUB}) AS sv
      FROM e CROSS JOIN s
    ),
    pcb0 AS (
      SELECT vec_id AS code, s,
        list_transform(sv, x -> CAST(x AS DOUBLE)) AS cv
      FROM sub WHERE vec_id < {_PQ_K}
    ),
    {",".join(_sql_pq_round(k) for k in range(1, _PQ_ITERS + 1))}
"""
_SQL_PQ_CB = f"pcb{_PQ_ITERS}"


@register(
    "q_sim_pq",
    oracle=f"""
    WITH {_SQL_PQ_PRELUDE},
    scored AS (
      SELECT sub.vec_id, sub.s, cb.code, {_sql_sq_dist("sub.sv", "cb.cv")} AS d
      FROM sub JOIN {_SQL_PQ_CB} cb ON sub.s = cb.s
    )
    SELECT vec_id, s AS subspace, code, round(d, 8) AS dist FROM (
      SELECT *, row_number() OVER (PARTITION BY vec_id, s ORDER BY d, code) AS rn
      FROM scored
    ) WHERE rn = 1
    """,
)
def q_sim_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encoding (M=8 subspaces × 8 dims, K*=16
    codewords TRAINED by per-subspace unrolled Lloyd iterations —
    _pq_codebook): compresses each 64-float vector to 8 small codes —
    the store compression under IVF-PQ ANN indexes (Jégou et al. 2011,
    public).  The encode emits (vec_id, subspace, code, quantization
    error); asymmetric distance scoring is then a per-query
    lookup-table join on these codes.

    Plan: the subspace explode is map-side (M rows per vector, slices
    of the already-loaded array — no shuffle); the codebook side is
    M·K* = 32 rows, broadcast; the argmin window keys on
    (vec_id, subspace) so state per task is K* rows.  At 100 TB this
    is one scan + one broadcast join + one window over a key whose
    groups never exceed K* — no data-proportional shuffle at all.
    A trained codebook (k-means per subspace on a sample) drops into
    the cb side unchanged; the md5-free deterministic seed codebook is
    what makes the full encode oracle-checkable."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    _assert_clean_embeddings(emb)
    return _pq_encode(emb).select(
        "vec_id",
        F.col("s").cast("bigint").alias("subspace"),
        "code",
        F.round("d", 8).alias("dist"),
    )


@register(
    "q_sim_pq_search",
    oracle=f"""
    WITH {_SQL_PQ_PRELUDE},
    enc AS (
      SELECT vec_id, s, code FROM (
        SELECT sub.vec_id, sub.s, cb.code,
          row_number() OVER (
            PARTITION BY sub.vec_id, sub.s
            ORDER BY {_sql_sq_dist("sub.sv", "cb.cv")}, cb.code) AS rn
        FROM sub JOIN {_SQL_PQ_CB} cb ON sub.s = cb.s
      ) WHERE rn = 1
    ),
    codes AS (SELECT vec_id, list(code ORDER BY s) AS codes FROM enc GROUP BY vec_id),
    lut0 AS (
      SELECT q.vec_id AS query_id, q.s, cb.code,
        {_sql_sq_dist("q.sv", "cb.cv")} AS d
      FROM sub q JOIN {_SQL_PQ_CB} cb ON q.s = cb.s WHERE q.vec_id < 5
    ),
    spine AS (
      SELECT query_id, s.s AS s, c.code AS code
      FROM (SELECT DISTINCT query_id FROM lut0)
      CROSS JOIN s
      CROSS JOIN (SELECT unnest(generate_series(0, {_PQ_K - 1})) AS code) c
    ),
    lut AS (
      -- full M×K* slot spine: a codeword emptied by Lloyd training
      -- must still occupy its LUT slot (with +inf) or the positional
      -- fold below would shift every later index
      SELECT spine.query_id,
        list(COALESCE(lut0.d, 1e18) ORDER BY spine.s, spine.code) AS lut
      FROM spine LEFT JOIN lut0
        ON spine.query_id = lut0.query_id
       AND spine.s = lut0.s AND spine.code = lut0.code
      GROUP BY spine.query_id
    ),
    scored AS (
      SELECT lut.query_id, codes.vec_id AS cand_id,
        round(list_reduce(
          list_prepend(CAST(0 AS DOUBLE),
            list_transform(generate_series(1, {_PQ_M}),
              s -> lut.lut[(s - 1) * {_PQ_K} + codes.codes[s] + 1])),
          (x, y) -> x + y), 8) AS adc_dist
      FROM codes CROSS JOIN lut WHERE codes.vec_id <> lut.query_id
    ),
    shortl AS (
      SELECT query_id, cand_id, adc_dist FROM (
        SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY adc_dist, cand_id) AS arank
        FROM scored
      ) WHERE arank <= 100
    ),
    rerank AS (
      SELECT shortl.query_id, shortl.cand_id, shortl.adc_dist,
        {_sql_sq_dist("qe.embedding", "ce.embedding")} AS exact_dist
      FROM shortl
      JOIN e qe ON qe.vec_id = shortl.query_id
      JOIN e ce ON ce.vec_id = shortl.cand_id
    )
    SELECT query_id, cand_id, adc_dist, round(exact_dist, 8) AS exact_dist, rank
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY exact_dist, cand_id) AS rank
      FROM rerank
    ) WHERE rank <= 10
    """,
)
def q_sim_pq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3 asymmetric-distance top-k over the PQ codes (ADC, Jégou et
    al. 2011, public): for each query vector (vec_id < 5), build the
    M×K* lookup table of subspace distances to every codeword, then
    score each database vector as the SUM OF M TABLE LOOKUPS on its
    codes — never touching the original floats.  This is the query
    path that makes q_sim_pq's 32× compression useful: at 100 TB the
    float embeddings stay in cold storage and the scan reads only the
    8-byte code rows.

    Plan: the encode is q_sim_pq's (scan + 32-row broadcast codebook +
    bounded window); the per-query LUTs aggregate to |queries| rows of
    32 doubles and broadcast; scoring is then a MAP-ONLY fold over the
    code array (table lookups via element_at — no joins, no shuffle
    per pair), and the only data-scaled exchange is the per-query
    top-k window.  LUT arrays are ordered (s, code) identically in
    both engines via sorted collect; the ADC sum folds in subspace
    order, so every double is bit-identical before the 8dp guard."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    _assert_clean_embeddings(emb)
    cb = _pq_codebook(emb)  # shared by encode AND LUT: trained once
    codes = _pq_encode(emb, cb).groupBy("vec_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("s", "code"))), lambda t: t["code"]
        ).alias("codes")
    )
    lut0 = (
        _pq_subvectors(emb.filter(F.col("vec_id") < 5))
        .join(F.broadcast(cb), F.col("s") == F.col("cs"))
        .select(
            F.col("vec_id").alias("query_id"),
            "s",
            "code",
            _sq_dist("sv", "cv", _PQ_SUB).alias("d"),
        )
    )
    # full M×K* slot spine: a codeword emptied by Lloyd training must
    # still occupy its LUT slot (as +inf) or the positional fold below
    # would shift every later index.  Query ids come from the PRUNED
    # key-only scan, not distinct() over lut0 — the latter re-executed
    # the whole explode+codebook-join subtree a second time just to
    # recover the ids (review-caught)
    spine = (
        emb.filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").alias("query_id"))
        .distinct()
        .select(
            "query_id",
            F.explode(F.sequence(F.lit(0), F.lit(_PQ_M - 1))).alias("ss"),
        )
        .select(
            "query_id",
            "ss",
            F.explode(F.sequence(F.lit(0), F.lit(_PQ_K - 1))).alias("sc"),
        )
    )
    lut = (
        spine.join(
            lut0,
            (spine["query_id"] == lut0["query_id"])
            & (F.col("ss") == lut0["s"])
            & (F.col("sc") == lut0["code"]),
            "left",
        )
        .select(
            spine["query_id"],
            "ss",
            "sc",
            F.coalesce("d", F.lit(1e18)).alias("dfill"),
        )
        .groupBy("query_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("ss", "sc", "dfill"))),
                lambda t: t["dfill"],
            ).alias("lut")
        )
    )
    scored = codes.join(
        F.broadcast(lut), F.col("vec_id") != F.col("query_id")
    ).select(
        "query_id",
        F.col("vec_id").alias("cand_id"),
        F.round(
            F.aggregate(
                F.transform(
                    "codes",
                    lambda c, s: F.element_at(
                        F.col("lut"), (s * _PQ_K + c + 1).cast("int")
                    ),
                ),
                F.lit(0.0),
                lambda a, v: a + v,
            ),
            8,
        ).alias("adc_dist"),
    )
    wa = Window.partitionBy("query_id").orderBy("adc_dist", "cand_id")
    short = (
        scored.withColumn("arank", F.row_number().over(wa))
        .filter(F.col("arank") <= 100)
        .select("query_id", "cand_id", "adc_dist")
    )
    qe = emb.select(F.col("vec_id").alias("qv"), F.col("embedding").alias("q_emb"))
    ce = emb.select(F.col("vec_id").alias("cv2"), F.col("embedding").alias("c_emb"))
    rerank = (
        short.join(F.broadcast(qe), F.col("query_id") == F.col("qv"))
        .join(ce, F.col("cand_id") == F.col("cv2"))
        .select(
            "query_id",
            "cand_id",
            "adc_dist",
            _sq_dist("q_emb", "c_emb", _EMB_DIM).alias("exact_dist"),
        )
    )
    wr = Window.partitionBy("query_id").orderBy("exact_dist", "cand_id")
    return (
        rerank.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= 10)
        .select(
            "query_id",
            "cand_id",
            "adc_dist",
            F.round("exact_dist", 8).alias("exact_dist"),
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


# CDC delta for the maintained index, synthesized deterministically
# from the embeddings table so both engines derive the identical delta:
# vec_id % 17 == 3 → DELETE, == 5 → UPDATE (embedding negated),
# == 7 → INSERT (new id = vec_id + _INS_SHIFT, embedding reversed).
_DELTA_MOD = 17
_INS_SHIFT = 10_000_000  # far above any base vec_id at every SF


@register(
    "q_sim_index_incremental",
    oracle=f"""
    WITH {_SQL_PQ_PRELUDE},
    corpus2 AS (
      SELECT vec_id, embedding FROM embeddings
      WHERE vec_id % {_DELTA_MOD} NOT IN (3, 5)
      UNION ALL
      SELECT vec_id,
        list_transform(embedding, x -> CAST(-x AS FLOAT)) AS embedding
      FROM embeddings WHERE vec_id % {_DELTA_MOD} = 5
      UNION ALL
      SELECT vec_id + {_INS_SHIFT} AS vec_id,
        list_reverse(embedding) AS embedding
      FROM embeddings WHERE vec_id % {_DELTA_MOD} = 7
    ),
    sub2 AS (
      SELECT vec_id, s,
        list_slice(embedding, s * {_PQ_SUB} + 1, s * {_PQ_SUB} + {_PQ_SUB}) AS sv
      FROM corpus2 CROSS JOIN s
    ),
    enc2 AS (
      SELECT vec_id, s, code FROM (
        SELECT sub2.vec_id, sub2.s, cb.code,
          row_number() OVER (
            PARTITION BY sub2.vec_id, sub2.s
            ORDER BY {_sql_sq_dist("sub2.sv", "cb.cv")}, cb.code) AS rn
        FROM sub2 JOIN {_SQL_PQ_CB} cb ON sub2.s = cb.s
      ) WHERE rn = 1
    )
    SELECT vec_id, s AS subspace, code FROM enc2
    """,
)
def q_sim_index_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3 INCREMENTAL ANN-index maintenance under CDC — the vector
    twin of q_mv_incremental (operators/cdc_batch.py): a trained PQ
    index advances by a CDC delta WITHOUT retraining.  New/changed
    vectors are re-encoded against the FROZEN base codebook and
    upserted into the code table; deleted vectors drop.  The delta is
    synthesized deterministically from vec_id (% {_DELTA_MOD}:
    3→delete, 5→update = negated embedding, 7→insert = reversed
    embedding under a shifted id) so DuckDB derives the identical
    feed.

    The ORACLE encodes the ENTIRE post-delta corpus with the same
    base-trained codebook (a full re-encode), so the hash match IS the
    maintenance-equivalence proof: incremental apply ≡ rebuild-with-
    frozen-codebook, code for code.  The recall pin vs a fully
    RETRAINED index (the drift question quantization papers defer to
    re-training schedules) lives in tests/test_sim_index_round9.py.
    (The coarse IVF level maintains identically — assign new vectors
    to frozen centroids — but its k-means centroid floats are engine-
    specific, q_sim_ivf's documented rows-only rationale, so the
    oracle-checked surface is the PQ code table.)

    Scale: training + base encode are q_sim_pq's plan (scan + 32-row
    broadcast codebook + map-side argmin fold); the INCREMENTAL work
    is delta-proportional only — the delta re-encode touches delta
    rows times the same broadcast codebook, and the upsert is one
    left_anti + union on the code table, exactly the
    q_upsert_latest_wins geometry.  At 100 TB the base code table is
    storage (8 bytes/vector), never recomputed; a daily delta costs
    |delta|·M lookups, not a corpus pass."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    _assert_clean_embeddings(emb)
    cb = _pq_codebook(emb)  # trained on the BASE corpus, then FROZEN

    def code_rows(encoded: DataFrame) -> DataFrame:
        # (vec_id, subspace, code) scalar rows — the stored index
        # layout, and the driver-hashable shape (q_sim_pq precedent)
        return encoded.select(
            "vec_id", F.col("s").cast("bigint").alias("subspace"), "code"
        )

    base_codes = code_rows(_pq_encode(emb, cb))
    mod = F.col("vec_id") % _DELTA_MOD
    # CDC delta: updates re-encode, inserts encode fresh, deletes drop
    updates = emb.filter(mod == 5).select(
        "vec_id",
        F.transform("embedding", lambda x: (-x).cast("float")).alias(
            "embedding"
        ),
    )
    inserts = emb.filter(mod == 7).select(
        (F.col("vec_id") + _INS_SHIFT).alias("vec_id"),
        F.reverse("embedding").alias("embedding"),
    )
    upsert_codes = code_rows(_pq_encode(updates.unionByName(inserts), cb))
    # keys leaving the code table: deletes AND updates (replaced)
    gone = emb.filter(mod.isin(3, 5)).select("vec_id")
    return base_codes.join(gone, "vec_id", "left_anti").unionByName(
        upsert_codes
    )


def pq_codebook_literal(cb: DataFrame) -> Column:
    """The trained codebook collected into ONE array-of-arrays literal
    ordered (s, code) — ≤ M·K* = 8·16 rows, a BOUNDED documented
    collect (the broadcast-as-literal form).  Codewords emptied by
    Lloyd training fill their slot with +1e18 vectors so positional
    indexing never shifts and an absent code can never win an argmin —
    the same slot-spine rule as q_sim_pq_search's LUT.

    Why a literal and not a join: baked into the expression tree, the
    PQ encode becomes a PURE PROJECTION — no join, no aggregation — so
    it is legal in a STREAMING select (stateful-op-free), and on a
    cluster it ships once inside the codegen'd plan instead of a
    broadcast exchange per micro-batch."""
    slots: dict[tuple[int, int], list[float]] = {
        (r["cs"], r["code"]): [float(x) for x in r["cv"]] for r in cb.collect()
    }
    dead = [1e18] * _PQ_SUB
    return F.array(
        *[
            F.array(*[F.lit(x) for x in slots.get((s, k), dead)])
            for s in range(_PQ_M)
            for k in range(_PQ_K)
        ]
    )


def pq_encode_expr(cb_lit: Column, emb_col: str = "embedding") -> Column:
    """PQ codes as a comma-joined STRING computed by a map-only
    expression against the codebook literal — one row per vector, one
    scalar key-value payload, which is exactly what the generic CDC
    merge machinery (streaming.cdc.start_merge_stream, single-key
    latest-wins) wants as a change-event column.  Argmin ties break on
    the LOWEST code, matching _pq_encode's min(struct(d, code)):
    distances are generated in ascending-code order and array_position
    returns the FIRST occurrence of the min."""

    def code_for(s: int) -> Column:
        sl = F.expr(f"slice({emb_col}, {s * _PQ_SUB} + 1, {_PQ_SUB})")
        dists = F.array(
            *[
                _sq_dist(sl, F.element_at(cb_lit, s * _PQ_K + k + 1), _PQ_SUB)
                for k in range(_PQ_K)
            ]
        )
        return (F.array_position(dists, F.array_min(dists)) - 1).cast("bigint")

    return F.concat_ws(
        ",", *[code_for(s).cast("string") for s in range(_PQ_M)]
    )


@register(
    "q_weighted_sample",
    oracle=f"""
    SELECT doc_id, n_chars,
      CAST(n_chars AS DOUBLE) /
        {sql_md5_unit("CAST(doc_id AS VARCHAR)")} AS priority
    FROM documents
    ORDER BY priority DESC, doc_id
    LIMIT {_SAMPLE_K}
    """,
)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sample without replacement via priority sampling
    (Duffield-Lund-Thorup 2007, public): priority q_i = w_i / u_i with
    w = n_chars and u = md5(doc_id)/2^60 ∈ (0,1); the top-k priorities
    ARE the weighted sample, and 1/min-priority gives unbiased subset
    sum estimates.  This is the deterministic stand-in for
    df.sample(weights=...): longer documents are proportionally more
    likely to be drawn, and reruns (or the DuckDB twin) draw the exact
    same set because u is content-derived, not an RNG.

    Plan: the priority is a flat codegen projection (md5 + divide —
    same idiom as q_dataset_mixture's threshold sampler); the top-k is
    Spark's TakeOrderedAndProject — per-partition heap of k, then a
    k·partitions driver merge — so no global sort materializes at any
    scale.  u > 0 always (md5 of nonempty string ≥ '0…01'; the 60-bit
    prefix of a real digest is never all-zero in practice, and w/u on
    doubles is bit-deterministic in both engines)."""
    docs = load_table(spark, sf_dir, "documents")
    u = md5_unit(F.col("doc_id").cast("string"))
    return (
        docs.select(
            "doc_id",
            "n_chars",
            (F.col("n_chars").cast("double") / u).alias("priority"),
        )
        .orderBy(F.col("priority").desc(), "doc_id")
        .limit(_SAMPLE_K)
    )


@register(
    "q_embedding_outliers",
    oracle=f"""
    WITH e AS (SELECT vec_id, label, embedding FROM embeddings),
    dims AS (
      SELECT label, i AS pos, CAST(embedding[i] AS DOUBLE) AS v
      FROM (
        SELECT label, embedding,
          unnest(generate_series(1, length(embedding))) AS i
        FROM e
      )
    ),
    cent AS (
      SELECT label, list(m ORDER BY pos) AS cvec FROM (
        SELECT label, pos, {_SQL_SORTED_MEAN} AS m
        FROM dims GROUP BY label, pos
      ) GROUP BY label
    ),
    scored AS (
      SELECT e.vec_id, e.label,
        {_sql_sq_dist("e.embedding", "cent.cvec")} AS d
      FROM e JOIN cent USING (label)
    ),
    th AS (
      SELECT label, round(quantile_cont(d, 0.95), 4) AS p95
      FROM scored GROUP BY label
    )
    SELECT vec_id, scored.label, round(d, 8) AS dist, p95
    FROM scored JOIN th USING (label)
    WHERE d > p95
    """,
)
def q_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space outlier quarantine: vectors whose squared
    distance to their LABEL's centroid exceeds the label's p95 — the
    off-manifold junk detector of an embedding pipeline (mislabeled
    docs, OCR noise, adversarial inputs land far from their class
    mass).  The vector-side twin of q_mad_outliers.

    Plan: centroids are one (label, dim)-keyed aggregate (≤ |labels|·
    dim groups) rebuilt into arrays and broadcast back; distances are
    a map-only fold; thresholds are a |labels|-row aggregate broadcast
    again.  Two bounded aggregates + two broadcasts — the fact-scan
    never shuffles.  Centroid means are sorted folds and distances
    element-order folds (bit-identical), so only the interpolated p95
    needs the 4dp guard (q_percentile policy)."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", "embedding"
    )
    _assert_clean_embeddings(emb)
    cent = _sorted_mean_centroids(emb, ["label"], "embedding", "cvec")
    scored = emb.join(F.broadcast(cent), "label").select(
        "vec_id", "label", _sq_dist("embedding", "cvec", _EMB_DIM).alias("d")
    )
    th = scored.groupBy("label").agg(
        F.round(F.expr("percentile(d, 0.95)"), 4).alias("p95")
    )
    return (
        scored.join(F.broadcast(th), "label")
        .filter(F.col("d") > F.col("p95"))
        .select("vec_id", "label", F.round("d", 8).alias("dist"), "p95")
    )


# ------------------------------------------------------ z-score normalize


@register(
    "q_zscore_normalize",
    oracle="""
    WITH stats AS (
      SELECT c_mktsegment AS seg,
        CAST(COUNT(c_acctbal) AS BIGINT) AS n,
        CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
          / COUNT(c_acctbal) AS mu,
        CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))
                 * CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS sumsq
    FROM customer GROUP BY 1
    ),
    s2 AS (
      SELECT seg, n, mu,
        sqrt(sumsq / CAST(n AS DOUBLE) - mu * mu) AS sigma
      FROM stats
    )
    SELECT c_custkey, seg,
      (c_acctbal - mu) / sigma AS z
    FROM customer JOIN s2 ON c_mktsegment = seg
    WHERE sigma > 0
    """,
)
def q_zscore_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score feature normalization (the standard scaler of
    every tabular ML pipeline), exact across engines: mean and the
    E[x²] term both come from DECIMAL sums — a 2-dp input squared is a
    4-dp decimal, so Σx and Σx² are exact and associative — and only
    the final (x−μ)/σ runs in floats, as the identical expression tree
    on both sides.

    Plan: one hash aggregate for the per-segment moments (map-side
    partials), broadcast the ≤|segment| stats row back onto the scan —
    two passes over the input, zero windows, no data-scaled shuffle
    (the scan join is broadcast, so rows never move)."""
    c = load_table(spark, sf_dir, "customer")
    d = F.col("c_acctbal").cast("decimal(12,2)")
    stats = (
        c.groupBy(F.col("c_mktsegment").alias("seg"))
        .agg(
            F.count("c_acctbal").alias("n"),
            (F.sum(d).cast("double") / F.count("c_acctbal")).alias("mu"),
            F.sum(d * d).cast("double").alias("sumsq"),
        )
        .select(
            "seg",
            "n",
            "mu",
            F.sqrt(
                F.col("sumsq") / F.col("n").cast("double")
                - F.col("mu") * F.col("mu")
            ).alias("sigma"),
        )
    )
    return (
        c.join(F.broadcast(stats), c["c_mktsegment"] == stats["seg"])
        .filter(F.col("sigma") > 0)
        .select(
            "c_custkey",
            "seg",
            ((F.col("c_acctbal") - F.col("mu")) / F.col("sigma")).alias("z"),
        )
    )


# --------------------------------------------------------- target encoding


_TE_SMOOTH = 20.0


@register(
    "q_target_encode",
    oracle=f"""
    WITH g AS (
      SELECT CAST(SUM(CAST(p_retailprice AS DECIMAL(14,2))) AS DOUBLE)
               / COUNT(p_retailprice) AS gmean
      FROM part
    ),
    b AS (
      SELECT p_brand,
        CAST(COUNT(p_retailprice) AS BIGINT) AS n,
        CAST(SUM(CAST(p_retailprice AS DECIMAL(14,2))) AS DOUBLE) AS s
      FROM part GROUP BY p_brand
    )
    SELECT p_brand, n,
      (s + CAST({_TE_SMOOTH!r} AS DOUBLE) * gmean)
        / (CAST(n AS DOUBLE) + CAST({_TE_SMOOTH!r} AS DOUBLE)) AS encoded
    FROM b CROSS JOIN g
    """,
)
def q_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed target (mean) encoding of a categorical feature:
    brand → shrunk mean retail price, enc = (Σy + m·ȳ)/(n + m) with
    m = 20 — the leakage-safe categorical encoder of gradient-boosting
    pipelines, shrinking rare categories toward the global prior.

    Two independent hash aggregates (global prior is ONE row, cross-
    joined broadcast onto the per-brand frame); sums are exact
    decimals so the shrunk means are bitwise identical; nothing here
    scales worse than a count-distinct of the category domain."""
    p = load_table(spark, sf_dir, "part")
    d = F.col("p_retailprice").cast("decimal(14,2)")
    g = p.agg((F.sum(d).cast("double") / F.count("p_retailprice")).alias("gmean"))
    b = p.groupBy("p_brand").agg(
        F.count("p_retailprice").alias("n"),
        F.sum(d).cast("double").alias("s"),
    )
    m = F.lit(_TE_SMOOTH)
    return b.crossJoin(F.broadcast(g)).select(
        "p_brand",
        "n",
        ((F.col("s") + m * F.col("gmean")) / (F.col("n").cast("double") + m)).alias(
            "encoded"
        ),
    )


# --------------------------------------------------------- feature hashing


_FH_BUCKETS = 64


def _fh_oracle() -> str:
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.functions.portable_hash import (
        SQL_TOKS_EXPR,
        sql_md5_int,
    )

    return f"""
    WITH toks AS (
      SELECT doc_id, unnest({SQL_TOKS_EXPR}) AS token
      FROM documents WHERE doc_id < 200
    )
    SELECT doc_id,
      CAST({sql_md5_int('token')} % {_FH_BUCKETS} AS INT) AS bucket,
      CAST(COUNT(*) AS BIGINT) AS weight
    FROM toks GROUP BY 1, 2
    """


@register("q_feature_hashing", oracle=_fh_oracle())
def q_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick: project an unbounded token vocabulary into a
    fixed 64-bucket feature space (Weinberger et al. 2009, public) —
    the no-vocabulary featurizer for streaming text classification,
    emitted as sparse (doc, bucket, weight) triples.

    The hash is the engine-portable 60-bit md5 prefix (functions/
    portable_hash.py) mod the bucket count — deterministic across
    engines AND across runs, unlike hashCode-based featurizers.
    Plan: explode → one hash aggregate keyed (doc, bucket); no
    vocabulary table, no broadcast, no window — the entire point of
    feature hashing is that it needs no global state, which is also
    what makes it embarrassingly scalable."""
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.functions.portable_hash import (
        md5_prefix_int,
    )
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.functions.text import tokens

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    tok = d.select("doc_id", F.explode(tokens("text")).alias("token"))
    return tok.groupBy(
        "doc_id",
        (md5_prefix_int(F.col("token")) % _FH_BUCKETS).cast("int").alias("bucket"),
    ).agg(F.count("*").alias("weight"))


# ---------------------------------------------------------- k-fold assign


_KFOLDS = 5


def _kfold_oracle() -> str:
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.functions.portable_hash import (
        sql_md5_int,
    )

    return f"""
    WITH f AS (
      SELECT source,
        CAST({sql_md5_int('CAST(doc_id AS VARCHAR)')} % {_KFOLDS} AS INT) AS fold,
        n_chars
      FROM documents
    )
    SELECT source, fold,
      CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM f GROUP BY 1, 2
    """


@register("q_kfold_assign", oracle=_kfold_oracle())
def q_kfold_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-fold cross-validation assignment: fold =
    md5(doc_id) mod k — reproducible across engines, runs, and
    cluster sizes (rand()-based folds are none of those), stratified
    here per source so fold balance is auditable per corpus slice.

    Pure projection + one hash aggregate; the fold column is also the
    shape you'd bucket-write by for fold-local training reads."""
    d = load_table(spark, sf_dir, "documents")
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.functions.portable_hash import (
        md5_prefix_int,
    )

    return (
        d.select(
            "source",
            (md5_prefix_int(F.col("doc_id").cast("string")) % _KFOLDS)
            .cast("int")
            .alias("fold"),
            "n_chars",
        )
        .groupBy("source", "fold")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


# --------------------------------------------------------- min-max scaling


@register(
    "q_minmax_scale",
    oracle="""
    WITH stats AS (
      SELECT c_mktsegment AS seg,
        MIN(c_acctbal) AS lo, MAX(c_acctbal) AS hi
      FROM customer GROUP BY 1
    )
    SELECT c_custkey, seg,
      (c_acctbal - lo) / (hi - lo) AS scaled
    FROM customer JOIN stats ON c_mktsegment = seg
    WHERE hi > lo
    """,
)
def q_minmax_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group min-max feature scaling to [0, 1] — the bounded-range
    normalizer (companion to q_zscore_normalize's standard scaler).
    MIN/MAX are order-free EXACT aggregates on any type, so unlike a
    mean there is no float-summation hazard at all; the rescale is
    one subtraction and one division, the identical tree both
    engines.  Degenerate constant groups (hi = lo) are filtered, not
    divided by zero.

    Plan: one hash aggregate for the ≤|segment| stats frame,
    broadcast back onto the scan — rows never shuffle."""
    c = load_table(spark, sf_dir, "customer")
    stats = c.groupBy(F.col("c_mktsegment").alias("seg")).agg(
        F.min("c_acctbal").alias("lo"), F.max("c_acctbal").alias("hi")
    )
    return (
        c.join(F.broadcast(stats), c["c_mktsegment"] == stats["seg"])
        .filter(F.col("hi") > F.col("lo"))
        .select(
            "c_custkey",
            "seg",
            ((F.col("c_acctbal") - F.col("lo")) / (F.col("hi") - F.col("lo"))).alias(
                "scaled"
            ),
        )
    )


# 2-component 1D Gaussian mixture: 2 unrolled EM iterations on order
# totals.  Initialization anchors at the 25th/75th percentiles with a
# common IQR-based sigma and equal weights.
_EM_ITERS = 2


def _sql_em_iter(k: int) -> str:
    """One unrolled EM iteration as DuckDB CTE fragments: params p{k}
    from p{k-1}.  E-step responsibilities via the overflow-safe
    log-odds form, rounded 6dp; M-step moment sums ride DECIMAL."""
    p = f"p{k - 1}"
    return f"""
    e{k} AS (
      SELECT x.x,
        round(1.0 / (1.0 + exp(
          ln(w2 / w1) + ln(s1 / s2)
          + (x.x - m1) * (x.x - m1) / (2 * s1 * s1)
          - (x.x - m2) * (x.x - m2) / (2 * s2 * s2))), 6) AS r1
      FROM x CROSS JOIN {p}
    ),
    m{k} AS (
      SELECT
        CAST(SUM(CAST(r1 AS DECIMAL(18,6))) AS DOUBLE) AS n1,
        CAST(SUM(CAST(round(r1 * x, 4) AS DECIMAL(28,4))) AS DOUBLE) AS sx1,
        CAST(SUM(CAST(round(r1 * x * x, 2) AS DECIMAL(38,2)))
             AS DOUBLE) AS sq1,
        CAST(SUM(CAST(1 - r1 AS DECIMAL(18,6))) AS DOUBLE) AS n2,
        CAST(SUM(CAST(round((1 - r1) * x, 4) AS DECIMAL(28,4)))
             AS DOUBLE) AS sx2,
        CAST(SUM(CAST(round((1 - r1) * x * x, 2) AS DECIMAL(38,2)))
             AS DOUBLE) AS sq2,
        COUNT(*) AS n
      FROM e{k}
    ),
    p{k} AS (
      SELECT
        round(sx1 / n1, 4) AS m1,
        round(sx2 / n2, 4) AS m2,
        round(sqrt(GREATEST(sq1 / n1 - round(sx1 / n1, 4)
                            * round(sx1 / n1, 4), 1.0)), 4) AS s1,
        round(sqrt(GREATEST(sq2 / n2 - round(sx2 / n2, 4)
                            * round(sx2 / n2, 4), 1.0)), 4) AS s2,
        round(n1 / n, 6) AS w1,
        round(n2 / n, 6) AS w2
      FROM m{k}
    )"""


@register(
    "q_mixture_em",
    oracle=f"""
    WITH x AS (
      SELECT CAST(CAST(o_totalprice AS DECIMAL(14,2)) AS DOUBLE) AS x
      FROM orders WHERE o_totalprice IS NOT NULL
    ),
    p0 AS (
      SELECT
        round(quantile_cont(x, 0.25), 4) AS m1,
        round(quantile_cont(x, 0.75), 4) AS m2,
        GREATEST(round(quantile_cont(x, 0.75)
                       - quantile_cont(x, 0.25), 4), 1.0) AS s1,
        GREATEST(round(quantile_cont(x, 0.75)
                       - quantile_cont(x, 0.25), 4), 1.0) AS s2,
        0.5 AS w1, 0.5 AS w2
      FROM x
    ),
    {",".join(_sql_em_iter(k) for k in range(1, _EM_ITERS + 1))}
    SELECT * FROM (
      SELECT 1 AS component, w1 AS weight, m1 AS mu, s1 AS sigma
      FROM p{_EM_ITERS}
      UNION ALL
      SELECT 2, w2, m2, s2 FROM p{_EM_ITERS}
    )
    """,
)
def q_mixture_em(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GAUSSIAN MIXTURE fit by 2 unrolled EM iterations (Dempster,
    Laird & Rubin 1977, public): a 2-component 1D mixture over order
    totals — the soft-assignment counterpart of q_kmeans_assign's hard
    Lloyd updates, and the generative sibling of q_equidepth_bins for
    discovering latent value segments.

    Determinism — the hardest per-row transcendental case in the
    engine: responsibilities use the overflow-safe LOG-ODDS form
    r₁ = 1/(1+exp(Δ)) (a huge Δ saturates through exp→inf→r=0
    identically on both engines, never NaN), rounded 6dp BEFORE the
    moment sums; moments ride DECIMAL (r·x at 4dp, r·x² at 2dp —
    totals near 5e5 keep full relative precision); parameters round
    (means/sigmas 4dp, weights 6dp) each iteration so both engines
    enter the next E-step with identical doubles.  Initialization is
    quartile-anchored (shared (n−1)·p interpolation), variance floors
    at 1.

    Scale: each iteration is ONE scan + one global aggregate with a
    1-row parameter broadcast — no shuffle of fact rows, no window;
    iteration count is fixed and the parameter lineage is cut per
    round (localCheckpoint on 1-row frames, the q_bradley_terry
    barrier)."""
    x = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice").isNotNull())
        .select(
            F.col("o_totalprice")
            .cast("decimal(14,2)")
            .cast("double")
            .alias("x")
        )
    )
    # r13: all three consumers (init percentile + both E-steps) root at
    # a single-row-group scan, so the exact-percentile buffer and the
    # per-row exp/log E-step ran single-threaded; spread the 1-column
    # projection once so each pass runs at shuffle width (guide §2.5 —
    # interleaved A/B min-of-5: 3.95 → 2.97 s; a lazy checkpoint on
    # the spread frame measured no further gain and was not taken).
    x = spread(x)
    iqr = F.round(
        F.expr("percentile(x, 0.75)") - F.expr("percentile(x, 0.25)"), 4
    )
    params = x.agg(
        F.round(F.expr("percentile(x, 0.25)"), 4).alias("m1"),
        F.round(F.expr("percentile(x, 0.75)"), 4).alias("m2"),
        F.greatest(iqr, F.lit(1.0)).alias("s1"),
        F.greatest(iqr, F.lit(1.0)).alias("s2"),
        F.lit(0.5).alias("w1"),
        F.lit(0.5).alias("w2"),
    # barrier: the EM loop's initial state
    ).localCheckpoint()
    for _ in range(_EM_ITERS):
        delta = (
            F.log(F.col("w2") / F.col("w1"))
            + F.log(F.col("s1") / F.col("s2"))
            + (F.col("x") - F.col("m1"))
            * (F.col("x") - F.col("m1"))
            / (2 * F.col("s1") * F.col("s1"))
            - (F.col("x") - F.col("m2"))
            * (F.col("x") - F.col("m2"))
            / (2 * F.col("s2") * F.col("s2"))
        )
        e = x.join(F.broadcast(params)).select(
            "x",
            F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(delta)), 6).alias("r1"),
        )
        r1, x_ = F.col("r1"), F.col("x")
        m = e.agg(
            F.sum(r1.cast("decimal(18,6)")).cast("double").alias("n1"),
            F.sum(F.round(r1 * x_, 4).cast("decimal(28,4)"))
            .cast("double")
            .alias("sx1"),
            F.sum(F.round(r1 * x_ * x_, 2).cast("decimal(38,2)"))
            .cast("double")
            .alias("sq1"),
            F.sum((1 - r1).cast("decimal(18,6)")).cast("double").alias("n2"),
            F.sum(F.round((1 - r1) * x_, 4).cast("decimal(28,4)"))
            .cast("double")
            .alias("sx2"),
            F.sum(F.round((1 - r1) * x_ * x_, 2).cast("decimal(38,2)"))
            .cast("double")
            .alias("sq2"),
            F.count(F.lit(1)).alias("n"),
        )

        def mu(sx, n_):
            return F.round(F.col(sx) / F.col(n_), 4)

        def sig(sq, n_, sx):
            return F.round(
                F.sqrt(
                    F.greatest(
                        F.col(sq) / F.col(n_) - mu(sx, n_) * mu(sx, n_),
                        F.lit(1.0),
                    )
                ),
                4,
            )

        params = m.select(
            mu("sx1", "n1").alias("m1"),
            mu("sx2", "n2").alias("m2"),
            sig("sq1", "n1", "sx1").alias("s1"),
            sig("sq2", "n2", "sx2").alias("s2"),
            F.round(F.col("n1") / F.col("n"), 6).alias("w1"),
            F.round(F.col("n2") / F.col("n"), 6).alias("w2"),
        # barrier: the EM loop state, truncated every round
        ).localCheckpoint()
    return params.selectExpr(
        "stack(2, 1, w1, m1, s1, 2, w2, m2, s2)"
        " AS (component, weight, mu, sigma)"
    )


_NEG_K = 2  # sampled negatives per positive interaction


@register(
    "q_negative_sampling",
    oracle=f"""
    WITH positives AS (
      SELECT DISTINCT o_custkey AS user_id, l_partkey AS item_id
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderpriority = '1-URGENT'
        AND o_custkey IS NOT NULL AND l_partkey IS NOT NULL
    ),
    n_items AS (SELECT COUNT(*) AS n FROM part),
    cand AS (
      SELECT user_id, item_id AS pos_item_id, j AS neg_slot,
        {{h}} % n_items.n AS neg_item_id
      FROM positives
      CROSS JOIN (SELECT unnest(generate_series(1, {_NEG_K})) AS j)
      CROSS JOIN n_items
    )
    SELECT c.user_id, c.pos_item_id, c.neg_slot, c.neg_item_id
    FROM cand c
    LEFT JOIN positives p
      ON c.user_id = p.user_id AND c.neg_item_id = p.item_id
    WHERE p.user_id IS NULL
    """.format(
        h=__import__(
            "cdc_from_sql_and_nosql_to_data_warehouse_spark.functions.portable_hash",
            fromlist=["sql_md5_int"],
        ).sql_md5_int(
            "CAST(user_id AS VARCHAR) || ':' || CAST(item_id AS VARCHAR)"
            " || ':' || CAST(j AS VARCHAR) || ':neg'"
        )
    ),
)
def q_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic NEGATIVE SAMPLING for implicit-feedback training
    data (public design: word2vec / BPR / two-tower recsys pipelines):
    for every observed (user, item) interaction — urgent-priority
    purchases — draw K=2 candidate non-interactions by hashing
    (user, item, slot) into the item-key space, then REJECT candidates
    that are actually positives with one anti-join.  The portable
    md5-derived draw is reproducible across engines, runs and cluster
    sizes, the house rand() replacement (q_split_train_eval policy);
    TPC-H part keys are the dense 0..n−1 domain, so hash % n is always
    a real item.

    Rejected collisions are dropped, not resampled — the unbiased
    one-shot variant (resampling loops are driver-side poison at
    scale; the expected loss is |user's items|/|items|, negligible for
    sparse interaction matrices, and downstream loss functions treat
    per-positive negative counts as variable anyway).

    Scale: distinct-positives aggregate, a ×K map-side explode, one
    hash anti-join on (user, candidate) — all linear in interactions;
    the item count is a 1-row broadcast.  No per-user state, no
    vocabulary table, no RNG synchronization."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_partkey").isNotNull()
    )
    positives = (
        li.join(o.filter(F.col("o_custkey").isNotNull()),
                li["l_orderkey"] == o["o_orderkey"])
        .select(
            F.col("o_custkey").alias("user_id"),
            F.col("l_partkey").alias("item_id"),
        )
        .distinct()
    )
    n_items = F.broadcast(
        load_table(spark, sf_dir, "part").agg(
            F.count(F.lit(1)).alias("n")
        )
    )
    h = md5_prefix_int(
        F.concat(
            F.col("user_id").cast("string"), F.lit(":"),
            F.col("item_id").cast("string"), F.lit(":"),
            F.col("j").cast("string"), F.lit(":neg"),
        )
    )
    cand = (
        positives.withColumn(
            "j", F.explode(F.sequence(F.lit(1), F.lit(_NEG_K)))
        )
        .crossJoin(n_items)
        .select(
            "user_id",
            F.col("item_id").alias("pos_item_id"),
            F.col("j").cast("bigint").alias("neg_slot"),
            (h % F.col("n")).alias("neg_item_id"),
        )
    )
    return cand.join(
        positives.withColumnsRenamed(
            {"user_id": "p_user", "item_id": "p_item"}
        ),
        (F.col("user_id") == F.col("p_user"))
        & (F.col("neg_item_id") == F.col("p_item")),
        "left_anti",
    )


_CF_MAX_DEGREE = 30  # hub cap: users above this contribute no pairs
_CF_TOPK = 5
# User-shard count for the two-level pair aggregation (r12, VERDICT
# r11 next-4): pair evidence first aggregates at (shard, i, j) where
# shard = hash(user) % S, then sums per (i, j).  Identical output by
# sum associativity (each user's evidence lands in exactly one shard);
# the win is at the blowup decades — hot item pairs' evidence rows
# split across S reduce keys, so no single reduce task owns a popular
# pair's full count stream (the sf10 probe measured 62 GB spill with
# the single-level agg).
_CF_SHARDS = 16


@register(
    "q_item_cf",
    oracle=f"""
    WITH inter AS (
      SELECT DISTINCT o_custkey AS user_id, l_partkey AS item_id
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_custkey IS NOT NULL AND l_partkey IS NOT NULL
    ),
    norms AS (
      SELECT item_id, CAST(COUNT(*) AS BIGINT) AS n_users
      FROM inter GROUP BY item_id
    ),
    capped AS (
      SELECT user_id, item_id FROM (
        SELECT user_id, item_id,
          COUNT(*) OVER (PARTITION BY user_id) AS deg
        FROM inter
      ) WHERE deg <= {_CF_MAX_DEGREE}
    ),
    pairs AS (
      SELECT a.item_id AS i, b.item_id AS j,
        CAST(COUNT(*) AS BIGINT) AS c
      FROM capped a JOIN capped b
        ON a.user_id = b.user_id AND a.item_id < b.item_id
      GROUP BY a.item_id, b.item_id
    ),
    sym AS (
      SELECT i, j, c FROM pairs
      UNION ALL
      SELECT j AS i, i AS j, c FROM pairs
    ),
    scored AS (
      SELECT sym.i, sym.j,
        round(CAST(sym.c AS DOUBLE)
              / sqrt(CAST(ni.n_users AS DOUBLE) * nj.n_users), 6) AS cosine
      FROM sym
      JOIN norms ni ON sym.i = ni.item_id
      JOIN norms nj ON sym.j = nj.item_id
    )
    SELECT i AS item_id, j AS neighbor_id, cosine, rn AS rank
    FROM (
      SELECT i, j, cosine,
        row_number() OVER (PARTITION BY i ORDER BY cosine DESC, j) AS rn
      FROM scored
    ) WHERE rn <= {_CF_TOPK}
    """,
)
def q_item_cf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ITEM-ITEM collaborative filtering (public design: Sarwar et
    al.'01 / Amazon item-to-item): top-5 neighbors per item by cosine
    over the binary user-item matrix — cos(i,j) = |U_i ∩ U_j| /
    √(|U_i|·|U_j|), co-occurrence counted through the user self-join.
    The similarity backbone of "customers also bought" and of
    co-purchase-based item embeddings.

    Hub cap (the q_link_prediction precedent): users with more than 30
    distinct items contribute NO pairs — a single crawler/bot account
    otherwise fans out |items|² pairs (and adds co-occurrence noise the
    CF literature deliberately down-weights anyway).  Degree capping
    keeps the pair explosion bounded by Σ min(d_u, 30)² ≈ linear in
    users.  Norms still count ALL users (capping affects evidence
    generation, not item popularity).

    Plan: distinct-interactions aggregate → windowed degree filter →
    self-equi-join on user_id (i<j kills the diagonal and halves the
    work) → TWO-LEVEL pair hash agg (per-user-shard partials, then a
    ≤_CF_SHARDS-rows-per-pair merge — hot pairs never serialize
    through one reduce task; identical by sum associativity, see
    _CF_SHARDS) → two |items|-bounded norm joins → literal
    top-k rank, which Spark rewrites to WindowGroupLimit (k-row heaps
    before the exchange, plan-pinned in tests/test_round10_ops.py).
    Every float is one 6dp-rounded division of exact integers."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_custkey").isNotNull()
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_partkey").isNotNull()
    )
    inter = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(
            F.col("o_custkey").alias("user_id"),
            F.col("l_partkey").alias("item_id"),
        )
        .distinct()
    )
    norms = inter.groupBy("item_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users")
    )
    deg_w = Window.partitionBy("user_id")
    # no checkpoint on capped: materializing it measured slower than
    # recomputing (r12 A/B)
    capped = (
        inter.withColumn("deg", F.count(F.lit(1)).over(deg_w))
        .filter(F.col("deg") <= _CF_MAX_DEGREE)
        .drop("deg")
    )
    b = capped.withColumnsRenamed({"user_id": "user_id_b", "item_id": "j"})
    # two-level pair count (see _CF_SHARDS): per-user-shard partials,
    # then one bounded merge of <= S rows per pair
    pairs = (
        capped.join(
            b,
            (F.col("user_id") == F.col("user_id_b"))
            & (F.col("item_id") < F.col("j")),
        )
        .groupBy(
            F.pmod(F.xxhash64("user_id"), F.lit(_CF_SHARDS)).alias("shard"),
            F.col("item_id").alias("i"),
            "j",
        )
        .agg(F.count(F.lit(1)).alias("sc"))
        .groupBy("i", "j")
        .agg(F.sum("sc").cast("bigint").alias("c"))
    )
    sym = pairs.unionByName(
        pairs.select(
            F.col("j").alias("i"), F.col("i").alias("j"), F.col("c")
        )
    )
    ni = norms.withColumnsRenamed({"item_id": "ni_item", "n_users": "n_i"})
    nj = norms.withColumnsRenamed({"item_id": "nj_item", "n_users": "n_j"})
    scored = (
        sym.join(ni, F.col("i") == F.col("ni_item"))
        .join(nj, F.col("j") == F.col("nj_item"))
        .select(
            "i",
            "j",
            F.round(
                F.col("c").cast("double")
                / F.sqrt(F.col("n_i").cast("double") * F.col("n_j")),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("i").orderBy(F.desc("cosine"), F.asc("j"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _CF_TOPK)
        .select(
            F.col("i").alias("item_id"),
            F.col("j").alias("neighbor_id"),
            "cosine",
            F.col("rn").cast("bigint").alias("rank"),
        )
    )


# ---------------------------------------------------------------- r12


@register(
    "q_curriculum_interleave",
    oracle="""
    WITH ranked AS (
      SELECT doc_id, source, n_chars,
        CAST(row_number() OVER (PARTITION BY source
          ORDER BY n_chars NULLS LAST, doc_id) AS BIGINT) AS rnk
      FROM documents
    )
    SELECT
      CAST(row_number() OVER (ORDER BY rnk, source NULLS LAST, doc_id) - 1
        AS BIGINT) AS global_pos,
      doc_id, source, rnk
    FROM ranked
    """,
)
def q_curriculum_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CURRICULUM training order with source interleaving (public
    curriculum-learning design, Bengio et al. '09 shape): rank each
    source's documents by difficulty (length proxy n_chars, id
    tie-break), then emit the global epoch order that round-robins
    sources at equal difficulty rank — easy examples first WITHOUT any
    source monopolizing a training window, the deterministic epoch
    schedule a trainer replays bit-identically.

    Scale: the per-source rank is one shuffle keyed by source; the
    global position uses assign_dense_ids (range-partitioned parallel
    prefix sum — functions/ids.py) over (rnk, source, doc_id), NEVER a
    single-task row_number over everything; the oracle's global
    row_number is the semantic twin of that parallel plan (minus 1:
    assign_dense_ids is 0-based)."""
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.functions.ids import (
        assign_dense_ids,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    # explicit NULLS LAST on both sides: Spark ASC defaults NULLS
    # FIRST, DuckDB NULLS LAST (the round-6 window-ordering gotcha)
    w = Window.partitionBy("source").orderBy(
        F.asc_nulls_last("n_chars"), "doc_id"
    )
    ranked = docs.withColumn(
        "rnk", F.row_number().over(w).cast("bigint")
    )
    return assign_dense_ids(
        ranked,
        ["rnk", F.asc_nulls_last("source"), "doc_id"],
        id_col="global_pos",
    ).select(
        F.col("global_pos").cast("bigint").alias("global_pos"),
        "doc_id",
        "source",
        "rnk",
    )


# Power-of-two padding buckets a dynamic-batching loader uses; the
# fixed ladder keeps the CASE chain integer-exact in both engines.
_LB_LADDER = [16, 32, 64, 128, 256, 512, 1024, 4096]


@register(
    "q_length_buckets",
    oracle=f"""
    WITH t AS (
      SELECT CAST(length({sql_toks_expr()}) AS BIGINT) AS n_tok
      FROM documents
    ),
    b AS (
      SELECT n_tok,
        CASE {' '.join(f'WHEN n_tok <= {c} THEN {c}' for c in _LB_LADDER)}
        END AS bucket
      FROM t WHERE n_tok >= 1 AND n_tok <= {_LB_LADDER[-1]}
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
      CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(SUM(n_tok) AS BIGINT) AS sum_tok,
      CAST(COUNT(*) * bucket - SUM(n_tok) AS BIGINT) AS pad_waste,
      round(1.0 - CAST(SUM(n_tok) AS DOUBLE) / (COUNT(*) * bucket), 6)
        AS waste_ratio
    FROM b GROUP BY bucket
    """,
)
def q_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LENGTH-BUCKETED batching audit (dynamic-padding design every
    sequence trainer uses, public): assign each document to the
    smallest power-of-two token bucket on a fixed ladder and report
    per-bucket document count, token mass, and the padding waste a
    pad-to-bucket batcher would burn — the number that decides the
    ladder before a single batch is built.  Documents beyond the
    ladder (or empty) are excluded identically in both engines.

    Exactness: the bucket is an integer CASE chain (no log2 float);
    waste is pure integer arithmetic with one 6dp-rounded ratio.
    Scale: a flat per-row projection plus one hash aggregate on a
    bounded key domain (the 8-rung ladder) — map-side partials reduce
    everything before the shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    n_tok = F.size(X.tokens("text")).cast("bigint")
    t = docs.select(n_tok.alias("n_tok")).filter(
        (F.col("n_tok") >= 1) & (F.col("n_tok") <= _LB_LADDER[-1])
    )
    expr = None
    for c in _LB_LADDER:
        expr = (
            F.when(F.col("n_tok") <= c, F.lit(c))
            if expr is None
            else expr.when(F.col("n_tok") <= c, F.lit(c))
        )
    b = t.withColumn("bucket", expr.cast("bigint"))
    agg = b.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("sum_tok"),
    )
    return agg.select(
        "bucket",
        "n_docs",
        "sum_tok",
        (F.col("n_docs") * F.col("bucket") - F.col("sum_tok"))
        .cast("bigint")
        .alias("pad_waste"),
        F.round(
            F.lit(1.0)
            - F.col("sum_tok").cast("double")
            / (F.col("n_docs") * F.col("bucket")),
            6,
        ).alias("waste_ratio"),
    )
