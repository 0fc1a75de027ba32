"""Tier C similarity search over the ``embeddings`` table (SURVEY.md
§2.3 C3; REPOSE/top-k papers in repo:PAPERS.md are the scale pattern).

Two paths:
- brute-force cosine top-k (the correctness baseline): queries ×
  candidates join → window top-k.  Fine when Q is small; O(N·Q) scans.
- LSH-bucketed ANN (the 100 TB path): random-hyperplane signatures give
  each vector a bucket key; candidate set = same bucket (+ the query's
  neighbor buckets would be the recall knob).  The expensive cosine runs
  on a tiny fraction of pairs, and the join is an equi-join Catalyst can
  shuffle-partition or broadcast.
"""

from __future__ import annotations

import random

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cdc_from_sql_and_nosql_to_data_warehouse_spark.functions import vectors as V
from cdc_from_sql_and_nosql_to_data_warehouse_spark.functions.parallelism import spread
from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators import register
from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.dedup import _sql_cosine
from cdc_from_sql_and_nosql_to_data_warehouse_spark.sources.readers import load_table


@register(
    "q_sim_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
        {_sql_cosine('q.embedding', 'c.embedding')} AS cosine
      FROM q JOIN embeddings c ON c.vec_id <> q.vec_id
    )
    SELECT query_id, cand_id, cosine, CAST(rn AS INTEGER) AS rank
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS rn
      FROM scored
    ) WHERE rn <= 10
    """,
)
def q_sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3 brute-force cosine top-k (k=10) for query vectors vec_id<5.
    The query side is broadcast (tiny), so the scan over candidates is
    embarrassingly parallel — no shuffle until the per-query top-k."""
    emb = load_table(spark, sf_dir, "embeddings")
    # norms are precomputed per SIDE (once per vector), not per pair —
    # cosine() inline would re-run both norm folds for every (q, c)
    # pair, and higher-order folds evaluate interpreted.  Same float
    # ops in the same order, so results are bit-identical.
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
        (V.dot("q_emb", "c_emb") / (F.col("q_norm") * F.col("c_norm"))).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("query_id", "cand_id", "cosine", "rank")
    )


# LSH geometry: L hash tables of b hyperplane bits each, query-side
# multi-probe at Hamming distance <= 1.  For a neighbor at angle θ the
# per-bit agreement is p = 1 - θ/π, a table hits within one probe with
# p^b + b·p^(b-1)(1-p), and L independent tables turn that into
# 1-(1-hit)^L — the two recall knobs (L, probe radius) and the cost
# knob (b = bucket selectivity) called out in SCALE.md.
# Measured frontier (tools/lsh_frontier.py, last present at commit
# 73d0218; recall@5 sf0.001/sf0.01):
#   L=8 → 0.68/0.64   L=12 → 0.76/0.80   L=16 → 0.80/0.88   L=20 → 0.80/0.92
# on this corpus (true neighbors at cosine ~0.32 ⇒ ~60% per-bit
# agreement — an adversarially flat geometry), so recall is bought
# almost linearly with candidate volume L·(1+b)/2^b.  L=16 is the knee
# that clears a 0.8 floor at BOTH scale factors (pinned in
# tests/test_sim_recall.py); the full frontier is recorded in SCALE.md.
_L_TABLES = 16
_N_BITS = 8


def _table_planes(
    dim: int = 64,
    n_tables: int | None = None,
    n_bits: int | None = None,
    seed: int = 42,
) -> list[list[list[float]]]:
    # knobs resolve at CALL time (not def time) so a tuning sweep can
    # patch the module constants (as tools/lsh_frontier.py did; it was
    # removed after commit 73d0218)
    n_tables = _L_TABLES if n_tables is None else n_tables
    n_bits = _N_BITS if n_bits is None else n_bits
    rng = random.Random(seed)
    return [
        [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_bits)]
        for _ in range(n_tables)
    ]


def _signature_rows(emb: DataFrame) -> DataFrame:
    """(vec_id, table, sig) hyperplane signatures for every vector.

    All _L_TABLES×_N_BITS projection bits (128 at the shipped L=16, b=8
    — the constants above are authoritative) come from ONE Arrow-batched
    numpy matmul per record batch ((n, dim) @ (dim, L·b), then an 8-bit
    pack per table) — the expression form
    (functions.vectors.hyperplane_signature per bit) runs L·b interpreted
    zip_with+aggregate folds per row outside whole-stage codegen and
    measured 6.6 s of the LSH query's 6.6 s at sf0.1; the matmul kernel
    is memory-bandwidth-bound and map-only (no shuffle, planes are
    closure constants).  A NULL embedding signs to bucket 0 in both
    forms.  Sign ties at |dot| ≈ last-ulp may differ from the
    sequential fold (pairwise vs left-to-right summation); recall is
    floor-pinned, not bit-pinned (tests/test_sim_recall.py)."""
    planes = np.asarray(_table_planes(), dtype=np.float64)  # (L, B, dim)
    proj = planes.reshape(_L_TABLES * _N_BITS, planes.shape[-1]).T  # (dim, L*B)
    weights = 1 << np.arange(_N_BITS, dtype=np.int64)
    dim = proj.shape[0]

    @F.pandas_udf("array<long>")
    def all_sigs(col: pd.Series) -> pd.Series:
        if len(col) == 0:
            return pd.Series([], dtype=object)
        mat = np.stack(
            [
                # NULL or ragged (wrong-length/empty) vectors sign to
                # bucket 0, like the expression form they replaced
                # (whose NULL-padded fold yielded a NULL dot → bit 0);
                # np.stack on a ragged batch would otherwise kill the
                # whole query (review-caught)
                np.zeros(dim)
                if v is None or len(v) != dim
                else np.asarray(v, dtype=np.float64)
                for v in col
            ]
        )
        bits = (mat @ proj) > 0
        sigs = bits.reshape(len(col), _L_TABLES, _N_BITS).astype(np.int64) @ weights
        return pd.Series(list(sigs))

    return emb.select(
        "vec_id", F.posexplode(all_sigs(F.col("embedding"))).alias("table", "sig")
    )


@register("q_sim_topk_lsh")  # ANN: bucket recall != exact — rows-only
def q_sim_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3 ANN: multi-table multi-probe hyperplane LSH — _L_TABLES
    tables (16 as shipped; the measured L-frontier is above the
    constants) x _N_BITS=8 bits, query probes its own bucket plus the 8
    Hamming-1 neighbors in every table, exact cosine only on
    candidates, per-query top-5.  Measured recall@5 vs the exact
    q_sim_topk is pinned by tests/test_sim_recall.py (single-table
    single-probe scored ~0 on this corpus — its neighbors sit at
    cosine ~0.3, where one 8-bit bucket almost never agrees on all
    bits).  (The knob values here previously disagreed with the
    constants — corrected on review; the constants are authoritative.)

    The 100 TB shape: candidates carry only (table, sig, id) into the
    equi-join — a few bytes/row, never the embedding; embeddings are
    re-attached per distinct candidate pair.  Probe fan-out lives on
    the (tiny, broadcast) query side.  Candidate volume per query is
    L·(1+b) buckets ≈ L·(1+b)/2^b of the corpus — the cost knob:
    raising b sharpens buckets, raising L or the probe radius buys
    recall with more candidates."""
    emb = load_table(spark, sf_dir, "embeddings")
    sigs = _signature_rows(emb)
    cand = sigs.select(F.col("vec_id").alias("cand_id"), "table", "sig")
    probes = (
        sigs.filter(F.col("vec_id") < 50)
        .select(
            F.col("vec_id").alias("query_id"),
            "table",
            F.explode(
                F.array(
                    F.col("sig"),
                    *[F.col("sig").bitwiseXOR(F.lit(1 << j)) for j in range(_N_BITS)],
                )
            ).alias("sig"),
        )
    )
    pairs = (
        cand.join(F.broadcast(probes), ["table", "sig"])
        .filter(F.col("cand_id") != F.col("query_id"))
        .select("query_id", "cand_id")
        .dropDuplicates(["query_id", "cand_id"])
    )
    c_side = emb.select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").alias("c_emb"),
        V.norm2("embedding").alias("c_norm"),
    )
    q_side = emb.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        V.norm2("embedding").alias("q_norm"),
    )
    scored = (
        pairs.join(c_side, "cand_id")
        .join(F.broadcast(q_side), "query_id")
        .select(
            "query_id",
            "cand_id",
            (V.dot("q_emb", "c_emb") / (F.col("q_norm") * F.col("c_norm"))).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "cand_id", "cosine", "rank")
    )


@register(
    "q_sim_range",
    oracle=f"""
    WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id = 0)
    SELECT c.vec_id AS cand_id, c.label,
      {_sql_cosine('q.embedding', 'c.embedding')} AS cosine
    FROM q JOIN embeddings c ON c.vec_id <> q.vec_id
    WHERE {_sql_cosine('q.embedding', 'c.embedding')} >= 0.25
    """,
)
def q_sim_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3 range (radius) similarity search: all candidates with cosine
    >= 0.25 of one query vector."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q_emb"))
    c = emb.filter(F.col("vec_id") != 0).select(
        F.col("vec_id").alias("cand_id"), "label", F.col("embedding").alias("c_emb")
    )
    return (
        c.crossJoin(F.broadcast(q))
        .select("cand_id", "label", V.cosine("q_emb", "c_emb").alias("cosine"))
        .filter(F.col("cosine") >= 0.25)
    )


# IVF knobs: k cells, nprobe probed cells per query.  k=12/nprobe=4
# round-7 retune (VERDICT r6 "close the IVF recall gap"): the
# (k, nprobe) sweep measured at both SFs —
#   k=12/nprobe=4 (old): 0.72 / 0.64   frac 1/3
#   k=12/nprobe=6:       1.00 / 0.76   frac 1/2
#   k=24/nprobe=6:       0.88 / 0.92   frac 1/4
#   k=24/nprobe=8:       0.96 / 0.92   frac 1/3  ← default
#   k=32/nprobe=8:       0.68 / 0.76   frac 1/4 (cells too fine for
#                                      this flat corpus)
# Finer cells + more probes beat coarse cells at the SAME probed
# fraction: k=24/nprobe=8 reaches 0.96/0.92 where k=12/nprobe=4 got
# 0.72/0.64.  Floor raised to 0.8 (tests/test_sim_recall.py).  This
# corpus's neighbors sit at cosine ~0.32, so ANY coarse quantizer must
# probe a sizable corpus fraction; a clustered real corpus sharpens
# recall at fixed fraction.
_IVF_K = 24
_IVF_NPROBE = 8
_IVF_TRAIN_CAP = 100_000  # train on a bounded sample, never the corpus


def _ivf_centroids(emb: DataFrame) -> DataFrame:
    """Train IVF coarse centroids with k-means|| on L2-normalized
    vectors (spherical k-means: on unit vectors Euclidean k-means
    minimizes 2-2·cos, so Euclidean training ≈ cosine objective).
    Training reads a bounded sample (≤ _IVF_TRAIN_CAP rows) — at 100 TB
    the fit never scans the corpus; only assignment does, broadcast.

    Round-7 finding (measured, kept for the record): a driver-side
    numpy Lloyd twin (kmeans++ init, 12 iterations, 8 restarts picking
    the best spherical objective) converges to a BETTER clustering
    objective but WORSE recall — 0.68/0.72 vs k-means||'s 0.96/0.92 at
    identical k=24/nprobe=8 — because well-converged tight Voronoi
    cells slice query neighborhoods apart, while the partially-
    converged k-means|| fit (maxIter=8) leaves overlapping cells that
    keep true neighbors within the probe set.  Recall is NOT the
    training objective; the MLlib fit stays.  Its ~3.5 s cost is pure
    job-orchestration latency (one Spark job per init step + Lloyd
    iteration), CONSTANT in corpus size because the sample is capped —
    a fit-once/search-many deployment amortizes it away entirely.
    coalesce(1) keeps each of those jobs single-task."""
    return _ivf_centroids_mllib(emb)


def _ivf_centroids_mllib(emb: DataFrame) -> DataFrame:
    """The pyspark.ml k-means|| fit (see _ivf_centroids docstring for
    why this beats a fully-converged driver-side Lloyd on recall)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    spark = emb.sparkSession
    unit = emb.select("embedding", V.norm2("embedding").alias("nrm")).select(
        F.transform("embedding", lambda x: x.cast("double") / F.col("nrm")).alias("unit")
    )
    n = unit.count()
    if n == 0:
        return spark.createDataFrame([], "cell int, centroid array<double>")
    if n > _IVF_TRAIN_CAP:
        unit = unit.sample(False, _IVF_TRAIN_CAP / n, seed=7)
    train = unit.select(array_to_vector(F.col("unit")).alias("features")).coalesce(1)
    # bounded fit work: each k-means|| init step and each Lloyd
    # iteration is a Spark job, and on a coarse 12-cell quantizer the
    # defaults (2 init steps ARE enough; 20 iterations) buy nothing —
    # measured at sf0.1: 5.7 s default vs 1.0 s at maxIter=8/
    # initSteps=2 with IDENTICAL training cost (1869.9), recall floors
    # unchanged.  A coarse quantizer needs rough Voronoi cells, not a
    # converged clustering.
    model = KMeans(
        k=min(_IVF_K, n), seed=7, initMode="k-means||", maxIter=8, initSteps=2
    ).fit(train)
    return spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        "cell int, centroid array<double>",
    )


@register("q_sim_ivf")  # centroid assignment is float-order sensitive — rows-only
def q_sim_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3 IVF ANN: coarse quantization by nearest trained k-means
    centroid, then exact cosine only within the query's probed cells.
    The 100 TB shape: the centroid table (k×dim floats) is broadcast,
    assignment happens in the scan, search is an equi-join on cell id.
    Recall floor pinned by tests/test_sim_recall.py at both SFs."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = _ivf_centroids(emb).withColumn(
        "half_c2", F.lit(0.5) * V.dot("centroid", "centroid")
    )
    # rank every vector's cells by the KMeans assignment rule: for unit
    # u, argmin ||u-c||² = argmax (u·c - ||c||²/2) — matches training.
    # per-side invariants (row norm, ||c||²/2) are materialized BEFORE
    # the n×k join so neither fold re-runs per pair.
    ranked = (
        # spread before the n×k fan-out: the per-pair dot folds are the
        # heavy map work and must not inherit the scan's file-layout-
        # bounded parallelism (r12, functions/parallelism.py)
        spread(emb)
        .withColumn("nrm", V.norm2("embedding"))
        .crossJoin(F.broadcast(cents))
        .withColumn(
            "dist", F.col("half_c2") - V.dot("embedding", "centroid") / F.col("nrm")
        )
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("vec_id").orderBy(F.col("dist").asc(), F.col("cell").asc())
            ),
        )
        # both consumers below need only rn ≤ nprobe; one filtered
        # checkpoint stops the n×k scoring join from re-executing per
        # consumer (r12 — no cross-branch CSE)
        .filter(F.col("rn") <= _IVF_NPROBE)
        # A/B: sf0.1 q_sim_ivf 6.32 s with it vs 7.04 s without (IQR 0.66, 4/5 pairs)
        .localCheckpoint(eager=False)
    )
    # candidates live in exactly their nearest cell; queries PROBE the
    # _IVF_NPROBE nearest cells (the recall knob — candidate volume
    # scales linearly with it, recall saturates as probes cover the
    # neighbor's true cell)
    assigned = ranked.filter(F.col("rn") == 1).select("vec_id", "embedding", "cell")
    q = (
        ranked.filter(F.col("vec_id") < 20)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb"), "cell")
    )
    c = assigned.select(F.col("vec_id").alias("cand_id"), F.col("embedding").alias("c_emb"), "cell")
    scored = (
        c.join(F.broadcast(q), "cell")
        .filter(F.col("cand_id") != F.col("query_id"))
        .select("query_id", "cand_id", V.cosine("q_emb", "c_emb").alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "cand_id", "cosine", "rank")
    )


@register(
    "q_sim_topk_arrow",
    oracle=f"""
    WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
        {_sql_cosine('q.embedding', 'c.embedding')} AS cosine
      FROM q JOIN embeddings c ON c.vec_id <> q.vec_id
    )
    SELECT query_id, cand_id, round(cosine, 6) AS cosine,
      CAST(rn AS INTEGER) AS rank
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS rn
      FROM scored
    ) WHERE rn <= 10
    """,
)
def q_sim_topk_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3 brute-force cosine top-k, Arrow/numpy scale path: the
    candidate matrix is multiplied against the (tiny, driver-collected)
    query matrix ONE PARTITION AT A TIME inside mapInPandas —
    C(batch×dim) @ Q.T(dim×q) is a BLAS call, ~100× the per-element
    throughput of any expression tree.  Each partition emits only its
    local top-k per query (top-k is decomposable), and a final window
    pass merges the partials — the shuffle carries k·partitions rows,
    never the full score matrix.  Results equal q_sim_topk up to float
    summation order (numpy pairwise vs the oracle's left fold, ~1e-15
    relative), so the emitted cosine is rounded to 6dp on both sides
    — ranking happens at full precision in each engine and this
    corpus's adjacent-rank gaps (~1e-3) dwarf the summation noise.
    """
    import numpy as np

    k = 10
    emb = load_table(spark, sf_dir, "embeddings")
    qrows = emb.filter(F.col("vec_id") < 5).collect()  # bounded query set
    if not qrows:  # empty query set: 0-row result, schema intact
        return spark.createDataFrame(
            [], "query_id long, cand_id long, cosine double, rank int"
        )
    qids = np.array([r["vec_id"] for r in qrows], dtype=np.int64)
    qmat = np.array([r["embedding"] for r in qrows], dtype=np.float64)
    qnorm = np.linalg.norm(qmat, axis=1)

    def topk_batches(it):
        import pandas as pd

        for pdf in it:
            if not len(pdf):
                continue
            cids = pdf["vec_id"].to_numpy(dtype=np.int64)
            cmat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            cnorm = np.linalg.norm(cmat, axis=1)
            sims = (cmat @ qmat.T) / (cnorm[:, None] * qnorm[None, :])
            out_q, out_c, out_s = [], [], []
            for j, qid in enumerate(qids):
                col = sims[:, j].copy()
                col[cids == qid] = -np.inf  # mask self-match
                # (cosine DESC, cand_id ASC) — the local truncation must
                # use the SAME total order as the final window, or a
                # partition holding ≥k equal-cosine candidates could
                # drop the one the oracle keeps (review-caught)
                top = np.lexsort((cids, -col))[:k]
                top = top[np.isfinite(col[top])]
                out_q.extend([qid] * len(top))
                out_c.extend(cids[top])
                out_s.extend(col[top])
            yield pd.DataFrame({"query_id": out_q, "cand_id": out_c, "cosine": out_s})

    partials = emb.select("vec_id", "embedding").mapInPandas(
        topk_batches, schema="query_id long, cand_id long, cosine double"
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("cand_id"))
    return (
        partials.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", F.round("cosine", 6).alias("cosine"), "rank")
    )


from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.dedup import _SQL_DOT_FOLD  # noqa: E402


@register(
    "q_embedding_normalize",
    oracle=f"""
    WITH n AS (
      SELECT vec_id, embedding,
        sqrt({_SQL_DOT_FOLD.format(a='embedding', b='embedding')}) AS norm
      FROM embeddings
    )
    SELECT vec_id, norm, CAST(i - 1 AS INTEGER) AS pos,
      CAST(embedding[i] AS DOUBLE) / norm AS u
    FROM n CROSS JOIN (
      SELECT unnest(generate_series(
        1, (SELECT MAX(length(embedding)) FROM embeddings))) AS i
    ) t
    WHERE i <= length(embedding)
    """,
)
def q_embedding_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3 embedding L2-normalization — the standard pre-pass that turns
    cosine into a plain dot product downstream.  The norm is computed
    ONCE into a materialized column and the per-element division
    references that column: a norm expression inside the transform
    lambda would be re-evaluated per element (the measured
    higher-order-function trap, SCALE.md).

    Result shape is EXPLODED to (vec_id, norm, pos, u) scalar rows —
    the verification harness canonicalizes with a pandas sort over all
    columns, which cannot hash array cells (the round-3 driver ERR);
    downstream consumers re-assemble with ``collect_list`` or keep the
    in-plan array from ``V.norm2``-based composition."""
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.select("vec_id", "embedding", V.norm2("embedding").alias("norm"))
    unit = F.transform(F.col("embedding"), lambda x: x.cast("double") / F.col("norm"))
    return n.select("vec_id", "norm", F.posexplode(unit).alias("pos", "u"))


@register(
    "q_embedding_centroids",
    oracle="""
    SELECT label, CAST(i - 1 AS INTEGER) AS pos,
      list_reduce(
        list_prepend(CAST(0 AS DOUBLE),
          list_sort(list(CAST(embedding[i] AS DOUBLE)))),
        (a, b) -> a + b) / COUNT(*) AS c
    FROM embeddings
    CROSS JOIN (
      SELECT unnest(generate_series(
        1, (SELECT MAX(length(embedding)) FROM embeddings))) AS i
    ) t
    GROUP BY label, i - 1
    """,
)
def q_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3 per-label centroid (the k-means update step / IVF cell
    build): posexplode the vectors and aggregate per (label, dim).

    Determinism: the per-group sum is a left fold over the SORTED
    values, so the result is independent of partitioning and identical
    across engines.  (float→DECIMAL casts round differently between
    engines — measured — so the usual decimal-exact-sum trick doesn't
    survive a float column; the sorted fold does.)  The collect is
    bounded by vectors-per-label; at 10^10 vectors per label the
    deterministic-replay requirement is dropped and this becomes a
    plain partial-aggregated double sum — the engine keeps both forms
    one line apart."""
    emb = load_table(spark, sf_dir, "embeddings")
    # the oracle derives its dimension bound from max(length(embedding))
    # and NULL-poisons on ragged arrays while posexplode silently
    # averages over present positions — fail loudly instead of
    # diverging if a fixture ever ships mixed dimensions (ADVICE r2 +
    # review)
    n_dims = emb.select(F.size("embedding").alias("d")).distinct().count()
    if n_dims > 1:  # 0 = empty table: nothing to diverge on
        raise ValueError(
            f"q_embedding_centroids requires a uniform embedding dimension; "
            f"found {n_dims} distinct lengths"
        )
    return (
        emb.select("label", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("label", "pos")
        .agg(
            (
                F.aggregate(
                    F.array_sort(F.collect_list(F.col("v").cast("double"))),
                    F.lit(0.0),
                    lambda a, x: a + x,
                )
                / F.count(F.lit(1))
            ).alias("c")
        )
    )


@register(
    "q_knn_classify",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding AS qe, label AS true_label
      FROM embeddings WHERE vec_id < 10
    ),
    c AS (
      SELECT vec_id AS cand_id, embedding AS ce, label AS cand_label
      FROM embeddings WHERE vec_id >= 10
    ),
    scored AS (
      SELECT query_id, true_label, cand_id, cand_label,
        {_sql_cosine('qe', 'ce')} AS cosine
      FROM q CROSS JOIN c
    ),
    top AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS rn
        FROM scored
      ) WHERE rn <= 5
    ),
    votes AS (
      SELECT query_id, true_label, cand_label, COUNT(*) AS votes
      FROM top GROUP BY query_id, true_label, cand_label
    )
    SELECT query_id, true_label, cand_label AS pred_label, votes
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY votes DESC, cand_label) AS rn2
      FROM votes
    ) WHERE rn2 = 1
    """,
)
def q_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3 k-NN classification (k=5, cosine): label the held-out query
    vectors (vec_id < 10) by majority vote over their 5 nearest
    neighbors in the rest of the corpus — the label-transfer /
    auto-labeling pass of a training-data pipeline (weak supervision
    from an embedded seed set).

    Plan: identical scan shape to q_sim_topk — the bounded query side
    is broadcast, the corpus scan is embarrassingly parallel, and the
    only shuffles are the per-query top-k window and the vote
    aggregate, both keyed on query_id (cardinality = |queries|, never
    |corpus|).  At 100 TB the brute-force score stage swaps for the
    LSH/IVF candidate join (q_sim_topk_lsh / q_sim_ivf) with the vote
    unchanged.  Ties are deterministic end-to-end: neighbor rank
    breaks on cand_id, the vote breaks on the smaller label."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("true_label"),
        F.col("embedding").alias("q_emb"),
        V.norm2("embedding").alias("q_norm"),
    )
    c = emb.filter(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("cand_id"),
        F.col("label").alias("cand_label"),
        F.col("embedding").alias("c_emb"),
        V.norm2("embedding").alias("c_norm"),
    )
    scored = c.join(F.broadcast(q)).select(
        "query_id",
        "true_label",
        "cand_id",
        "cand_label",
        (V.dot("q_emb", "c_emb") / (F.col("q_norm") * F.col("c_norm"))).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("cand_id"))
    top = scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 5)
    votes = top.groupBy("query_id", "true_label", "cand_label").agg(
        F.count(F.lit(1)).alias("votes")
    )
    w2 = Window.partitionBy("query_id").orderBy(F.col("votes").desc(), F.col("cand_label"))
    return (
        votes.withColumn("rn2", F.row_number().over(w2))
        .filter(F.col("rn2") == 1)
        .select("query_id", "true_label", F.col("cand_label").alias("pred_label"), "votes")
    )


# ------------------------------------------------------ triplet mining


@register(
    "q_triplet_mining",
    oracle=f"""
    WITH anchors AS (
      SELECT vec_id, embedding, label FROM embeddings
      WHERE vec_id < 5 AND embedding IS NOT NULL AND label IS NOT NULL
    ),
    cands AS (
      SELECT vec_id, embedding, label FROM embeddings
      WHERE embedding IS NOT NULL AND label IS NOT NULL
    ),
    scored AS (
      SELECT a.vec_id AS anchor_id, a.label AS anchor_label,
        c.vec_id AS cand_id, c.label = a.label AS is_pos,
        {_sql_cosine('a.embedding', 'c.embedding')} AS cosine
      FROM anchors a JOIN cands c ON c.vec_id <> a.vec_id
    ),
    best AS (
      SELECT *, row_number() OVER (
        PARTITION BY anchor_id, is_pos ORDER BY cosine DESC, cand_id) AS rn
      FROM scored
    )
    SELECT p.anchor_id, p.anchor_label,
      p.cand_id AS pos_id, p.cosine AS pos_cos,
      n.cand_id AS neg_id, n.cosine AS neg_cos,
      round(p.cosine - n.cosine, 6) AS margin
    FROM (SELECT * FROM best WHERE is_pos AND rn = 1) p
    JOIN (SELECT * FROM best WHERE NOT is_pos AND rn = 1) n
      ON n.anchor_id = p.anchor_id
    """,
)
def q_triplet_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HARD-TRIPLET MINING for contrastive training (the FaceNet
    anchor/positive/negative recipe, Schroff et al. 2015 — public):
    for each anchor vector, the hardest positive (same label, highest
    cosine, i.e. the most redundant same-class example) and the
    hardest negative (different label, highest cosine — the confuser
    that actually teaches the margin), plus the anchor's triplet
    margin.  This is the batch-mining pass a representation-learning
    pipeline runs over the corpus between epochs.

    Exactness: cosines follow the q_sim_topk policy — per-side norms
    precomputed once, same float ops in the same order in both
    engines, bit-identical doubles; ranking ties break on cand_id;
    the margin subtracts identical doubles with a 6dp guard.

    Scale: the anchor set is bounded (broadcast), so scoring is a
    map-only pass over candidates (no shuffle until the per-anchor
    top-1), and the per-(anchor, polarity) argmax is a 10-partition
    window over broadcast-joined rows.  For a data-scaled anchor set
    the same plan shards anchors into bounded batches (the
    q_sim_pq_search ADC route replaces brute force first)."""
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull() & F.col("label").isNotNull()
    )
    a = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("anchor_label"),
        F.col("embedding").alias("a_emb"),
        V.norm2("embedding").alias("a_norm"),
    )
    c = emb.select(
        F.col("vec_id").alias("cand_id"),
        F.col("label").alias("c_label"),
        F.col("embedding").alias("c_emb"),
        V.norm2("embedding").alias("c_norm"),
    )
    scored = c.join(
        F.broadcast(a), F.col("cand_id") != F.col("anchor_id")
    ).select(
        "anchor_id",
        "anchor_label",
        "cand_id",
        (F.col("c_label") == F.col("anchor_label")).alias("is_pos"),
        (V.dot("a_emb", "c_emb") / (F.col("a_norm") * F.col("c_norm"))).alias(
            "cosine"
        ),
    )
    w = Window.partitionBy("anchor_id", "is_pos").orderBy(
        F.desc("cosine"), F.asc("cand_id")
    )
    best = scored.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    )
    p = best.filter(F.col("is_pos")).select(
        "anchor_id",
        "anchor_label",
        F.col("cand_id").alias("pos_id"),
        F.col("cosine").alias("pos_cos"),
    )
    n = best.filter(~F.col("is_pos")).select(
        F.col("anchor_id").alias("n_anchor"),
        F.col("cand_id").alias("neg_id"),
        F.col("cosine").alias("neg_cos"),
    )
    return (
        p.join(n, p["anchor_id"] == n["n_anchor"])
        .select(
            "anchor_id",
            "anchor_label",
            "pos_id",
            "pos_cos",
            "neg_id",
            "neg_cos",
            F.round(F.col("pos_cos") - F.col("neg_cos"), 6).alias("margin"),
        )
    )
