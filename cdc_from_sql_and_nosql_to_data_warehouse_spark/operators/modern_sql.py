"""Spark 4 SQL-surface operators: VARIANT semi-structured access and
recursive CTE traversal (SURVEY.md §1.2 SUPER mapping, §2.2 B26′).

The reference lands DynamoDB documents into a Redshift SUPER column and
queries it with PartiQL path expressions (SURVEY.md §1.2; reference:
source/load_data_to_dynamodb_lambda/handler.py stores the raw JSON
document).  Spark 4's VARIANT type is the engine-native equivalent:
``parse_json`` once at ingest, then ``variant_get`` path extraction that
avoids re-tokenizing the JSON text per field — at 100 TB the difference
between N × get_json_object (N full parses per row) and one parse plus
N binary path reads.

Recursive CTEs (Spark 4.1, SPARK-24497) close the last classic SQL
surface gap: graph/hierarchy traversal declared in SQL, executed as an
iterative UnionLoop whose per-iteration input is the frontier, not the
whole relation.  We bound the recursion by hop count — the same
guardrail any production traversal needs, since an unbounded recursion
over a cyclic graph never terminates in any engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators import register
from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.tpch_shapes import (
    _SQL_VOLUME,
    _volume,
)
from cdc_from_sql_and_nosql_to_data_warehouse_spark.sources.readers import load_table


@register(
    "q_variant_shred",
    oracle="""
    SELECT event_type,
      COUNT(*) AS n_events,
      CAST(SUM(CAST(json_extract(props, '$.k') AS INTEGER)) AS BIGINT) AS k_sum,
      CAST(CAST(SUM(CAST(json_extract(props, '$.k') AS INTEGER)) AS BIGINT) AS DOUBLE)
        / COUNT(CAST(json_extract(props, '$.k') AS INTEGER)) AS k_avg,
      COUNT(*) FILTER (WHERE json_extract(props, '$.k') IS NULL) AS k_missing
    FROM events
    GROUP BY event_type
    """,
)
def q_variant_shred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SUPER-style semi-structured access on the VARIANT type: parse the
    JSON props column ONCE into a variant, then shred typed paths out of
    the binary form.  Compare B26 ``q_json_get`` (get_json_object — one
    text parse per extraction): with VARIANT the parse cost is paid once
    per row regardless of how many paths downstream expressions read.

    Aggregation policy: integer sums stay in BIGINT (exact in both
    engines); the average is the exact sum divided by the non-null
    count — one double division of identical operands, bit-stable
    cross-engine (functions/exact.py policy).
    """
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "event_type", F.parse_json(F.col("props")).alias("p")
    ).select(
        "event_type",
        F.expr("variant_get(p, '$.k', 'int')").alias("k"),
    )
    return v.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("k").alias("k_sum"),
        (F.sum("k").cast("double") / F.count("k")).alias("k_avg"),
        F.count(F.when(F.col("k").isNull(), 1)).alias("k_missing"),
    )


_REACH_SRC = 0  # start nation for the traversal
_REACH_HOPS = 3
_EDGE_MIN_REVENUE = 400000.0

# The recursive step is the SAME SQL text in Spark and DuckDB; only the
# edge-relation name differs (temp view vs inline CTE).
_RECURSIVE_BODY = f"""reach(dst, hops) AS (
  SELECT CAST({_REACH_SRC} AS BIGINT) AS dst, 0 AS hops
  UNION ALL
  SELECT e.dst, r.hops + 1
  FROM reach r JOIN {{edges}} e ON e.src = r.dst
  WHERE r.hops < {_REACH_HOPS}
)
SELECT dst AS nationkey, MIN(hops) AS min_hops
FROM reach GROUP BY dst"""


@register(
    "q_reachability",
    oracle=f"""
    WITH RECURSIVE strong_edges AS (
      SELECT s_nationkey AS src, c_nationkey AS dst
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN supplier ON l_suppkey = s_suppkey
      GROUP BY s_nationkey, c_nationkey
      HAVING CAST(SUM({_SQL_VOLUME}) AS DOUBLE) > {_EDGE_MIN_REVENUE}
    ),
    {_RECURSIVE_BODY.format(edges="strong_edges")}
    """,
)
def q_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS min-hop reachability over the nation-level trade graph via a
    recursive CTE: edges are nation pairs whose bilateral revenue
    exceeds a floor (exact DECIMAL sum), traversal starts at nation 0
    and is hop-bounded.

    100 TB shape (same argument as q_pagerank, operators/graph.py): the
    expensive part — reducing the fact table to edges — is ONE groupBy
    shuffle; the recursion then iterates on a relation bounded by
    |nation|² ≤ 625 rows, so each UnionLoop step is O(frontier·edges),
    independent of corpus size.  Recursing over a fact-scale relation
    would be the anti-pattern; aggregate first, iterate small.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    vol = _volume()
    edges = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .groupBy(
            F.col("s_nationkey").alias("src"), F.col("c_nationkey").alias("dst")
        )
        .agg(F.sum(vol).cast("double").alias("revenue"))
        .filter(F.col("revenue") > F.lit(_EDGE_MIN_REVENUE))
        .select("src", "dst")
    )
    # checkpoint BEFORE the recursion: the UnionLoop re-evaluates the
    # edge view once per iteration, re-running the 4-way fact join each
    # time (measured 4.0 s -> ~1 s at sf0.1); the checkpointed edge
    # table is <= 625 rows, so the materialization is free
    # A/B: sf0.1 q_reachability 2.34 s with it vs 6.28 s without (IQR 0.22, 5/5 pairs)
    edges.localCheckpoint(eager=False).createOrReplaceTempView(
        "trade_strong_edges"
    )
    return spark.sql(
        "WITH RECURSIVE " + _RECURSIVE_BODY.format(edges="trade_strong_edges")
    )


@register(
    "q_xml_roundtrip",
    oracle="""
    SELECT o_orderkey, o_orderpriority AS priority,
      CAST(o_totalprice AS DOUBLE) AS total
    FROM orders WHERE o_orderkey <= 1000
    """,
)
def q_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML wire-format breadth (A11 family): serialize each order to an
    XML document with ``to_xml``, parse it back with ``from_xml`` over
    an explicit schema, and extract typed fields.  The oracle reads the
    same fields straight off the table — equality proves the round-trip
    is lossless, the same proof shape as q_debezium_roundtrip for JSON.

    Both directions are JVM expressions inside one projection — no
    Python, no shuffle; the only exchange in the plan is none at all
    (map-only).  At 100 TB this is the decode path for XML feeds the
    reference would have had to custom-Lambda."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 1000)
    xml = o.select(
        F.to_xml(
            F.struct("o_orderkey", "o_orderpriority", "o_totalprice"),
            {"rootTag": "order"},
        ).alias("doc")
    )
    parsed = xml.select(
        F.from_xml(
            "doc",
            "o_orderkey BIGINT, o_orderpriority STRING, o_totalprice DOUBLE",
        ).alias("r")
    )
    return parsed.select(
        F.col("r.o_orderkey").alias("o_orderkey"),
        F.col("r.o_orderpriority").alias("priority"),
        F.col("r.o_totalprice").alias("total"),
    )


_AES_KEY = "0123456789abcdef"  # 16-byte demo key; prod: per-column key mgmt


@register(
    "q_aes_roundtrip",
    oracle="""
    SELECT c_custkey, c_name AS name_decrypted
    FROM customer WHERE c_custkey <= 500
    """,
)
def q_aes_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level encryption-at-rest (PII posture beyond
    q_pii_redact/q_pseudonymize, which destroy the value): AES-GCM
    encrypt the customer name, then decrypt and prove byte-fidelity
    against the raw table.  GCM's random IV makes the CIPHERTEXT
    nondeterministic (so the ciphertext itself is never part of an
    oracle-checked result), while decrypt(encrypt(x)) == x always.

    Both operations are JVM expressions (one projection, map-only);
    the key enters as a literal here but would come from a KMS-backed
    session conf in production — key distribution, not the plan shape,
    is the deployment concern."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 500)
    key = F.lit(_AES_KEY)
    return c.select(
        "c_custkey",
        F.aes_decrypt(
            F.aes_encrypt(F.col("c_name").cast("binary"), key), key
        )
        .cast("string")
        .alias("name_decrypted"),
    )
