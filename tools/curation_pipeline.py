"""End-to-end STAGED curation pipeline (VERDICT r9 next-5): the shape
a real 100 TB curation job takes — five materialized stages with
WRITE-AUDIT-PUBLISH gates between them, vs the same chain as ONE
declarative plan.

    documents (sf0.1)
      → 1 dedup        exact-duplicate survivor (min doc_id per
                        canonical fingerprint)
      → 2 decontaminate drop the eval slice (doc_id % 97 == 0) and any
                        training doc sharing a 5-gram with it
      → 3 quality       lang_id == 'en', quality ≥ 0.45,
                        30 ≤ tokens ≤ 20000 (q_corpus_curation's gates)
      → 4 dist-match    rejection-sample the crawl half (src0..9) so
                        its 100-char length-bin profile matches the
                        reference half (q_distribution_match's policy)
      → 5 pack          256-token sequence bins in doc_id order
                        (q_pack_sequences' layout)

Each stage materializes through sources.versioned.commit_version with
an ``audit=`` gate (the WAP pattern): a stage whose invariant fails
never becomes visible and the pipeline halts at the last good version.
Walls and rows-in/rows-out per stage are recorded to
curation_pipeline.json, and the staged output is cross-checked
row-for-row against the single-plan composite — materialization
boundaries must not change results, only operational properties
(restartability, auditability, per-stage retention).

Stage logic is shared between the staged and composite runs via the
stage_* functions, so the cross-check validates the MACHINERY
(versioned commits, parquet round-trips, audit gates), not two
hand-kept copies of the logic.

Reference parity: the reference pipeline stages CDC files through
S3 prefixes with processed-file markers between Lambda stages
(cdk_infrastructure/__init__.py); this is that staging pattern
re-expressed as versioned parquet tables with WAP audit gates.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, Window, functions as F

from cdc_from_sql_and_nosql_to_data_warehouse_spark.functions import text as X
from cdc_from_sql_and_nosql_to_data_warehouse_spark.functions.ids import (
    running_total,
)
from cdc_from_sql_and_nosql_to_data_warehouse_spark.functions.portable_hash import (
    md5_unit,
)
from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.dedup import (
    md5_shingle_rows,
)
from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.packing import (
    PACK_CAPACITY,
)
from cdc_from_sql_and_nosql_to_data_warehouse_spark.session import get_spark, size_shuffle
from cdc_from_sql_and_nosql_to_data_warehouse_spark.sources import versioned

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
PIPE_DIR = os.environ.get(
    "SPARK_GRAFT_PIPE_DIR", "/tmp/spark_graft_curation_pipeline"
)
_DM_BIN = 100  # q_distribution_match's length-bin width


# ------------------------------------------------------------- stages
def stage_dedup(docs: DataFrame) -> DataFrame:
    w = Window.partitionBy(X.fingerprint("text")).orderBy("doc_id")
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def stage_decontaminate(docs: DataFrame, corpus: DataFrame) -> DataFrame:
    """Eval grams come from the ORIGINAL corpus's eval slice (the
    held-out set exists before curation); the training side is the
    incoming survivors minus the eval docs themselves, minus any doc
    sharing a 5-gram."""
    ev = (
        md5_shingle_rows(corpus.filter(F.col("doc_id") % 97 == 0), 5)
        .select("h")
        .distinct()
    )
    train = docs.filter(F.col("doc_id") % 97 != 0)
    contaminated = (
        md5_shingle_rows(train, 5)
        .join(ev, "h")
        .select(F.col("id").alias("doc_id"))
        .distinct()
    )
    return train.join(contaminated, "doc_id", "left_anti")


QUALITY_MIN = 0.45
TOK_MIN, TOK_MAX = 30, 20000


def stage_quality(docs: DataFrame) -> DataFrame:
    return docs.select(
        "doc_id",
        "text",
        "n_chars",
        "source",
        X.token_count("text").alias("n_tok"),
        X.quality_score("text").alias("quality"),
        X.lang_id("text").alias("lang_pred"),
    ).filter(
        (F.col("lang_pred") == "en")
        & (F.col("quality") >= QUALITY_MIN)
        & F.col("n_tok").between(TOK_MIN, TOK_MAX)
    )


def _dm_tagged(docs: DataFrame) -> DataFrame:
    return docs.filter(F.col("n_chars").isNotNull()).withColumns(
        {
            "bin": (F.col("n_chars") / _DM_BIN).cast("bigint"),
            "is_crawl": F.substring("source", 4, 10).cast("int") < 10,
        }
    )


def dist_match_probs(docs: DataFrame) -> DataFrame:
    """Per-bin acceptance probabilities — the dist-match POLICY.  Split
    out (round 11) so the incremental pipeline can FREEZE the policy on
    the base corpus: a delta-sized batch must not silently re-decide
    previously-published docs (policy refresh is a scheduled rebuild,
    not an ingest side effect)."""
    d = _dm_tagged(docs)
    a = d.filter("is_crawl").groupBy("bin").agg(
        F.count(F.lit(1)).alias("cnt_a")
    )
    b = d.filter(~F.col("is_crawl")).groupBy("bin").agg(
        F.count(F.lit(1)).alias("cnt_b")
    )
    na = a.agg(F.sum("cnt_a").alias("n_a"))
    nb = b.agg(F.sum("cnt_b").alias("n_b"))
    ratios = (
        a.join(
            b.withColumnsRenamed({"bin": "bbin"}),
            F.col("bin") == F.col("bbin"),
            "left",
        )
        .join(F.broadcast(na))
        .join(F.broadcast(nb))
        .select(
            "bin",
            F.round(
                (F.coalesce(F.col("cnt_b"), F.lit(0)) * F.col("n_a"))
                .cast("double")
                / (F.col("cnt_a") * F.col("n_b")),
                6,
            ).alias("ratio"),
        )
    )
    mx = ratios.agg(F.max("ratio").alias("m"))
    return ratios.join(F.broadcast(mx)).select(
        "bin",
        F.when(F.col("m") > 0, F.round(F.col("ratio") / F.col("m"), 6))
        .otherwise(0.0)
        .alias("accept_prob"),
    )


def apply_dist_match(docs: DataFrame, probs: DataFrame) -> DataFrame:
    """Apply a (possibly frozen) acceptance policy: reference docs all
    pass; crawl docs pass when the portable md5-uniform falls below the
    bin's accept_prob.  Bins unseen by the policy accept nothing."""
    d = _dm_tagged(docs)
    u = md5_unit(F.concat(F.col("doc_id").cast("string"), F.lit(":dm")))
    kept_crawl = (
        d.filter("is_crawl")
        .join(F.broadcast(probs), "bin")
        .filter(u < F.col("accept_prob"))
    )
    out_cols = ["doc_id", "text", "n_chars", "source", "n_tok", "quality"]
    return d.filter(~F.col("is_crawl")).select(*out_cols).unionByName(
        kept_crawl.select(*out_cols)
    )


def stage_dist_match(docs: DataFrame) -> DataFrame:
    """q_distribution_match's rejection sampling, materializing the
    surviving DOCS (the registry op reports per-bin counts): policy
    computed from the same frame it filters (the batch form)."""
    return apply_dist_match(docs, dist_match_probs(docs))


def stage_pack(docs: DataFrame) -> DataFrame:
    counts = docs.select("doc_id", "n_tok").filter(F.col("n_tok") >= 1)
    cum = running_total(counts, ["doc_id"], "n_tok", "cum_tok")
    binned = cum.withColumn(
        "bin_id",
        F.expr(f"(cum_tok - 1) div {PACK_CAPACITY}").cast("bigint"),
    )
    return binned.groupBy("bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("n_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


# ------------------------------------------------------------- audits
def audit_dedup(staged: DataFrame) -> bool:
    r = staged.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct(X.fingerprint("text")).alias("n_fp"),
    ).first()
    return r["n"] == r["n_fp"]


def audit_decontaminated(staged: DataFrame) -> bool:
    return staged.filter(F.col("doc_id") % 97 == 0).count() == 0


def audit_quality(staged: DataFrame) -> bool:
    r = staged.agg(
        F.min("quality").alias("qmin"),
        F.min("n_tok").alias("tmin"),
        F.max("n_tok").alias("tmax"),
    ).first()
    return (
        r["qmin"] >= QUALITY_MIN
        and r["tmin"] >= TOK_MIN
        and r["tmax"] <= TOK_MAX
    )


def audit_unique_docs(staged: DataFrame) -> bool:
    r = staged.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("doc_id").alias("nd"),
    ).first()
    return r["n"] == r["nd"]


def make_audit_token_conservation(expected_tokens: int):
    def audit(staged: DataFrame) -> bool:
        got = staged.agg(F.sum("n_tokens")).first()[0]
        return int(got or 0) == expected_tokens

    return audit


# -------------------------------------------------------------- runner
def main() -> None:
    spark = get_spark("curation_pipeline")
    spark.sparkContext.setLogLevel("ERROR")
    size_shuffle(spark, SF_DIR)
    shutil.rmtree(PIPE_DIR, ignore_errors=True)

    corpus = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text", "n_chars", "source"
    )
    n_corpus = corpus.count()

    record: dict = {"sf_dir": SF_DIR, "pipe_dir": PIPE_DIR, "stages": {}}
    t_total0 = time.perf_counter()

    def run_stage(name, fn_df, audit, rows_in):
        tdir = os.path.join(PIPE_DIR, name)
        t0 = time.perf_counter()
        version = versioned.commit_version(fn_df, tdir, audit=audit)
        wall = time.perf_counter() - t0
        out = versioned.read_table(spark, tdir)
        rows_out = out.count()
        record["stages"][name] = {
            "wall_sec": round(wall, 3),
            "rows_in": rows_in,
            "rows_out": rows_out,
            "version": version,
        }
        print(
            f"stage {name}: {rows_in} -> {rows_out} rows in {wall:.2f}s "
            f"(v{version})",
            flush=True,
        )
        return out, rows_out

    s1, n1 = run_stage("dedup", stage_dedup(corpus), audit_dedup, n_corpus)
    s2, n2 = run_stage(
        "decontaminate",
        stage_decontaminate(s1, corpus),
        audit_decontaminated,
        n1,
    )
    s3, n3 = run_stage("quality", stage_quality(s2), audit_quality, n2)
    s4, n4 = run_stage(
        "dist_match", stage_dist_match(s3), audit_unique_docs, n3
    )
    tokens_in = int(
        s4.filter(F.col("n_tok") >= 1).agg(F.sum("n_tok")).first()[0]
    )
    s5, n5 = run_stage(
        "pack",
        stage_pack(s4),
        make_audit_token_conservation(tokens_in),
        n4,
    )
    staged_wall = time.perf_counter() - t_total0

    # ---- the single-plan composite: identical stage functions chained
    # with NO materialization between them
    t0 = time.perf_counter()
    composite = stage_pack(
        stage_dist_match(
            stage_quality(stage_decontaminate(stage_dedup(corpus), corpus))
        )
    )
    comp_rows = composite.collect()
    composite_wall = time.perf_counter() - t0

    staged_rows = s5.collect()
    key = lambda r: r["bin_id"]  # noqa: E731
    match = sorted(map(tuple, staged_rows), key=lambda t: t[0]) == sorted(
        map(tuple, comp_rows), key=lambda t: t[0]
    )

    record.update(
        {
            "staged_wall_sec": round(staged_wall, 3),
            "composite_wall_sec": round(composite_wall, 3),
            "pack_bins": len(staged_rows),
            "packed_tokens": tokens_in,
            "staged_equals_composite": match,
        }
    )
    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "curation_pipeline.json",
    )
    with open(out, "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps({"match": match, "written": out}))
    if not match:
        raise SystemExit("staged output diverged from single-plan composite")


if __name__ == "__main__":
    main()
