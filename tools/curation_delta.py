"""INCREMENTAL curation: a new-documents delta through the staged
pipeline's gates against a standing corpus, without re-running the
corpus (VERDICT r10 next-4 — the 100 TB shape of curation is a daily
delta, not a daily rebuild).

Maintained state, built once from the base (the publish-side indexes a
real pipeline would keep next to the curated table):
  * fingerprint index  — exact-dedup identity of EVERY base doc;
  * eval 5-gram set    — the decontamination policy (frozen: the
                         held-out set exists before curation);
  * dist-match probs   — the acceptance policy FROZEN on the base
                         (a delta must not silently re-decide
                         already-published docs; policy refresh is a
                         scheduled rebuild, not an ingest side effect);
  * base token total + pack-bin summaries.

The delta then flows dedup → decontaminate → quality → dist-match →
pack, where every stage's data-scaled work is delta-sized: dedup and
decontamination PROBE the maintained indexes (one pruned-column scan +
a broadcast of the delta's keys — never a re-tokenize/re-shingle of
the corpus), quality/dist-match are per-doc on the delta, and packing
appends behind the base's running token total with one boundary-bin
merge (a union + re-aggregate keyed on bin_id — identity for every
non-boundary bin).

Equivalence gate: the incremental final state (curated base ∪ delta
survivors; merged pack bins) must equal the FULL batch rerun over
base ∪ delta under the same frozen policy, row for row.  Run at a
fixed delta over a 1× and a 10× base, the per-stage walls are the
fixed-delta/variable-base table (the maintained-index argument,
VERDICT r9/r10 precedent).

Usage:
    python tools/curation_delta.py --base /root/testdata/sf0.1 --label 1x
    python tools/curation_delta.py --base /tmp/spark_graft_scale10x --label 10x
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, Window, functions as F

from cdc_from_sql_and_nosql_to_data_warehouse_spark.functions import text as X
from cdc_from_sql_and_nosql_to_data_warehouse_spark.functions.ids import running_total
from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.dedup import (
    md5_shingle_rows,
)
from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.packing import (
    PACK_CAPACITY,
)
from cdc_from_sql_and_nosql_to_data_warehouse_spark.session import get_spark, size_shuffle
from tools.curation_pipeline import (
    apply_dist_match,
    dist_match_probs,
    stage_decontaminate,
    stage_dedup,
    stage_pack,
    stage_quality,
)

# the delta is ALWAYS derived from the sf0.1 corpus so the same 500
# docs flow against every base scale (fixed delta, variable base)
DELTA_SRC = "/root/testdata/sf0.1"
N_NEW, N_DUP = 250, 250
DELTA_ID_OFFSET = 10**15  # above any replica-shifted blowup id


def synth_delta(spark) -> DataFrame:
    """250 genuinely-new docs (token-suffixed texts under new ids) +
    250 exact duplicates of base texts (new ids, same text — must be
    deduped against the standing fingerprint index)."""
    src = (
        spark.read.parquet(f"{DELTA_SRC}/documents.parquet")
        .select("doc_id", "text", "n_chars", "source")
        .filter(F.col("text").isNotNull())
        .orderBy("doc_id")
        .limit(N_NEW + N_DUP)
    )
    base = src.withColumn(
        "rn", F.row_number().over(Window.orderBy("doc_id"))
    )
    new = base.filter(F.col("rn") <= N_NEW).select(
        (F.col("doc_id") + DELTA_ID_OFFSET).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" deltanovel"), F.col("doc_id"))
        .alias("text"),
        F.col("source"),
    )
    dup = base.filter(F.col("rn") > N_NEW).select(
        (F.col("doc_id") + DELTA_ID_OFFSET + 10**9).alias("doc_id"),
        "text",
        "source",
    )
    return (
        new.unionByName(dup)
        .withColumn("n_chars", F.length("text").cast("long"))
        .select("doc_id", "text", "n_chars", "source")
        .localCheckpoint(eager=True)
    )


def timed(name: str, df: DataFrame, record: dict) -> DataFrame:
    t0 = time.perf_counter()
    out = df.localCheckpoint(eager=True)  # materialize = the stage wall
    n = out.count()
    record[name] = {"wall_sec": round(time.perf_counter() - t0, 3), "rows": n}
    print(f"  {name}: {n} rows in {record[name]['wall_sec']:.2f}s", flush=True)
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", default="/root/testdata/sf0.1")
    ap.add_argument("--label", default="1x")
    args = ap.parse_args()

    spark = get_spark("curation_delta")
    spark.sparkContext.setLogLevel("ERROR")
    size_shuffle(spark, args.base)

    base = (
        spark.read.parquet(f"{args.base}/documents.parquet")
        .select("doc_id", "text", "n_chars", "source")
    )
    n_base = base.count()
    delta = synth_delta(spark)
    rec: dict = {"base_dir": args.base, "n_base": n_base,
                 "n_delta": N_NEW + N_DUP, "state": {}, "delta_stages": {}}

    # ---------------- maintained state (one-time, base-proportional)
    t0 = time.perf_counter()
    # every base fingerprint ever seen; dedup survivors are a strict
    # subset of base, so one distinct over base covers both (r12, ADVICE)
    fp_index = (
        base.select(X.fingerprint("text").alias("fp"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    eval_grams = (
        md5_shingle_rows(base.filter(F.col("doc_id") % 97 == 0), 5)
        .select("h")
        .distinct()
        .localCheckpoint(eager=True)
    )
    base_q = stage_quality(stage_decontaminate(stage_dedup(base), base))
    probs = dist_match_probs(base_q).localCheckpoint(eager=True)
    base_cur = apply_dist_match(base_q, probs).localCheckpoint(eager=True)
    base_tok = int(
        base_cur.filter(F.col("n_tok") >= 1).agg(F.sum("n_tok")).first()[0]
    )
    base_bins = stage_pack(base_cur).localCheckpoint(eager=True)
    rec["state"]["wall_sec"] = round(time.perf_counter() - t0, 3)
    rec["state"]["fp_rows"] = fp_index.count()
    rec["state"]["eval_grams"] = eval_grams.count()
    rec["state"]["base_curated"] = base_cur.count()
    rec["state"]["base_tokens"] = base_tok
    print(f"state built in {rec['state']['wall_sec']:.1f}s", flush=True)

    # ---------------- the delta run (every stage delta-sized)
    ds = rec["delta_stages"]
    t_delta0 = time.perf_counter()
    # 1 dedup: probe the fingerprint index + intra-delta min-id
    w = Window.partitionBy("fp").orderBy("doc_id")
    d_fp = delta.withColumn("fp", X.fingerprint("text"))
    d1 = timed(
        "dedup",
        d_fp.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .join(fp_index, "fp", "left_anti")
        .drop("rn", "fp"),
        ds,
    )
    # 2 decontaminate: probe the frozen eval-gram set
    train = d1.filter(F.col("doc_id") % 97 != 0)
    contaminated = (
        md5_shingle_rows(train, 5)
        .join(eval_grams, "h")
        .select(F.col("id").alias("doc_id"))
        .distinct()
    )
    d2 = timed("decontaminate", train.join(contaminated, "doc_id", "left_anti"), ds)
    # 3 quality: per-doc gates
    d3 = timed("quality", stage_quality(d2), ds)
    # 4 dist-match under the FROZEN policy
    d4 = timed("dist_match", apply_dist_match(d3, probs), ds)
    # 5 pack: append behind the base token total, merge the boundary bin
    counts = d4.select("doc_id", "n_tok").filter(F.col("n_tok") >= 1)
    cum = running_total(counts, ["doc_id"], "n_tok", "cum_tok").withColumn(
        "cum_tok", F.col("cum_tok") + F.lit(base_tok)
    )
    delta_bins = (
        cum.withColumn(
            "bin_id", F.expr(f"(cum_tok - 1) div {PACK_CAPACITY}").cast("bigint")
        )
        .groupBy("bin_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )
    merged_bins = timed(
        "pack_merge",
        base_bins.unionByName(delta_bins)
        .groupBy("bin_id")
        .agg(
            F.sum("n_docs").cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            F.min("first_doc").alias("first_doc"),
            F.max("last_doc").alias("last_doc"),
        ),
        ds,
    )
    rec["delta_wall_sec"] = round(time.perf_counter() - t_delta0, 3)

    # ---------------- equivalence: full batch rerun, same frozen policy
    t0 = time.perf_counter()
    union = base.unionByName(delta)
    twin_cur = apply_dist_match(
        stage_quality(stage_decontaminate(stage_dedup(union), base)), probs
    )
    twin_bins = stage_pack(twin_cur)
    inc_docs = sorted(
        r.doc_id for r in base_cur.select("doc_id")
        .unionByName(d4.select("doc_id")).collect()
    )
    twin_docs = sorted(r.doc_id for r in twin_cur.select("doc_id").collect())
    docs_match = inc_docs == twin_docs
    bins_match = sorted(map(tuple, merged_bins.collect())) == sorted(
        map(tuple, twin_bins.collect())
    )
    rec["batch_twin_wall_sec"] = round(time.perf_counter() - t0, 3)
    rec["incremental_equals_batch"] = {
        "survivor_docs": docs_match,
        "pack_bins": bins_match,
        "n_survivors": len(inc_docs),
    }

    # merge into curation_pipeline.json under "incremental"
    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "curation_pipeline.json",
    )
    try:
        doc = json.load(open(out))
    except (OSError, ValueError):
        doc = {}
    doc.setdefault("incremental", {})[args.label] = rec
    with open(out, "w") as f:
        json.dump(doc, f, indent=1)
    print(json.dumps({"label": args.label, "docs_match": docs_match,
                      "bins_match": bins_match, "written": out}))
    if not (docs_match and bins_match):
        raise SystemExit("incremental state diverged from batch rerun")


if __name__ == "__main__":
    main()
