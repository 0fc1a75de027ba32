"""Regression tests for the round-2 advisory findings.

Each test pins a bug that was latent in round 1 because the synthetic
testdata never hits the edge: short documents (shingling), NULL click
values (as-of carry), seq<=0 first events (stateful CDC), non-default
merge keys, and the merge stream's per-tick writes.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

import pytest

from pyspark.sql import functions as F

from cdc_from_sql_and_nosql_to_data_warehouse_spark.functions import text as X
from cdc_from_sql_and_nosql_to_data_warehouse_spark.streaming import cdc


@pytest.fixture()
def tdir(tmp_path):
    yield str(tmp_path)
    shutil.rmtree(tmp_path, ignore_errors=True)


# ---------------------------------------------------------- short documents


def test_shingles_short_documents_no_crash(spark):
    # sequence(1, 0) is DESCENDING [1, 0] in Spark — unguarded shingling
    # crashed on any doc with fewer than n tokens
    df = spark.createDataFrame(
        [(1, ""), (2, "one"), (3, "one two"), (4, "one two three"), (5, "a b c d")],
        "doc_id long, text string",
    ).select("doc_id", X.tokens("text").alias("toks"))
    rows = {
        r["doc_id"]: (r["sh"], r["hs"])
        for r in df.select(
            "doc_id",
            X.word_shingles("toks", 3).alias("sh"),
            X.shingle_hashes("toks", 3).alias("hs"),
        ).collect()
    }
    assert rows[1][0] == [] and rows[1][1] == []
    assert rows[2][0] == [] and rows[2][1] == []
    assert rows[3][0] == [] and rows[3][1] == []
    assert rows[4][0] == ["one two three"] and len(rows[4][1]) == 1
    assert rows[5][0] == ["a b c", "b c d"] and len(rows[5][1]) == 2


def test_minhash_pipeline_survives_short_docs(spark, tdir):
    # end-to-end: a corpus with sub-n-token docs must not kill the
    # near-dup queries (they simply contribute no shingles)
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.dedup import (
        minhash_candidates,
    )

    docs = spark.createDataFrame(
        [
            (1, "tiny"),
            (2, "two words"),
            (3, "the quick brown fox jumps over the lazy dog"),
            (4, "the quick brown fox jumps over the lazy dog"),
        ],
        "doc_id long, text string",
    )
    pairs = minhash_candidates(docs).filter(F.col("jaccard") >= 0.5).collect()
    assert {(r["a"], r["b"]) for r in pairs} == {(3, 4)}


# ------------------------------------------------------------- as-of carry


def test_asof_join_null_click_value_not_replaced_by_older(spark, tdir):
    # the matched (latest) click has value NULL: the carry must yield
    # (its ts, NULL) — not pair its ts with an OLDER click's value
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.timeseries import (
        q_asof_join,
    )

    rows = [
        (1, "2024-01-01 10:00:00", 7, "click", 55.0, None),
        (2, "2024-01-01 11:00:00", 7, "click", None, None),
        (3, "2024-01-01 12:00:00", 7, "purchase", 9.0, None),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double, props string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    df.write.parquet(f"{tdir}/events.parquet")
    out = q_asof_join(spark, tdir).collect()
    assert len(out) == 1
    r = out[0]
    assert r["click_ts"].hour == 11  # latest click at/before the purchase
    assert r["click_value"] is None  # NOT 55.0 from the 10:00 click


# ----------------------------------------------------- stateful seq guards


def test_apply_changes_seq_zero_beats_base_row(spark):
    # target base rows merge at a sentinel below ANY valid seq, so a
    # legitimate change at seq=0 deterministically wins
    target = spark.createDataFrame([("k1", 1.0)], "id string, price double")
    img = F.struct(F.lit("k1").alias("id"), F.lit(2.0).alias("price"))
    changes = spark.range(1).select(
        F.lit("MODIFY").alias("eventName"),
        F.lit(0).cast("long").alias("seq"),
        img.alias("newImage"),
        F.lit(None).cast("string").alias("removedId"),
    )
    out = cdc.apply_changes(target, changes, key="id").collect()
    assert len(out) == 1 and out[0]["price"] == 2.0


def test_apply_changes_custom_key(spark):
    # key=... must drive the merge column inside newImage too (was
    # hardcoded to newImage.id)
    target = spark.createDataFrame([("u9", 1.0)], "user_key string, price double")
    img = F.struct(F.lit("u9").alias("user_key"), F.lit(5.0).alias("price"))
    changes = spark.range(1).select(
        F.lit("MODIFY").alias("eventName"),
        F.lit(10).cast("long").alias("seq"),
        img.alias("newImage"),
        F.lit(None).cast("string").alias("removedId"),
    )
    out = cdc.apply_changes(target, changes, key="user_key").collect()
    assert len(out) == 1 and out[0]["price"] == 5.0


# ------------------------------------------------- incremental merge stream


def _drop_file(drop_dir: str, events: list[dict]) -> None:
    with open(f"{drop_dir}/{uuid.uuid4().hex}__records.json", "w") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")


def _trade(i: int, seq: int, price: float) -> dict:
    return {
        "eventName": "INSERT",
        "seq": seq,
        "newImage": {"id": f"t{i}", "price": price, "shares": 1},
        "removedId": None,
    }


def test_merge_stream_tick_writes_one_delta_file(spark, tdir):
    drop, table, ck1, ck2 = (
        f"{tdir}/drop",
        f"{tdir}/table",
        f"{tdir}/ck1",
        f"{tdir}/ck2",
    )
    os.makedirs(drop)
    _drop_file(drop, [_trade(i, i, float(i)) for i in range(40)])
    q = cdc.start_merge_stream(cdc.read_change_stream(spark, drop), table, ck1)
    q.awaitTermination(120)
    assert cdc.read_merge_table(spark, table).count() == 40

    import pyarrow.parquet as pq

    from cdc_from_sql_and_nosql_to_data_warehouse_spark.sources import versioned as V

    def _data_files(tbl):
        """relative path -> inode of the current version's data files"""
        vdir = os.path.join(tbl, f"_v{V.current_version(tbl)}")
        return {
            os.path.relpath(os.path.join(root, f), vdir): os.stat(os.path.join(root, f)).st_ino
            for root, _, files in os.walk(vdir)
            for f in files
            if f.endswith(".parquet")
        }

    before = _data_files(table)
    assert before

    # ONE key updated: the tick writes one new data file holding one row
    # (O(batch), not O(table)) ...
    drop2 = f"{tdir}/drop2"
    os.makedirs(drop2)
    _drop_file(drop2, [_trade(3, 100, 999.0)])
    q = cdc.start_merge_stream(cdc.read_change_stream(spark, drop2), table, ck2)
    q.awaitTermination(120)
    after = _data_files(table)
    new = sorted(set(after) - set(before))
    assert len(new) == 1, new
    vdir = os.path.join(table, f"_v{V.current_version(table)}")
    assert pq.read_metadata(os.path.join(vdir, new[0])).num_rows == 1
    # ... and every earlier data file is a HARD LINK to the previous
    # version's file: same inode — zero data movement
    assert {p: after[p] for p in before} == before

    got = cdc.read_merge_table(spark, table)
    assert got.count() == 40
    assert got.filter("id = 't3'").collect()[0]["price"] == 999.0


# ------------------------------------------- Kafka-shaped Debezium stream


def test_kafka_shaped_debezium_stream_end_to_end(spark, tdir):
    """File-fed Kafka-shaped frames (key/value) through the exact
    broker-independent path of kafka_debezium_stream: decode_kafka_frames
    → to_change_events → foreachBatch merge.  Covers envelope decode,
    delete propagation (before-image key), and latest-wins by ts_ms."""
    from pyspark.sql import types as T

    from cdc_from_sql_and_nosql_to_data_warehouse_spark.sources import debezium as dbz

    payload = T.StructType(
        [T.StructField("id", T.StringType()), T.StructField("price", T.DoubleType())]
    )

    def env(op, rid, price, ts_ms):
        body = {"id": rid, "price": price}
        return {
            "key": rid,
            "value": json.dumps(
                {
                    "before": body if op == "d" else None,
                    "after": None if op == "d" else body,
                    "op": op,
                    "ts_ms": ts_ms,
                }
            ),
        }

    frames = [
        env("c", "a", 1.0, 100),
        env("u", "a", 2.0, 200),   # latest image of a
        env("c", "b", 3.0, 150),
        env("d", "b", 3.0, 250),   # b deleted via before-image key
        env("r", "c", 9.0, 50),    # snapshot read → INSERT
    ]
    drop = f"{tdir}/kafka_drop"
    os.makedirs(drop)
    with open(f"{drop}/frames.ndjson", "w") as f:
        for fr in frames:
            f.write(json.dumps(fr) + "\n")

    raw = (
        spark.readStream.schema("key string, value string")
        .json(drop)
    )
    decoded = dbz.decode_kafka_frames(raw, payload)
    changes = dbz.to_change_events(decoded, key="id")

    table, ck = f"{tdir}/ktable", f"{tdir}/kck"
    # the engine envelope from the debezium bridge has payload-typed
    # newImage, so apply_changes merges it like any change batch
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.streaming.cdc import (
        apply_changes,
    )

    out = []

    def _apply(batch, _bid):
        out.append({r["id"]: r["price"] for r in apply_changes(None, batch, key="id").collect()})

    q = changes.writeStream.foreachBatch(_apply).option(
        "checkpointLocation", ck
    ).trigger(availableNow=True).start()
    q.awaitTermination(120)

    assert out, "stream produced no batches"
    final = out[-1]
    assert final == {"a": 2.0, "c": 9.0}  # a upserted to 2.0, b deleted


def test_debezium_tombstone_offset_and_key_fallback(spark):
    """Review-driven Debezium decode behaviors: (a) delete tombstones
    (value=null) are filtered, not routed to the error channel; (b) the
    Kafka partition offset becomes seq, so same-millisecond updates
    resolve in true per-key order; (c) a delete with no before-image
    takes its key from the Kafka key; (d) keep_raw retains the raw
    envelope for quarantine."""
    from pyspark.sql import types as T

    from cdc_from_sql_and_nosql_to_data_warehouse_spark.sources import debezium as dbz

    payload = T.StructType(
        [T.StructField("id", T.StringType()), T.StructField("price", T.DoubleType())]
    )

    def frame(op, rid, price, ts_ms, offset, value_null=False, no_before=False):
        if value_null:
            value = None
        else:
            body = {"id": rid, "price": price}
            value = json.dumps(
                {
                    "before": None if (op != "d" or no_before) else body,
                    "after": None if op == "d" else body,
                    "op": op,
                    "ts_ms": ts_ms,
                }
            )
        return (rid, value, offset)

    raw = spark.createDataFrame(
        [
            frame("c", "a", 1.0, 100, 1),
            frame("u", "a", 2.0, 100, 2),   # same ts_ms — offset must order
            frame("u", "a", 3.0, 100, 3),   # latest by offset
            frame(None, "a", None, None, 4, value_null=True),  # tombstone
            frame("d", "b", None, 100, 5, no_before=True),     # keyless delete
            frame("x", "z", 9.0, 100, 6),   # unknown op → error channel
        ],
        "key string, value string, offset long",
    )
    decoded = dbz.decode_kafka_frames(raw, payload, keep_raw=True)
    changes = dbz.to_change_events(decoded, key="id")
    rows = {r["seq"]: r for r in changes.collect()}

    # (a) tombstone filtered: 5 decoded rows, none all-null
    assert len(rows) == 5 and 4 not in rows
    # (b) offset is seq
    assert rows[3]["newImage"]["price"] == 3.0
    # (c) before-less delete carries the Kafka key
    assert rows[5]["eventName"] == "REMOVE" and rows[5]["removedId"] == "b"
    # (d) unknown op keeps its raw envelope for the error channel
    assert rows[6]["eventName"] is None and '"op": "x"' in rows[6]["_raw"]

    # end-to-end: merge resolves a to the offset-latest image
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.streaming.cdc import (
        apply_changes,
    )

    merged = {r["id"]: r["price"] for r in apply_changes(None, changes, key="id").collect()}
    assert merged == {"a": 3.0}
