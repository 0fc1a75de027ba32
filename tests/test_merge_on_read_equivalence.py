"""The merge-on-read table against the copy-on-write reference.

A seeded random history of change batches runs through
``start_merge_stream`` one tick at a time.  After every tick,
``read_merge_table`` must equal, row for row, the fold of
``apply_changes`` over the same batches — the copy-on-write merge that
rewrites the whole target each batch.  The histories cross at least two
compactions and carry out-of-order seqs across batches, equal-seq
INSERT/REMOVE and INSERT/INSERT ties, REMOVE then re-INSERT, keyless and
unknown events, and a column added mid-history.
"""

from __future__ import annotations

import json
import os
import random
import shutil

import pytest

from pyspark.sql import types as T

from cdc_from_sql_and_nosql_to_data_warehouse_spark.sources import versioned as V
from cdc_from_sql_and_nosql_to_data_warehouse_spark.streaming import cdc

N_KEYS = 12
N_TICKS = 9
EVOLVE_AT = 5  # ticks from here on carry the added 'venue' column
ERRORS_ONLY_AT = 3  # a tick whose events are all keyless or unknown


@pytest.fixture
def tdir(tmp_path):
    yield str(tmp_path)
    shutil.rmtree(tmp_path, ignore_errors=True)


def _evolved_schema() -> T.StructType:
    img = cdc.CHANGE_EVENT_SCHEMA["newImage"].dataType
    evolved = T.StructType(list(img.fields) + [T.StructField("venue", T.StringType())])
    return T.StructType(
        [
            f if f.name != "newImage" else T.StructField("newImage", evolved, True)
            for f in cdc.CHANGE_EVENT_SCHEMA.fields
        ]
    )


def _history(seed: int) -> list[list[dict]]:
    """``N_TICKS`` batches of change events over keys k0..k11."""
    rng = random.Random(seed)

    def image(k: int, seq: int, tick: int) -> dict:
        img = {"id": f"k{k}", "price": float(rng.randint(1, 999)), "shares": rng.randint(1, 9)}
        if tick >= EVOLVE_AT:
            img["venue"] = rng.choice(["NYSE", "LSE", None])
        return {"eventName": rng.choice(["INSERT", "MODIFY"]), "seq": seq, "newImage": img}

    def remove(k: int, seq: int) -> dict:
        return {"eventName": "REMOVE", "seq": seq, "newImage": None, "removedId": f"k{k}"}

    errors = [
        {"eventName": "INSERT", "seq": 1, "newImage": None, "removedId": None},
        {"eventName": "REMOVE", "seq": 2, "newImage": None, "removedId": None},
        {"eventName": "UPSERT", "seq": 3, "newImage": {"id": "k0", "price": 1.0, "shares": 1}},
    ]
    batches = [[image(k, rng.randint(0, 1000), 0) for k in range(N_KEYS)]]
    removed: list[int] = []
    for tick in range(1, N_TICKS):
        if tick == ERRORS_ONLY_AT:
            batches.append(errors[:])
            continue
        # seqs are drawn afresh each tick: a later batch often carries a
        # LOWER seq than the row it replaces, and must still win
        events = []
        for _ in range(rng.randint(3, 7)):
            k, seq = rng.randrange(N_KEYS), rng.randint(0, 1000)
            events.append(remove(k, seq) if rng.random() < 0.25 else image(k, seq, tick))
        k, seq = rng.randrange(N_KEYS), rng.randint(0, 1000)
        events += [image(k, seq, tick), remove(k, seq)]  # equal-seq INSERT/REMOVE
        k, seq = rng.randrange(N_KEYS), rng.randint(0, 1000)
        events += [image(k, seq, tick), image(k, seq, tick)]  # equal-seq images
        if removed:  # REMOVE then re-INSERT
            events.append(image(removed.pop(), rng.randint(0, 1000), tick))
        k = rng.randrange(N_KEYS)
        events.append(remove(k, rng.randint(0, 1000)))
        removed.append(k)
        events.append(rng.choice(errors))
        rng.shuffle(events)
        batches.append(events)
    return batches


def _canon(df) -> tuple[list[str], list[str]]:
    rows = sorted(
        json.dumps(r.asDict(recursive=True), sort_keys=True, default=str) for r in df.collect()
    )
    return df.columns, rows


@pytest.mark.parametrize("seed", [7, 11])
def test_merge_on_read_matches_copy_on_write_fold(spark, tdir, seed):
    table, errors = f"{tdir}/table", f"{tdir}/errors"
    ref = None
    n_errors = 0
    compactions = 0
    for tick, events in enumerate(_history(seed)):
        schema = _evolved_schema() if tick >= EVOLVE_AT else cdc.CHANGE_EVENT_SCHEMA
        drop = f"{tdir}/drop{tick}"
        os.makedirs(drop)
        with open(f"{drop}/changes.json", "w") as fh:
            fh.writelines(json.dumps(e) + "\n" for e in events)
        before = V.current_version(table)
        q = cdc.start_merge_stream(
            spark.readStream.schema(schema).json(drop),
            table,
            f"{tdir}/ck{tick}",
            errors_dir=errors,
        )
        q.awaitTermination(120)
        assert q.exception() is None
        now = V.current_version(table)
        compactions += now - before == 2

        n_errors += sum(
            e["eventName"] not in ("INSERT", "MODIFY", "REMOVE")
            or (e.get("newImage") or {}).get("id", e.get("removedId")) is None
            for e in events
        )
        assert spark.read.json(errors).count() == n_errors

        if tick == ERRORS_ONLY_AT:
            # no mergeable rows: no version, and the reference is unchanged
            assert now == before
            continue
        assert now - before in (1, 2)
        merged = cdc.apply_changes(ref, spark.read.schema(schema).json(drop), key="id")
        ref = spark.createDataFrame(merged.collect(), merged.schema)
        assert _canon(cdc.read_merge_table(spark, table)) == _canon(ref), f"tick {tick}"
    assert compactions >= 2
    assert "venue" in ref.columns
