"""Crash safety for the merge-on-read table's versioned publication
(SURVEY.md §2.1 B36): each tick stages one delta plus hard links to the
current version's files, flips the ``_VERSION`` pointer, and — when its
deltas outgrow the base — publishes a compaction as its own version.

Each test injures one step of the publish protocol and asserts that
readers never observe a partial state and that checkpoint replay
converges to the exact table.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from cdc_from_sql_and_nosql_to_data_warehouse_spark.sources import versioned as V
from cdc_from_sql_and_nosql_to_data_warehouse_spark.streaming import cdc


@pytest.fixture
def tdir(tmp_path):
    yield str(tmp_path)
    shutil.rmtree(tmp_path, ignore_errors=True)


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


def _remove(i: int, seq: int) -> dict:
    return {"eventName": "REMOVE", "seq": seq, "newImage": None, "removedId": f"t{i}"}


def _build_table(spark, tdir: str) -> str:
    drop, table, ck = f"{tdir}/drop0", f"{tdir}/table", f"{tdir}/ck0"
    os.makedirs(drop)
    _drop_file(drop, [_trade(i, i, float(i)) for i in range(40)])
    q = cdc.start_merge_stream(cdc.read_change_stream(spark, drop), table, ck)
    q.awaitTermination(120)
    assert cdc.read_merge_table(spark, table).count() == 40
    return table


def _evolved_schema(*extra: str) -> T.StructType:
    """The change-event schema with string fields ``extra`` appended to
    ``newImage``."""
    img = cdc.CHANGE_EVENT_SCHEMA["newImage"].dataType
    evolved_img = T.StructType(
        list(img.fields) + [T.StructField(n, T.StringType(), True) for n in extra]
    )
    return T.StructType(
        [
            f if f.name != "newImage" else T.StructField("newImage", evolved_img, True)
            for f in cdc.CHANGE_EVENT_SCHEMA.fields
        ]
    )


def test_crash_before_version_rename_recovers_on_replay(spark, tdir):
    """Crash while publishing (staging → _v{n} rename): the pointer
    still names the old version, readers see the intact table, and a
    restart with the same checkpoint replays the batch and converges."""
    table = _build_table(spark, tdir)
    drop2, ck2 = f"{tdir}/drop2", f"{tdir}/ck2"
    os.makedirs(drop2)
    _drop_file(drop2, [_trade(3, 100, 999.0)])

    real_rename = os.rename

    def crashing_rename(src, dst, *a, **kw):
        if V._TMP_PREFIX in str(src):
            raise OSError("injected crash at version rename")
        return real_rename(src, dst, *a, **kw)

    os.rename = crashing_rename
    try:
        q = cdc.start_merge_stream(cdc.read_change_stream(spark, drop2), table, ck2)
        with pytest.raises(Exception, match="injected crash"):
            q.awaitTermination(120)
            raise AssertionError(f"query should have failed: {q.exception()}")
    finally:
        os.rename = real_rename

    # injured state: pointer unchanged, readers see the old version
    assert V.current_version(table) == 1
    got = cdc.read_merge_table(spark, table)
    assert got.count() == 40
    assert got.filter("id = 't3'").collect()[0]["price"] == 3.0

    # restart with the same checkpoint: replay merges and publishes
    q = cdc.start_merge_stream(cdc.read_change_stream(spark, drop2), table, ck2)
    q.awaitTermination(120)
    got = cdc.read_merge_table(spark, table)
    assert got.count() == 40
    assert got.filter("id = 't3'").collect()[0]["price"] == 999.0


def test_crash_before_pointer_flip_recovers_on_replay(spark, tdir):
    """Crash after the version rename but before the pointer flip: the
    complete-but-unpublished _v2 is invisible to readers and is cleaned
    by the replay, which republishes the same content."""
    table = _build_table(spark, tdir)
    drop2, ck2 = f"{tdir}/drop2", f"{tdir}/ck2"
    os.makedirs(drop2)
    _drop_file(drop2, [_trade(3, 100, 999.0)])

    real_replace = os.replace

    def crashing_replace(src, dst, *a, **kw):
        if dst.endswith(V._POINTER):
            raise OSError("injected crash at pointer flip")
        return real_replace(src, dst, *a, **kw)

    os.replace = crashing_replace
    try:
        q = cdc.start_merge_stream(cdc.read_change_stream(spark, drop2), table, ck2)
        with pytest.raises(Exception, match="injected crash"):
            q.awaitTermination(120)
            raise AssertionError(f"query should have failed: {q.exception()}")
    finally:
        os.replace = real_replace

    # injured state: orphan _v2 on disk, pointer at 1, readers unaffected
    assert os.path.isdir(os.path.join(table, "_v2"))
    assert V.current_version(table) == 1
    assert cdc.read_merge_table(spark, table).filter("id = 't3'").collect()[0][
        "price"
    ] == 3.0

    q = cdc.start_merge_stream(cdc.read_change_stream(spark, drop2), table, ck2)
    q.awaitTermination(120)
    got = cdc.read_merge_table(spark, table)
    assert V.current_version(table) == 2
    assert got.count() == 40
    assert got.filter("id = 't3'").collect()[0]["price"] == 999.0


def test_reader_never_mutates_writer_state(spark, tdir):
    """The race the old repair protocol had: a reader while a writer's
    staging dir exists must neither fail nor delete anything."""
    table = _build_table(spark, tdir)
    inflight = os.path.join(table, f"{V._TMP_PREFIX}2", f"{cdc._DATA_DIR}=2")
    os.makedirs(inflight)
    with open(os.path.join(inflight, "part-inflight.parquet"), "wb") as f:
        f.write(b"writer in flight")
    assert cdc.read_merge_table(spark, table).count() == 40
    assert os.path.isfile(
        os.path.join(inflight, "part-inflight.parquet")
    ), "reader deleted the writer's in-flight staging"


def test_remove_all_keys_leaves_readable_empty_table(spark, tdir):
    """REMOVEing every key empties the table; the _schema sidecar keeps
    it readable as a typed empty frame instead of failing inference."""
    drop, table, ck = f"{tdir}/drop", f"{tdir}/table", f"{tdir}/ck"
    os.makedirs(drop)
    _drop_file(drop, [_trade(i, i, float(i)) for i in range(4)])
    q = cdc.start_merge_stream(cdc.read_change_stream(spark, drop), table, ck)
    q.awaitTermination(120)
    assert cdc.read_merge_table(spark, table).count() == 4

    drop2, ck2 = f"{tdir}/drop2", f"{tdir}/ck2"
    os.makedirs(drop2)
    _drop_file(drop2, [_remove(i, 100 + i) for i in range(4)])
    q = cdc.start_merge_stream(cdc.read_change_stream(spark, drop2), table, ck2)
    q.awaitTermination(120)
    got = cdc.read_merge_table(spark, table)
    assert got.count() == 0
    assert "id" in got.columns and "price" in got.columns


def test_versions_vacuum_down_to_keep(spark, tdir):
    """Continuous batches must not accumulate versions: after every
    published batch only keep_versions remain on disk.  A batch
    publishes its delta version, plus a compaction version (one data
    directory, named by its own version) when its deltas outgrow the
    base — which one-key batches do."""
    table = f"{tdir}/table"
    compactions = 0
    for i in range(4):
        before = V.current_version(table)
        drop, ck = f"{tdir}/drop{i}", f"{tdir}/ck{i}"
        os.makedirs(drop)
        _drop_file(drop, [_trade(i, 1000 + i, float(i))])
        q = cdc.start_merge_stream(cdc.read_change_stream(spark, drop), table, ck)
        q.awaitTermination(120)
        now = V.current_version(table)
        assert now - before in (1, 2)
        if now - before == 2:
            compactions += 1
            assert os.listdir(os.path.join(table, f"_v{now}")) == [f"{cdc._DATA_DIR}={now}"]
        assert V.list_versions(table) == list(range(max(1, now - 1), now + 1))
    assert compactions >= 1
    assert V.current_version(table) == 4 + compactions
    assert cdc.read_merge_table(spark, table).count() == 4


def test_merge_after_all_keys_removed_does_not_wedge(spark, tdir):
    """Advisory r3 (high): after an all-keys-REMOVEd batch, the NEXT
    batch's internal read of the empty current version must use the
    _schema sidecar — plain inference raises UNABLE_TO_INFER_SCHEMA
    and checkpoint replay re-fails forever."""
    drop, table, ck = f"{tdir}/drop", f"{tdir}/table", f"{tdir}/ck"
    os.makedirs(drop)
    _drop_file(drop, [_trade(i, i, float(i)) for i in range(4)])
    q = cdc.start_merge_stream(cdc.read_change_stream(spark, drop), table, ck)
    q.awaitTermination(120)

    drop2, ck2 = f"{tdir}/drop2", f"{tdir}/ck2"
    os.makedirs(drop2)
    _drop_file(drop2, [_remove(i, 100 + i) for i in range(4)])
    q = cdc.start_merge_stream(cdc.read_change_stream(spark, drop2), table, ck2)
    q.awaitTermination(120)
    assert cdc.read_merge_table(spark, table).count() == 0

    # the wedge: merging NEW keys into the emptied table
    drop3, ck3 = f"{tdir}/drop3", f"{tdir}/ck3"
    os.makedirs(drop3)
    _drop_file(drop3, [_trade(100 + i, 200 + i, 9.5) for i in range(3)])
    q = cdc.start_merge_stream(cdc.read_change_stream(spark, drop3), table, ck3)
    q.awaitTermination(120)
    got = cdc.read_merge_table(spark, table)
    assert got.count() == 3
    assert {r["id"] for r in got.collect()} == {"t100", "t101", "t102"}


def test_schema_sidecar_refreshes_on_evolution(spark, tdir):
    """Advisory r3 (low): a batch whose payload carries a new column
    must refresh the _schema sidecar, or read_merge_table pins the
    first batch's schema forever and silently nulls the new column —
    proven here by EMPTYING the evolved table, where the sidecar is
    the only schema source left."""
    drop, table, ck = f"{tdir}/drop", f"{tdir}/table", f"{tdir}/ck"
    os.makedirs(drop)
    _drop_file(drop, [_trade(i, i, float(i)) for i in range(3)])
    q = cdc.start_merge_stream(cdc.read_change_stream(spark, drop), table, ck)
    q.awaitTermination(120)

    # evolved source: newImage carries an extra 'venue' column
    evolved_schema = _evolved_schema("venue")
    drop2, ck2 = f"{tdir}/drop2", f"{tdir}/ck2"
    os.makedirs(drop2)
    ev = _trade(10, 100, 1.5)
    ev["newImage"]["venue"] = "NYSE"
    _drop_file(drop2, [ev])
    evolved = spark.readStream.schema(evolved_schema).json(drop2)
    q = cdc.start_merge_stream(evolved, table, ck2)
    q.awaitTermination(120)
    assert "venue" in cdc.read_merge_table(spark, table).columns

    # empty the table: the refreshed sidecar must now carry 'venue'
    drop3, ck3 = f"{tdir}/drop3", f"{tdir}/ck3"
    os.makedirs(drop3)
    _drop_file(
        drop3, [_remove(i, 200 + i) for i in range(3)] + [_remove(10, 210)]
    )
    q = cdc.start_merge_stream(cdc.read_change_stream(spark, drop3), table, ck3)
    q.awaitTermination(120)
    got = cdc.read_merge_table(spark, table)
    assert got.count() == 0
    assert "venue" in got.columns, "sidecar pinned the pre-evolution schema"


def test_crash_at_schema_sidecar_replace_recovers_on_replay(spark, tdir):
    """Crash while a schema-evolving batch replaces the _schema.json
    sidecar: readers stay on the prior version AND its schema, and a
    restart with the same checkpoint publishes both."""
    table = _build_table(spark, tdir)
    prior_sidecar = cdc._read_sidecar(table)
    drop2, ck2 = f"{tdir}/drop2", f"{tdir}/ck2"
    os.makedirs(drop2)
    ev = _trade(3, 100, 999.0)
    ev["newImage"]["venue"] = "NYSE"
    _drop_file(drop2, [ev])
    evolved = _evolved_schema("venue")

    real_replace = os.replace

    def crashing_replace(src, dst, *a, **kw):
        if str(dst).endswith(cdc._SCHEMA_FILE):
            raise OSError("injected crash at schema sidecar replace")
        return real_replace(src, dst, *a, **kw)

    os.replace = crashing_replace
    try:
        q = cdc.start_merge_stream(spark.readStream.schema(evolved).json(drop2), table, ck2)
        with pytest.raises(Exception, match="injected crash"):
            q.awaitTermination(120)
            raise AssertionError(f"query should have failed: {q.exception()}")
    finally:
        os.replace = real_replace

    # injured state: pointer and sidecar both name the prior version
    assert V.current_version(table) == 1
    assert cdc._read_sidecar(table) == prior_sidecar
    got = cdc.read_merge_table(spark, table)
    assert "venue" not in got.columns
    assert got.count() == 40
    assert got.filter("id = 't3'").collect()[0]["price"] == 3.0

    q = cdc.start_merge_stream(spark.readStream.schema(evolved).json(drop2), table, ck2)
    q.awaitTermination(120)
    assert V.current_version(table) == 2
    assert "venue" in cdc._read_sidecar(table)[1].fieldNames()
    got = cdc.read_merge_table(spark, table)
    assert got.count() == 40
    row = got.filter("id = 't3'").collect()[0]
    assert (row["price"], row["venue"]) == (999.0, "NYSE")
    assert got.filter("venue IS NOT NULL").count() == 1


# field names that need quoting in a SQL string: a space, a backtick, a
# single quote
_ODD = ("venue name", "tick`er", "owner's desk")


def _column_builder_apply(target, changes, key: str = "id"):
    """apply_changes' merge mode built the way it was before the merge
    plan became SQL strings: a field-by-field ``F.struct`` per side.
    Fields are resolved with ``getField``, which never parses a name,
    so this reference needs no quoting at all."""
    valid = changes.filter(F.col("eventName").isin("INSERT", "MODIFY", "REMOVE"))
    img_schema = {f.name: f.dataType for f in valid.schema["newImage"].dataType.fields}
    tgt_schema = {f.name: f.dataType for f in target.schema.fields}
    names = list(img_schema) + [n for n in tgt_schema if n not in img_schema]

    def aligned(schema, struct_col):
        return F.struct(
            *[
                (
                    struct_col.getField(n)
                    if n in schema
                    else F.lit(None).cast(img_schema.get(n) or tgt_schema[n])
                ).alias(n)
                for n in names
            ]
        )

    base = target.select(F.struct("*").alias("__t")).select(
        F.col("__t").getField(key).alias("__key"),
        F.lit(cdc._BASE_SEQ).cast("long").alias("__seq"),
        F.lit(False).alias("__is_remove"),
        aligned(tgt_schema, F.col("__t")).alias("__img"),
    )
    flat = valid.select(
        F.coalesce(F.col("newImage").getField(key), F.col("removedId")).alias("__key"),
        F.col("seq").alias("__seq"),
        (F.col("eventName") == "REMOVE").alias("__is_remove"),
        aligned(img_schema, F.col("newImage")).alias("__img"),
    ).filter(F.col("__key").isNotNull())
    w = Window.partitionBy("__key").orderBy(
        F.col("__seq").desc(),
        F.col("__is_remove").desc(),
        F.xxhash64(F.to_json(F.col("__img"))).desc(),
    )
    return (
        base.unionByName(flat)
        .withColumn("__rn", F.row_number().over(w))
        .filter((F.col("__rn") == 1) & ~F.col("__is_remove"))
        .select("__img.*")
    )


def _canon(df) -> tuple[list[str], list[str]]:
    """Column names and the sorted JSON of every row."""
    rows = sorted(
        json.dumps(r.asDict(recursive=True), sort_keys=True, default=str)
        for r in df.collect()
    )
    return df.columns, rows


def _odd_events(seq0: int) -> list[dict]:
    """An evolution batch over keys t0..t5: new images carrying the odd
    fields, a REMOVE, and equal-seq ties (two images; an image and a
    REMOVE) so the hash tiebreak runs over the odd-named fields."""

    def img(i, seq, price, tag):
        ev = _trade(i, seq, price)
        ev["eventName"] = "MODIFY"
        ev["newImage"].update({n: f"{tag}-{j}" for j, n in enumerate(_ODD)})
        return ev

    return [
        img(0, seq0, 10.0, "a"),
        img(1, seq0 + 1, 11.0, "b"),
        img(1, seq0 + 1, 12.0, "c"),
        img(2, seq0 + 2, 13.0, "d"),
        _remove(2, seq0 + 2),
        _remove(3, seq0 + 3),
        img(50, seq0 + 4, 14.0, "e"),
    ]


def test_odd_field_names_merge_like_column_builder(spark, tdir):
    """A schema-evolution batch whose field names carry a space, a
    backtick and a single quote merges exactly as the column-builder
    plan does — in a direct apply_changes (with a legacy target column
    whose nested field names need quoting too) and through the merge
    stream, parquet and sidecar round trip included."""
    evolved = _evolved_schema(*_ODD)
    drop2 = f"{tdir}/drop2"
    os.makedirs(drop2)
    _drop_file(drop2, _odd_events(100))
    changes = spark.read.schema(evolved).json(drop2)

    legacy = T.StructField(
        "desk`info", T.StructType([T.StructField("floor 'a'", T.LongType())])
    )
    target = spark.createDataFrame(
        [(f"t{i}", float(i), i, (i,)) for i in range(6)],
        T.StructType(
            [
                T.StructField("id", T.StringType()),
                T.StructField("price", T.DoubleType()),
                T.StructField("shares", T.LongType()),
                legacy,
            ]
        ),
    )
    got = cdc.apply_changes(target, changes, key="id")
    want = _column_builder_apply(target, changes)
    assert got.schema.simpleString() == want.schema.simpleString()
    assert _canon(got) == _canon(want)

    table = _build_table(spark, tdir)
    want = _canon(_column_builder_apply(cdc.read_merge_table(spark, table), changes))
    q = cdc.start_merge_stream(
        spark.readStream.schema(evolved).json(drop2), table, f"{tdir}/ck2"
    )
    q.awaitTermination(120)
    assert q.exception() is None
    got = cdc.read_merge_table(spark, table)
    assert all(n in got.columns for n in _ODD)
    assert _canon(got) == want


# ------------------------------------------------ merge-on-read protocol


def _tick(spark, tdir: str, table: str, name: str, events: list[dict]):
    """Drop ``events`` in a fresh folder and start a merge stream on it
    with the folder's own checkpoint; returns the started query."""
    drop = f"{tdir}/drop_{name}"
    os.makedirs(drop, exist_ok=True)
    if events:
        _drop_file(drop, events)
    return cdc.start_merge_stream(cdc.read_change_stream(spark, drop), table, f"{tdir}/ck_{name}")


def _expect_crash(q) -> None:
    with pytest.raises(Exception, match="injected crash"):
        q.awaitTermination(120)
        raise AssertionError(f"query should have failed: {q.exception()}")


def _prices(spark, table: str) -> dict[str, float]:
    return {r["id"]: r["price"] for r in cdc.read_merge_table(spark, table).collect()}


# 40 keys updated and 20 new ones: a delta larger than the 40-key base,
# so the tick that applies it also compacts
_GROWING = [_trade(i, 100 + i, 1000.0 + i) for i in range(60)]
_GROWN = {f"t{i}": 1000.0 + i for i in range(60)}


def _crash_staged_writes(monkeypatch, table: str, after_flip: bool) -> None:
    """Make the merge's parquet write into a staging directory crash
    once its files are written — the delta write (``after_flip`` False)
    or the compaction write, which follows the tick's pointer flip."""
    from pyspark.sql.readwriter import DataFrameWriter

    real = DataFrameWriter.parquet
    v0 = V.current_version(table)

    def crashing(self, path, *a, **kw):
        real(self, path, *a, **kw)
        if V._TMP_PREFIX in str(path) and (V.current_version(table) > v0) == after_flip:
            raise OSError("injected crash after staged write")

    monkeypatch.setattr(DataFrameWriter, "parquet", crashing)


def test_crash_after_delta_write_recovers_on_replay(spark, tdir, monkeypatch):
    """Crash once the delta's files are staged: the pointer still names
    the old version and readers see it; the replay cleans the staged
    delta and publishes the same batch."""
    table = _build_table(spark, tdir)
    _crash_staged_writes(monkeypatch, table, after_flip=False)
    _expect_crash(_tick(spark, tdir, table, "d", [_trade(3, 100, 999.0)]))
    monkeypatch.undo()

    assert V.current_version(table) == 1
    assert os.path.isdir(os.path.join(table, f"{V._TMP_PREFIX}2"))
    assert _prices(spark, table)["t3"] == 3.0

    _tick(spark, tdir, table, "d", []).awaitTermination(120)
    assert V.current_version(table) == 2
    assert not os.path.exists(os.path.join(table, f"{V._TMP_PREFIX}2"))
    assert _prices(spark, table) == {**{f"t{i}": float(i) for i in range(40)}, "t3": 999.0}


def test_crash_at_compaction_write_recovers_on_replay(spark, tdir, monkeypatch):
    """Crash while the compaction is staged: the tick's delta version is
    already published, so readers see the batch applied; the replay
    re-applies the batch as a new delta, compacts, and converges."""
    table = _build_table(spark, tdir)
    _crash_staged_writes(monkeypatch, table, after_flip=True)
    _expect_crash(_tick(spark, tdir, table, "c", _GROWING))
    monkeypatch.undo()

    assert V.current_version(table) == 2
    assert len(cdc._data_dirs(os.path.join(table, "_v2"))) == 2
    assert _prices(spark, table) == _GROWN

    _tick(spark, tdir, table, "c", []).awaitTermination(120)
    now = V.current_version(table)
    assert os.listdir(os.path.join(table, f"_v{now}")) == [f"{cdc._DATA_DIR}={now}"]
    assert _prices(spark, table) == _GROWN


def test_crash_at_pointer_flip_after_compaction_recovers_on_replay(spark, tdir, monkeypatch):
    """Crash at the pointer flip that would publish the compaction: the
    complete compacted version is an unpublished orphan, readers stay on
    the delta version, and the replay cleans the orphan and converges."""
    table = _build_table(spark, tdir)
    real_replace = os.replace

    def crashing_replace(src, dst, *a, **kw):
        if str(dst).endswith(V._POINTER) and V.current_version(table) == 2:
            raise OSError("injected crash at compaction pointer flip")
        return real_replace(src, dst, *a, **kw)

    monkeypatch.setattr(os, "replace", crashing_replace)
    _expect_crash(_tick(spark, tdir, table, "f", _GROWING))
    monkeypatch.undo()

    assert V.current_version(table) == 2
    assert os.listdir(os.path.join(table, "_v3")) == [f"{cdc._DATA_DIR}=3"]
    assert _prices(spark, table) == _GROWN

    _tick(spark, tdir, table, "f", []).awaitTermination(120)
    assert V.current_version(table) == 4
    assert os.listdir(os.path.join(table, "_v4")) == [f"{cdc._DATA_DIR}=4"]
    assert _prices(spark, table) == _GROWN


def _published_files(table: str) -> dict[int, dict[str, tuple[int, int]]]:
    """version -> relative path -> (inode, bytes) of every file of every
    published version on disk."""
    out = {}
    for v in V.list_versions(table):
        if v > V.current_version(table):
            continue
        vdir = os.path.join(table, f"_v{v}")
        out[v] = {
            os.path.relpath(os.path.join(root, f), vdir): (
                os.stat(os.path.join(root, f)).st_ino,
                os.stat(os.path.join(root, f)).st_size,
            )
            for root, _, files in os.walk(vdir)
            for f in files
        }
    return out


def test_published_files_are_immutable_until_vacuum(spark, tdir):
    """Across delta ticks and compactions, every file of a published
    version keeps its inode and size for as long as vacuum keeps the
    version, and a version's files are carried forward by hard link."""
    table = f"{tdir}/table"
    seen: dict[int, dict[str, tuple[int, int]]] = {}
    batches = [
        [_trade(i, i, float(i)) for i in range(40)],
        [_trade(3, 100, 5.0)],
        [_remove(4, 101)],
        _GROWING,
        [_trade(7, 300, 7.5)],
        [_trade(70, 301, 70.0), _remove(8, 302)],
    ]
    for i, events in enumerate(batches):
        _tick(spark, tdir, table, str(i), events).awaitTermination(120)
        now = _published_files(table)
        for v, files in now.items():
            assert seen.setdefault(v, files) == files, f"version {v} changed"
        # vacuum retires versions below the kept ones only
        assert all(v >= V.current_version(table) - 1 for v in now)
    assert len(seen) > len(batches)  # at least one tick compacted
    carried = [
        path
        for v, files in seen.items()
        for path, ino in files.items()
        if v - 1 in seen and seen[v - 1].get(path) == ino
    ]
    assert carried
