"""Structured Streaming tests (SURVEY.md §5.2.4): file-drop source +
availableNow triggers simulating the reference's S3 folder protocol,
append vs merge sinks, watermark dedup, event-time windows via the
in-memory sink."""

from __future__ import annotations

import json
import shutil
import uuid

import pytest

from pyspark.sql import functions as F

from cdc_from_sql_and_nosql_to_data_warehouse_spark.streaming import cdc, windows

FIX = "/root/repo/tests/fixtures"


@pytest.fixture()
def tdir(tmp_path):
    yield str(tmp_path)
    shutil.rmtree(tmp_path, ignore_errors=True)


def _drop_events_file(drop_dir: str, events: list[dict]) -> None:
    # one NDJSON file per micro-batch, timestamped-unique name — the
    # reference's staging protocol (write_dynamodb_stream_to_s3_lambda:44-58)
    name = f"{drop_dir}/{uuid.uuid4().hex}__records.json"
    with open(name, "w") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")


def _load_fixture_events() -> list[dict]:
    with open(f"{FIX}/change_events.ndjson") as f:
        return [json.loads(line) for line in f]


def test_append_stream_reproduces_duplicates(spark, tdir):
    drop, out, ckpt = f"{tdir}/drop", f"{tdir}/out", f"{tdir}/ckpt"
    import os

    os.makedirs(drop)
    events = _load_fixture_events()
    _drop_events_file(drop, events)

    stream = cdc.read_change_stream(spark, drop)
    assert stream.isStreaming
    q = cdc.start_append_stream(stream, out, ckpt)
    q.awaitTermination(120)
    assert spark.read.parquet(out).count() == 11  # 8 INSERT + 3 MODIFY

    # second tick: same file content dropped again → duplicates accumulate
    _drop_events_file(drop, events)
    q = cdc.start_append_stream(cdc.read_change_stream(spark, drop), out, ckpt)
    q.awaitTermination(120)
    assert spark.read.parquet(out).count() == 22

    # checkpoint = exactly-once: restarting with no new files adds nothing
    q = cdc.start_append_stream(cdc.read_change_stream(spark, drop), out, ckpt)
    q.awaitTermination(120)
    assert spark.read.parquet(out).count() == 22


def test_merge_stream_latest_wins(spark, tdir):
    drop, table, ckpt = f"{tdir}/drop", f"{tdir}/table", f"{tdir}/ckpt"
    import os

    os.makedirs(drop)
    _drop_events_file(drop, _load_fixture_events())
    q = cdc.start_merge_stream(cdc.read_change_stream(spark, drop), table, ckpt)
    q.awaitTermination(120)
    got = cdc.read_merge_table(spark, table)
    assert got.count() == 7  # one key REMOVEd
    # replay the same events → still 7 (idempotent apply)
    _drop_events_file(drop, _load_fixture_events())
    q = cdc.start_merge_stream(cdc.read_change_stream(spark, drop), table, ckpt)
    q.awaitTermination(120)
    assert cdc.read_merge_table(spark, table).count() == 7


def _group_jobs(spark, group: str) -> list[int]:
    """Ids of the jobs started under job group ``group``, read from the
    status tracker once the listener bus has delivered every event."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return sorted(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def _is_schema_inference(spark, job_id: int) -> bool:
    """Parquet schema inference reads the footers in a job over a
    parallelized file list, so its stage graph holds a
    ParallelCollectionRDD; no stage of a DataFrame plan over files
    does.  Only the stages that ran are consulted: a skipped stage
    computes nothing (the stage that produced its output belongs to an
    earlier job of the same group, which is checked itself), and once a
    session holds more than ``spark.ui.retainedStages`` stages the status
    store evicts skipped stages, graph included, at its next cleanup."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    graph = spark._jvm.org.apache.spark.ui.scope.RDDOperationGraph
    ran = []
    for stage_id in tracker.getJobInfo(job_id).stageIds:
        info = tracker.getStageInfo(stage_id)
        if info is not None and info.numCompletedTasks > 0:
            ran.append(stage_id)
    return any(
        "ParallelCollectionRDD" in graph.makeDotFile(store.operationGraphForStage(stage_id))
        for stage_id in ran
    )


def test_warm_merge_tick_job_budget(spark, tdir):
    """A warm delta tick launches 2 Spark jobs (the micro-batch's
    latest-wins shuffle map and the delta write) and a tick that also
    compacts launches 4 (the same pair again for the compaction); none
    of them infers a parquet schema (the _schema.json sidecar supplies
    it), and the freshness read launches no job before its action.  A
    streaming query runs its batches under a job group named by its run
    id."""
    import os

    from cdc_from_sql_and_nosql_to_data_warehouse_spark.sources import versioned as V

    drop, table, ckpt = f"{tdir}/drop", f"{tdir}/table", f"{tdir}/ckpt"
    os.makedirs(drop)

    def tick(n_keys: int, seq0: int) -> list[int]:
        _drop_events_file(
            drop,
            [
                {
                    "eventName": "INSERT",
                    "seq": seq0 + i,
                    "newImage": {"id": f"t{i}", "price": float(seq0), "shares": i},
                    "removedId": None,
                }
                for i in range(n_keys)
            ],
        )
        q = cdc.start_merge_stream(
            cdc.read_change_stream(spark, drop, max_files_per_trigger=1), table, ckpt
        )
        q.awaitTermination(120)
        jobs = _group_jobs(spark, str(q.runId))
        assert [j for j in jobs if _is_schema_inference(spark, j)] == []
        return jobs

    tick(60, 0)
    # a 5-key delta is smaller than the 60-key base: no compaction
    delta_jobs = tick(5, 100)
    assert V.current_version(table) == 2
    assert len(delta_jobs) == 2, delta_jobs

    sc = spark.sparkContext
    try:
        sc.setJobGroup("merge-table-read", "freshness read")
        got = cdc.read_merge_table(spark, table)
        assert _group_jobs(spark, "merge-table-read") == []
        assert got.count() == 60
        assert _group_jobs(spark, "merge-table-read")
        # the detector's positive control: a read without a schema infers one
        sc.setJobGroup("inferring-read", "inferring read")
        spark.read.parquet(os.path.join(table, "_v2"))
        inferred = _group_jobs(spark, "inferring-read")
        assert inferred and all(_is_schema_inference(spark, j) for j in inferred)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)

    # a 60-key delta brings the deltas past the base: the tick compacts
    compaction_jobs = tick(60, 200)
    assert V.current_version(table) == 4
    assert len(compaction_jobs) == 4, compaction_jobs
    assert cdc.read_merge_table(spark, table).count() == 60


def test_streaming_dedup_with_watermark(spark, tdir):
    drop = f"{tdir}/drop"
    import os

    os.makedirs(drop)
    events = _load_fixture_events()
    _drop_events_file(drop, events + events)  # duplicated in one batch

    stream = cdc.read_change_stream(spark, drop).withColumn(
        "ts", F.timestamp_seconds(F.col("seq") * 60)
    )
    deduped = cdc.streaming_dedup(stream, ["seq"], "ts", "10 minutes")
    name = f"dedup_{uuid.uuid4().hex[:8]}"
    q = (
        deduped.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert spark.table(name).count() == len(events)


def test_tumbling_window_memory_sink(spark, tdir):
    drop = f"{tdir}/drop"
    import os

    os.makedirs(drop)
    # synthetic timestamped events
    rows = [
        {"eventName": "INSERT", "seq": i, "newImage": None, "removedId": None}
        for i in range(1, 21)
    ]
    _drop_events_file(drop, rows)
    stream = (
        cdc.read_change_stream(spark, drop)
        .withColumn("ts", F.timestamp_seconds(F.col("seq") * 90))
        .withColumn("event_type", F.col("eventName"))
        .withColumn("value", F.col("seq").cast("double"))
    )
    agg = windows.tumbling_counts(stream, width="5 minutes", watermark="10 minutes")
    name = f"win_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.table(name).collect()
    assert sum(r["n"] for r in out) == 20
    # 20 events at 90s spacing span 30 minutes → 6-7 tumbling windows
    assert 6 <= len(out) <= 7


def test_batch_window_functions_agree_with_streaming_shapes(spark):
    # windows module functions are mode-agnostic; pin batch semantics
    ev = spark.createDataFrame(
        [(i, i % 3, float(i)) for i in range(30)], "seq long, user_id long, value double"
    ).withColumn("ts", F.timestamp_seconds(F.col("seq") * 120)).withColumn(
        "event_type", F.lit("click")
    )
    t = windows.tumbling_counts(ev, width="10 minutes")
    assert sum(r["n"] for r in t.collect()) == 30
    s = windows.sliding_counts(ev, width="10 minutes", slide="5 minutes")
    assert s.count() > t.count()  # overlapping windows
    # per-user spacing is 6 min (seq%3 at 2-min steps): a 7-min gap fuses
    # each user into one session; a 3-min gap splits them in two
    sess = windows.session_counts(ev.filter("seq < 6"), gap="7 minutes")
    assert sess.count() == 3
    sess_split = windows.session_counts(ev.filter("seq < 6"), gap="3 minutes")
    assert sess_split.count() == 6
    dim = spark.createDataFrame([(0, "a"), (1, "b"), (2, "c")], "user_id long, tag string")
    enriched = windows.enrich_stream(ev, dim, "user_id")
    assert enriched.filter("tag IS NULL").count() == 0


def test_stream_job_control(spark):
    assert cdc.is_stream_active(spark, "no_such_stream") is False


def test_sliding_window_memory_sink(spark, tdir):
    # B32: 10-min windows sliding by 5 — every event lands in exactly 2
    # windows, so total count doubles
    drop = f"{tdir}/drop_sliding"
    import os

    os.makedirs(drop)
    rows = [
        {"eventName": "INSERT", "seq": i, "newImage": None, "removedId": None}
        for i in range(1, 21)
    ]
    _drop_events_file(drop, rows)
    stream = cdc.read_change_stream(spark, drop).withColumn(
        "ts", F.timestamp_seconds(F.col("seq") * 90)
    )
    agg = windows.sliding_counts(stream, width="10 minutes", slide="5 minutes")
    name = f"slide_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.table(name).collect()
    assert sum(r["n"] for r in out) == 40  # 20 events x 2 overlapping windows
    for r in out:
        assert (r["window_end"] - r["window_start"]).total_seconds() == 600


def test_session_window_memory_sink(spark, tdir):
    # B33: two bursts 30 min apart with a 5-min gap → 2 sessions per user
    drop = f"{tdir}/drop_session"
    import os

    os.makedirs(drop)
    rows = [
        {"eventName": "INSERT", "seq": s, "newImage": None, "removedId": None}
        for s in [1, 2, 3, 100, 101]  # minutes, scaled below
    ]
    _drop_events_file(drop, rows)
    stream = (
        cdc.read_change_stream(spark, drop)
        .withColumn("ts", F.timestamp_seconds(F.col("seq") * 60))
        .withColumn("user_id", F.lit(7))
    )
    agg = windows.session_counts(stream, gap="5 minutes")
    name = f"sess_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = {r["n"] for r in spark.table(name).collect()}
    assert out == {3, 2}  # burst sizes; sessions split at the 97-min gap


def test_stream_static_join_enrich(spark, tdir):
    # B37: change events enriched against a static dimension — the
    # dimension is broadcast/replicated, the stream never re-shuffles
    drop = f"{tdir}/drop_enrich"
    import os

    os.makedirs(drop)
    rows = [
        {"eventName": "INSERT", "seq": s, "newImage": None, "removedId": None}
        for s in range(1, 6)
    ]
    _drop_events_file(drop, rows)
    stream = cdc.read_change_stream(spark, drop).withColumn(
        "user_id", F.col("seq") % 2
    )
    dim = spark.createDataFrame(
        [(0, "free"), (1, "pro")], "user_id long, tier string"
    )
    enriched = windows.enrich_stream(stream, dim, "user_id")
    name = f"enrich_{uuid.uuid4().hex[:8]}"
    q = (
        enriched.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.table(name).collect()
    assert len(out) == 5
    tiers = {(r["seq"], r["tier"]) for r in out}
    assert tiers == {(1, "pro"), (2, "free"), (3, "pro"), (4, "free"), (5, "pro")}


def test_checkpoint_resume_no_reprocessing(spark, tdir):
    # A15 as checkpoint semantics: stop after batch 1, drop more files,
    # restart with the SAME checkpoint — batch-1 records must not be
    # appended twice (the reference needs a copy+delete file state
    # machine for this; the offset log subsumes it)
    import os

    drop, out, ck = f"{tdir}/drop", f"{tdir}/out", f"{tdir}/ck"
    os.makedirs(drop)
    events = _load_fixture_events()
    half = len(events) // 2
    _drop_events_file(drop, events[:half])
    stream = cdc.read_change_stream(spark, drop)
    q = cdc.start_append_stream(stream, out, ck)
    q.awaitTermination(120)
    n1 = spark.read.parquet(out).count()
    assert n1 > 0

    _drop_events_file(drop, events[half:])
    q2 = cdc.start_append_stream(cdc.read_change_stream(spark, drop), out, ck)
    q2.awaitTermination(120)
    total = spark.read.parquet(out).count()
    n_valid = len([e for e in events if e["eventName"] in ("INSERT", "MODIFY")])
    # exactly-once: first-half rows appear once, not re-read on resume
    assert total == n_valid


def test_stream_stream_interval_join(spark, tdir):
    # B37': impression->click attribution as a watermarked stream-stream
    # join; only clicks within 5 minutes AFTER the impression pair, and
    # the time bound is what lets the state store evict
    import json
    import os

    imp_dir, clk_dir = f"{tdir}/imps", f"{tdir}/clicks"
    os.makedirs(imp_dir)
    os.makedirs(clk_dir)
    with open(f"{imp_dir}/a.json", "w") as f:
        for ad, ts in [(1, "2024-01-01 00:00:00"), (2, "2024-01-01 00:00:00")]:
            f.write(json.dumps({"ad_id": ad, "ts": ts}) + "\n")
    with open(f"{clk_dir}/b.json", "w") as f:
        for ad, ts in [
            (1, "2024-01-01 00:03:00"),  # within 5 min -> pairs
            (1, "2024-01-01 00:20:00"),  # too late -> no pair
            (3, "2024-01-01 00:01:00"),  # no matching impression
        ]:
            f.write(json.dumps({"ad_id": ad, "ts": ts}) + "\n")
    imps = spark.readStream.schema("ad_id long, ts timestamp").json(imp_dir)
    # right side uses its NATURAL names — join_streams renames internally
    clicks = spark.readStream.schema("ad_id long, ts timestamp").json(clk_dir)
    joined = windows.join_streams(imps, clicks, "ad_id")
    name = f"ssj_{uuid.uuid4().hex[:8]}"
    q = (
        joined.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.table(name).collect()
    assert len(out) == 1
    assert out[0]["ad_id"] == 1 and out[0]["r_ad_id"] == 1


def test_stream_stream_left_outer_emits_unmatched(spark, tdir):
    # B37' leftOuter: an impression with no click must emit with nulls
    # once the watermark passes its eviction point -- which requires a
    # LATER batch to advance the watermark (checkpointed second trigger)
    import json
    import os

    imp_dir, clk_dir, ck = f"{tdir}/o_imps", f"{tdir}/o_clicks", f"{tdir}/o_ck"
    os.makedirs(imp_dir)
    os.makedirs(clk_dir)
    with open(f"{imp_dir}/a.json", "w") as f:
        f.write(json.dumps({"ad_id": 1, "ts": "2024-01-01 00:00:00"}) + "\n")
        f.write(json.dumps({"ad_id": 2, "ts": "2024-01-01 00:00:00"}) + "\n")
    with open(f"{clk_dir}/a.json", "w") as f:
        # ad 1 clicks in-window; ad 2 never clicks
        f.write(json.dumps({"r_ad_id": 1, "rts": "2024-01-01 00:03:00"}) + "\n")

    out = f"{tdir}/o_out"

    def run_once():
        imps = spark.readStream.schema("ad_id long, ts timestamp").json(imp_dir)
        clicks = spark.readStream.schema("r_ad_id long, rts timestamp").json(clk_dir)
        joined = windows.join_streams(imps, clicks, "ad_id", how="leftOuter")
        q = (
            joined.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return spark.read.parquet(out).collect()

    run_once()  # batch 1: the match emits; the unmatched row is held in state
    # second batch far in the future advances the watermark past ad 2's
    # eviction point (10 min watermark + 5 min window)
    with open(f"{clk_dir}/b.json", "w") as f:
        f.write(json.dumps({"r_ad_id": 9, "rts": "2024-01-01 01:00:00"}) + "\n")
    with open(f"{imp_dir}/b.json", "w") as f:
        f.write(json.dumps({"ad_id": 9, "ts": "2024-01-01 01:00:00"}) + "\n")
    second = run_once()

    got = {(r["ad_id"], r["r_ad_id"]) for r in second}
    assert (1, 1) in got  # matched pair
    assert (2, None) in got  # unmatched impression emitted with nulls


def test_join_streams_rejects_missing_right_columns(spark):
    left = spark.createDataFrame([], "ad_id long, ts timestamp")
    right = spark.createDataFrame([], "other long, later timestamp")
    with pytest.raises(ValueError, match="right stream has neither"):
        windows.join_streams(left, right, "ad_id")


def test_stateful_op_on_rocksdb_state_store(spark, tdir):
    # SURVEY §4.3: at 100 TB streaming state outgrows the JVM heap —
    # the RocksDB provider spills to local disk with changelog
    # checkpointing.  Run a real stateful op (watermarked dedup) with
    # the provider enabled and prove it engaged (SST files in the
    # checkpoint state dir), not just that the conf was set.
    import os

    drop, ck = f"{tdir}/rocks_drop", f"{tdir}/rocks_ck"
    os.makedirs(drop)
    events = _load_fixture_events()
    _drop_events_file(drop, events + events)  # dupes within the batch
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        stream = cdc.read_change_stream(spark, drop).withColumn(
            "ts", F.timestamp_seconds(F.col("seq") * 60)
        )
        deduped = cdc.streaming_dedup(stream, ["seq"], "ts", "10 minutes")
        name = f"rocks_{uuid.uuid4().hex[:8]}"
        q = (
            deduped.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        assert spark.table(name).count() == len(events)
        ssts = [
            f
            for root, _, files in os.walk(f"{ck}/state")
            for f in files
            if f.endswith(".sst") or f.endswith(".zip")
        ]
        assert ssts, "no RocksDB SST/snapshot files in checkpoint state dir"
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)


def test_stream_stream_full_outer_emits_both_sides(spark, tdir):
    # B37″ fullOuter: unmatched rows from BOTH streams emit with nulls
    # after watermark eviction — the reconciliation-join shape (e.g.
    # orders vs payments feeds where either side can be missing)
    import json
    import os

    l_dir, r_dir, ck = f"{tdir}/fo_l", f"{tdir}/fo_r", f"{tdir}/fo_ck"
    os.makedirs(l_dir)
    os.makedirs(r_dir)
    with open(f"{l_dir}/a.json", "w") as f:
        f.write(json.dumps({"ad_id": 1, "ts": "2024-01-01 00:00:00"}) + "\n")
        f.write(json.dumps({"ad_id": 2, "ts": "2024-01-01 00:00:00"}) + "\n")
    with open(f"{r_dir}/a.json", "w") as f:
        # ad 1 matches; ad 3 has a right row with NO left impression
        f.write(json.dumps({"r_ad_id": 1, "rts": "2024-01-01 00:03:00"}) + "\n")
        f.write(json.dumps({"r_ad_id": 3, "rts": "2024-01-01 00:03:00"}) + "\n")

    out = f"{tdir}/fo_out"

    def run_once():
        left = spark.readStream.schema("ad_id long, ts timestamp").json(l_dir)
        right = spark.readStream.schema("r_ad_id long, rts timestamp").json(r_dir)
        joined = windows.join_streams(left, right, "ad_id", how="fullOuter")
        q = (
            joined.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return spark.read.parquet(out).collect()

    run_once()
    # advance both watermarks past every eviction point
    with open(f"{l_dir}/b.json", "w") as f:
        f.write(json.dumps({"ad_id": 9, "ts": "2024-01-01 01:00:00"}) + "\n")
    with open(f"{r_dir}/b.json", "w") as f:
        f.write(json.dumps({"r_ad_id": 9, "rts": "2024-01-01 01:00:00"}) + "\n")
    second = run_once()

    got = {(r["ad_id"], r["r_ad_id"]) for r in second}
    assert (1, 1) in got  # matched pair
    assert (2, None) in got  # left-unmatched emitted
    assert (None, 3) in got  # right-unmatched emitted


def test_merge_stream_error_channel(spark, tdir):
    """Unknown-eventName, corrupt, and keyless events land in
    errors_dir as NDJSON; only mergeable rows reach the table, and
    error-only content cannot force bucket rewrites."""
    import os

    drop, table, ck = f"{tdir}/edrop", f"{tdir}/etable", f"{tdir}/eck"
    errors = f"{tdir}/errors"
    os.makedirs(drop)
    _drop_events_file(
        drop,
        [
            {"eventName": "INSERT", "seq": 1,
             "newImage": {"id": "a", "price": 1.0, "shares": 1}, "removedId": None},
            {"eventName": "UPSERT", "seq": 2,
             "newImage": {"id": "b", "price": 2.0, "shares": 1}, "removedId": None},
            {"eventName": "INSERT", "seq": 3, "newImage": None, "removedId": None},
        ],
    )
    q = cdc.start_merge_stream(
        cdc.read_change_stream(spark, drop), table, ck, errors_dir=errors
    )
    q.awaitTermination(120)
    got = cdc.read_merge_table(spark, table)
    assert got.count() == 1 and got.first()["id"] == "a"
    err = spark.read.json(errors)
    assert err.count() == 2
    assert sorted(r["seq"] for r in err.collect()) == [2, 3]


def test_append_stream_with_errors_is_exactly_once_on_replay(spark, tdir):
    """Advisory r3 (medium): enabling errors_dir must not downgrade the
    DATA output to at-least-once.  Each batch overwrites its own
    batch_id=N subdir, so replaying the same batch (crash before the
    checkpoint commit, simulated by wiping the checkpoint) converges
    instead of duplicating rows."""
    import os

    drop, out, ck = f"{tdir}/drop", f"{tdir}/out", f"{tdir}/ck"
    errors = f"{tdir}/errors"
    os.makedirs(drop)
    _drop_events_file(
        drop,
        [
            {"eventName": "INSERT", "seq": 1,
             "newImage": {"id": "a", "price": 1.0, "shares": 1}, "removedId": None},
            {"eventName": "BOGUS", "seq": 2,
             "newImage": {"id": "b", "price": 2.0, "shares": 1}, "removedId": None},
        ],
    )
    q = cdc.start_append_stream(
        cdc.read_change_stream(spark, drop), out, ck, errors_dir=errors
    )
    q.awaitTermination(120)
    first = spark.read.parquet(out).drop("batch_id")
    assert first.count() == 1 and first.first()["id"] == "a"

    # replay batch 0: fresh checkpoint, same source → same batch_id
    shutil.rmtree(ck)
    q = cdc.start_append_stream(
        cdc.read_change_stream(spark, drop), out, f"{tdir}/ck2", errors_dir=errors
    )
    q.awaitTermination(120)
    again = spark.read.parquet(out).drop("batch_id")
    assert again.count() == 1, "replayed batch duplicated data rows"
    # the diagnostics feed is allowed to duplicate (at-least-once)
    assert spark.read.json(errors).count() >= 1
