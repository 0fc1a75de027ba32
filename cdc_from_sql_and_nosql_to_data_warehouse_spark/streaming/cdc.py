"""CDC core — change-event model and apply semantics (SURVEY.md §2.1
A8-A17, §3.2), shared between batch and streaming.

The reference's NoSQL pipeline: DynamoDB stream records
{eventName ∈ {INSERT, MODIFY, REMOVE}, newImage} are filtered
(REMOVE dropped, unknown → error,
reference: source/write_dynamodb_stream_to_s3_lambda/handler.py:27-38),
staged as NDJSON files with timestamped names (:40-58), and blindly
COPY-appended into the warehouse (load_s3_files…/handler.py:54-71) —
so duplicates accumulate and deletes never propagate (README.md:30).

This module implements BOTH semantics:
- ``append`` mode reproduces the reference (duplicates accumulate,
  REMOVE dropped);
- ``merge`` mode is the corrected apply: per-key latest-wins by
  sequence, REMOVE deletes.

All transformations are plain DataFrame→DataFrame functions, applied
identically to batch frames and to streaming micro-batches via
``foreachBatch`` — the Structured Streaming model (repo:PAPERS.md,
SIGMOD'18).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cdc_from_sql_and_nosql_to_data_warehouse_spark.sources.readers import TRADES_SCHEMA

ALLOWED_EVENTS = ("INSERT", "MODIFY")

# Change-event envelope (FIXTURES.md §1.3): seq is the monotonic
# per-key order carrier — in the reference it's the staged file's
# timestamped name (write_dynamodb_stream_to_s3_lambda/handler.py:47).
CHANGE_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("eventName", T.StringType(), False),
        T.StructField("seq", T.LongType(), False),
        T.StructField("newImage", TRADES_SCHEMA, True),
        T.StructField("removedId", T.StringType(), True),
    ]
)


def _ident(name: str) -> str:
    """``name`` as a backtick-quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def _str_lit(value: str) -> str:
    """``value`` as a single-quoted SQL string literal."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _key_carrier(key: str, removed_key: str = "removedId") -> str:
    """SQL expression: a change event's key — the image's ``key`` field,
    or ``removed_key`` for a REMOVE (whose image is null).  NULL marks a
    keyless event, which cannot merge."""
    return f"coalesce(newImage.{_ident(key)}, {_ident(removed_key)})"


def _events_in(names: tuple[str, ...]) -> str:
    """SQL predicate: ``eventName`` is one of ``names`` (NULL when the
    name is NULL)."""
    return "eventName IN ({})".format(", ".join(_str_lit(n) for n in names))


def split_change_events(
    events: DataFrame, allowed: tuple[str, ...] = ALLOWED_EVENTS, keep_remove: bool = False
) -> tuple[DataFrame, DataFrame]:
    """A10: keep INSERT/MODIFY (and REMOVE when merging), route unknown
    event names to an error channel instead of the reference's raise —
    a per-row raise would kill the whole job on one bad record at scale.

    The split is EXHAUSTIVE: a NULL eventName (decode_debezium maps
    unknown op codes to null exactly so it lands here; PERMISSIVE-mode
    corrupt NDJSON parses to all-null rows) fails ``IN`` with NULL,
    which a plain ``NOT IN`` filter would also drop — so the invalid
    side null-coalesces the predicate and catches everything the valid
    side doesn't (review-caught: events vanishing from BOTH channels)."""
    known = allowed + (("REMOVE",) if keep_remove else ())
    valid = events.filter(_events_in(known))
    invalid = events.filter(f"NOT coalesce({_events_in(allowed + ('REMOVE',))}, false)")
    return valid, invalid


def latest_wins(
    df: DataFrame, key: str, seq: str = "seq", tiebreak: list[str] | None = None
) -> DataFrame:
    """A8 upsert semantics as a batch op: one row per key, max-seq image.
    Single shuffle on the key; at 100 TB pre-bucketing the table by the
    key makes this shuffle-free.  ``tiebreak`` appends deterministic
    secondary sort terms, as SQL ``ORDER BY`` items (e.g.
    ``"__is_remove DESC"``), for sources whose seq can collide (e.g.
    Debezium ts_ms — two same-millisecond changes to one key); without
    one, equal-seq winners are partitioning-dependent."""
    order = ", ".join([f"{_ident(seq)} DESC", *(tiebreak or [])])
    return (
        df.selectExpr(
            "*", f"row_number() OVER (PARTITION BY {_ident(key)} ORDER BY {order}) AS __rn"
        )
        .filter("__rn = 1")
        .drop("__rn")
    )


# Target base rows merge at a sentinel BELOW any valid event seq, so a
# real change at seq=0 (or any seq) deterministically beats the base row
# instead of tying with it.
_BASE_SEQ = -(2**63)


def _sql_type(dt: T.DataType) -> str:
    """``dt`` as a SQL type string that parses back to ``dt`` up to
    nullability (nested field names quoted; ``simpleString`` leaves
    them bare)."""
    if isinstance(dt, T.StructType):
        fields = ",".join(f"{_ident(f.name)}:{_sql_type(f.dataType)}" for f in dt.fields)
        return f"struct<{fields}>"
    if isinstance(dt, T.ArrayType):
        return f"array<{_sql_type(dt.elementType)}>"
    if isinstance(dt, T.MapType):
        return f"map<{_sql_type(dt.keyType)},{_sql_type(dt.valueType)}>"
    return dt.simpleString()


def apply_changes(
    target: DataFrame | None,
    changes: DataFrame,
    key: str = "id",
    seq: str = "seq",
    mode: str = "merge",
    removed_key: str = "removedId",
) -> DataFrame:
    """Apply a batch of change events to a (possibly empty) target.

    ``append``: reference semantics — INSERT/MODIFY images appended
    blindly, REMOVE dropped, duplicates accumulate (A14).
    ``merge``: corrected semantics — per-key latest event wins; a
    REMOVE as the latest event deletes the key (B36).  The target is a
    keyed table (one row per key): its rows enter at the ``_BASE_SEQ``
    sentinel, which no event ties with.

    ``key`` names the merge column both inside ``newImage`` and on the
    target; ``removed_key`` is the top-level column carrying the key of
    a REMOVE event (whose newImage is null).

    The plan is built from SQL strings: identifiers are backtick-quoted
    (``_ident``) and field names are passed as escaped string literals
    (``_str_lit``).
    """
    if mode not in ("append", "merge"):
        raise ValueError(f"unknown apply mode: {mode}")

    if mode == "append":
        valid, _ = split_change_events(changes, keep_remove=False)
        images = valid.select(F.col("newImage.*"))
        return target.unionByName(images) if target is not None else images

    valid, _ = split_change_events(changes, keep_remove=True)
    event_cols = [
        f"{_key_carrier(key, removed_key)} AS __key",
        f"{_ident(seq)} AS __seq",
        "eventName = 'REMOVE' AS __is_remove",
    ]
    # an event with a known name but NO key carrier (null image AND null
    # removedId) cannot be merged — excluding it here keeps the single
    # NULL "key" from collecting garbage rows; the streaming sinks route
    # such rows to the error channel BEFORE apply (errors_dir)
    if target is None:
        flat = valid.selectExpr(*event_cols, "newImage AS __img").filter(
            "__key IS NOT NULL"
        )
    else:
        # ADDITIVE schema evolution: the change images and the target
        # may each carry columns the other lacks (a new column added
        # upstream, or a legacy column no longer sent).  Align both
        # __img structs to the UNION of field names, null-filling the
        # missing side, so the union below cannot fail with
        # INCOMPATIBLE_COLUMN_TYPE and a later-added column survives
        # the merge instead of wedging the stream.  Type CHANGES to an
        # existing column are not resolved here (they still fail
        # loudly — silent cast-widening hides real producer bugs).
        img_schema = {
            f.name: f.dataType
            for f in valid.schema["newImage"].dataType.fields
        }
        tgt_schema = {f.name: f.dataType for f in target.schema.fields}
        all_names = list(img_schema) + [c for c in tgt_schema if c not in img_schema]

        def _aligned(schema: dict, prefix: str) -> str:
            return "named_struct({}) AS __img".format(
                ", ".join(
                    _str_lit(name)
                    + ", "
                    + (
                        prefix + _ident(name)
                        if name in schema
                        else "CAST(NULL AS {})".format(
                            _sql_type(img_schema.get(name) or tgt_schema[name])
                        )
                    )
                    for name in all_names
                )
            )

        base = target.selectExpr(
            f"{_ident(key)} AS __key",
            f"{_BASE_SEQ}L AS __seq",
            "false AS __is_remove",
            _aligned(tgt_schema, ""),
        )
        flat = base.unionByName(
            valid.selectExpr(
                *event_cols, _aligned(img_schema, "newImage.")
            ).filter("__key IS NOT NULL")
        )
    # seq ties resolve deterministically: REMOVE beats an image at the
    # same seq (delete-wins, the conservative CDC resolution — a
    # resurrected deleted row is worse than a dropped same-instant
    # update), then a content hash so equal-seq EVENT images are never
    # partitioning-dependent.  Base rows skip the hash (most rows of an
    # incremental merge window are base rows): that is deterministic
    # only for a keyed target, one row per key — two target rows with
    # one key would tie at the sentinel seq with no tiebreak.
    return (
        latest_wins(
            flat,
            "__key",
            "__seq",
            tiebreak=[
                "__is_remove DESC",
                f"CASE WHEN __seq = {_BASE_SEQ}L THEN 0L "
                "ELSE xxhash64(to_json(__img)) END DESC",
            ],
        )
        .filter("NOT __is_remove")
        .select("__img.*")
    )


def snapshot_union_cdc(
    snapshot: DataFrame, changes: DataFrame, key: str = "id", seq: str = "seq"
) -> DataFrame:
    """A17 full-load-and-cdc: initial snapshot overridden by any later
    change images (DMS migration_type='full-load-and-cdc',
    reference: cdk_infrastructure/__init__.py:260).  The snapshot must
    be keyed, one row per key, as ``apply_changes`` requires: the winner
    among duplicate snapshot rows of a key no change touches is
    partitioning-dependent."""
    return apply_changes(snapshot, changes, key=key, seq=seq, mode="merge")


# ------------------------------------------------------------ streaming


def read_change_stream(
    spark: SparkSession, drop_dir: str, max_files_per_trigger: int = 100
) -> DataFrame:
    """A9: micro-batch change-stream source — a file-drop folder stands
    in for the DynamoDB stream / S3 staging protocol (one NDJSON file
    per tick, reference handler.py:44-58).  maxFilesPerTrigger mirrors
    the reference's batch_size=100 event-source mapping
    (cdk_infrastructure/__init__.py:441)."""
    return (
        spark.readStream.schema(CHANGE_EVENT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(drop_dir)
    )


def start_append_stream(
    changes: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    errors_dir: str | None = None,
):
    """A12/A14 append mode as a streaming sink: filtered change images
    appended to parquet; the checkpoint replaces the reference's
    move-to-processed file state machine (A15) — offsets make replay
    idempotent without renaming files.

    ``errors_dir``: where unknown/corrupt events land as NDJSON (the
    error channel made REAL — a split whose invalid side is discarded
    is silent data loss with extra steps).  foreachBatch is used so
    both sides of the split write from one micro-batch.  The DATA side
    stays exactly-once under replay: each batch OVERWRITES its own
    ``batch_id=N`` partition subdir, so a crash after the write but
    before the checkpoint commit converges on redo instead of
    duplicating rows (a plain ``mode('append')`` here silently
    downgraded the main output to at-least-once; advisory r3).  Read
    the table with ``spark.read.parquet(out_dir)`` — partition
    discovery exposes ``batch_id`` as an extra bigint column (drop it,
    or keep it as free write lineage).  Error writes remain
    at-least-once (append), the right trade for a diagnostics feed."""
    if errors_dir is None:
        valid, _ = split_change_events(changes)
        images = valid.select(F.col("newImage.*"))
        writer = (
            images.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("append")
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def _append(batch: DataFrame, batch_id: int) -> None:
        # persist: the two sink actions below would otherwise each
        # re-scan the micro-batch's source files (measured: doubled
        # numInputRows and doubled feed I/O in tools/stream_bench.py)
        batch = batch.persist()
        try:
            valid, invalid = split_change_events(batch)
            invalid.write.mode("append").json(errors_dir)
            valid.select(F.col("newImage.*")).write.mode("overwrite").parquet(
                f"{out_dir}/batch_id={batch_id}"
            )
        finally:
            batch.unpersist()

    writer = changes.writeStream.foreachBatch(_append).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _key_bucket(key_sql: str, n_buckets: int) -> str:
    """Stable key→bucket mapping as a SQL expression over ``key_sql``
    (xxhash64 is deterministic across sessions/partitionings, unlike
    monotonically_increasing_id)."""
    return f"CAST(pmod(xxhash64(CAST({key_sql} AS STRING)), {n_buckets}) AS INT)"


# Schema sidecar: the merged table's StructType as JSON, read with
# plain Python.  It keeps an all-keys-REMOVEd version (zero parquet
# files) readable as a typed empty frame, and it spares every read of
# the table a parquet schema-inference job.
_SCHEMA_FILE = "_schema.json"


def _read_schema(table_dir: str) -> T.StructType | None:
    """The table's schema sidecar; None before the first merge."""
    try:
        with open(os.path.join(table_dir, _SCHEMA_FILE)) as fh:
            return T.StructType.fromJson(json.load(fh))
    except FileNotFoundError:
        return None


def _write_schema(table_dir: str, schema: T.StructType) -> None:
    """Replace the sidecar atomically: write a temp file, fsync it, then
    ``os.replace`` it into place, so a reader sees the old or the new
    schema and never a partial file.  The rename is made durable by the
    directory fsync of the pointer flip that follows it."""
    path = os.path.join(table_dir, _SCHEMA_FILE)
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        fh.write(schema.json())
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, path)


def read_merge_table(spark: SparkSession, table_dir: str) -> DataFrame:
    """Read a merge-mode target without its internal bucket column.

    PURE READ: resolves the version pointer and reads that immutable
    version directory — no repair, no mutation, no race with a live
    writer (the prior two-rename swap protocol let a concurrent
    reader's repair pass delete a writer's in-flight temp, silently
    destroying a bucket; review-caught, eliminated by construction
    here).  The ``_schema.json`` sidecar keeps an all-keys-REMOVEd
    table readable as an empty frame, and with it the read launches no
    Spark job before its action (no schema inference)."""
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.sources import versioned as V

    committed = V.current_version(table_dir)
    if committed < 1:
        raise FileNotFoundError(f"merge table {table_dir} has no published version")
    vdir = os.path.join(table_dir, f"_v{committed}")
    schema = _read_schema(table_dir)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(vdir).drop("__bucket")


def start_merge_stream(
    changes: DataFrame,
    table_dir: str,
    checkpoint_dir: str,
    key: str = "id",
    available_now: bool = True,
    n_buckets: int = 16,
    errors_dir: str | None = None,
    keep_versions: int = 2,
):
    """B36 apply-changes via foreachBatch, INCREMENTAL: the target is
    hash-partitioned on ``__bucket = xxhash64(key) % n_buckets`` and
    each micro-batch merges + rewrites ONLY the buckets containing the
    batch's keys.  Per-batch I/O is O(touched buckets), not O(table) —
    a full-table read-modify-write per micro-batch is the classic
    100 TB killer (on a lakehouse this same body is a Delta/Iceberg
    MERGE, which prunes files the same way).

    Publication uses the VERSIONED-TABLE protocol (sources/versioned):
    each batch stages a complete new version — rewritten touched
    buckets plus HARD LINKS to the untouched buckets' files (metadata
    cost only) — then flips the pointer atomically.  Readers resolve
    the pointer, so there is no crash window and no reader/writer
    race; a crash anywhere before the flip leaves the table at the
    prior version, and checkpoint replay of the idempotent latest-wins
    merge converges.  Old versions are vacuumed down to
    ``keep_versions`` (hard links make them near-free while present).
    The staged write skips ``_SUCCESS``: the pointer is the commit
    marker.

    Per-tick cost.  A warm tick launches at most 5 Spark jobs (pinned
    by tests/test_streaming.py): AQE materializes the cached micro-batch
    in one job, then the touched-bucket aggregate and the merge write
    each run a shuffle-map job and a result job.  None is a
    schema-inference job — the schema comes from the ``_schema.json``
    sidecar.  What is left is dominated by the number
    of files a tick creates, not by rows: Hadoop's local filesystem
    without its native library forks ``chmod`` for every create and
    mkdir (~6.8 ms per setPermission, ~11.6 ms per create+close).
    Measured on a 4-core VM at local[3], writing 6,500 rows as 16
    bucket files took ~415 ms against ~130–160 ms as one file, i.e.
    ~18 ms per extra bucket directory plus file; spreading the write
    over 3 tasks did not help (446–490 ms), because the cost is per
    file, not per row.  Packing the touched buckets into fewer files
    per tick is therefore the next lever; it needs a per-version file
    manifest in place of the one-directory-per-bucket layout.

    Error channel: unknown-eventName, corrupt (all-null), and
    keyless-but-valid events are excluded from the merge and appended
    to ``errors_dir`` as NDJSON when given (at-least-once on replay).
    """
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.sources import versioned as V

    batch_key = _key_carrier(key)

    def _merge(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        batch = batch.persist()
        try:
            valid, invalid = split_change_events(batch, keep_remove=True)
            if errors_dir is not None:
                keyless = valid.filter(f"{batch_key} IS NULL")
                invalid.unionByName(keyless).write.mode("append").json(errors_dir)
            valid = valid.filter(f"{batch_key} IS NOT NULL")
            # touched buckets from the rows that will actually merge —
            # error rows must not force no-op bucket rewrites
            touched = sorted(
                valid.selectExpr(f"collect_set({_key_bucket(batch_key, n_buckets)})")
                .collect()[0][0]
            )
            if not touched:
                return
            os.makedirs(table_dir, exist_ok=True)
            committed = V.current_version(table_dir)
            V._clean_orphans(table_dir, committed)
            cur_dir = os.path.join(table_dir, f"_v{committed}")
            schema = _read_schema(table_dir)
            if committed >= 1:
                # read with the sidecar schema (mirrors read_merge_table):
                # an all-keys-REMOVEd version holds zero parquet files,
                # and schema inference over it raises
                # UNABLE_TO_INFER_SCHEMA — which wedged the stream
                # forever under checkpoint replay (advisory r3)
                cur_reader = spark.read if schema is None else spark.read.schema(schema)
                # partition pruning: only the touched bucket dirs are read
                current = (
                    cur_reader.parquet(cur_dir)
                    .filter(f"__bucket IN ({', '.join(map(str, touched))})")
                    .drop("__bucket")
                )
            else:
                current = None
            merged = apply_changes(current, valid, key=key, mode="merge").selectExpr(
                "*", f"{_key_bucket(_ident(key), n_buckets)} AS __bucket"
            )
            n = committed + 1
            staging = os.path.join(table_dir, f"{V._TMP_PREFIX}{n}")
            (
                merged.write.mode("overwrite")
                .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
                .partitionBy("__bucket")
                .parquet(staging)
            )
            if committed >= 1:
                for entry in os.listdir(cur_dir):
                    if not entry.startswith("__bucket="):
                        continue
                    if int(entry.split("=", 1)[1]) in touched:
                        continue
                    V.link_tree(
                        os.path.join(cur_dir, entry), os.path.join(staging, entry)
                    )
            # schema sidecar: REFRESHED whenever the merged schema's
            # shape differs (a write-once sidecar pinned the first
            # batch's schema forever and silently nulled later-added
            # columns; advisory r3).  simpleString ignores nullability,
            # which churns across parquet round-trips.  Replaced before
            # the version is published: additive evolution keeps the
            # prior version readable under the new schema.
            merged_schema = merged.schema
            if schema is None or schema.simpleString() != merged_schema.simpleString():
                _write_schema(table_dir, merged_schema)
            os.rename(staging, os.path.join(table_dir, f"_v{n}"))
            V.flip_pointer(table_dir, n)
            V.vacuum(table_dir, keep_last=keep_versions)
        finally:
            batch.unpersist()

    writer = changes.writeStream.foreachBatch(_merge).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# -------- streaming ANN-index maintenance (q_sim_index_incremental's
# streaming twin: the same frozen-codebook delta re-encode, executed
# through the real CDC merge pipeline)

VECTOR_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("eventName", T.StringType(), False),
        T.StructField("seq", T.LongType(), False),
        T.StructField(
            "newImage",
            T.StructType(
                [
                    T.StructField("vec_id", T.StringType(), False),
                    T.StructField(
                        "embedding", T.ArrayType(T.FloatType()), False
                    ),
                ]
            ),
            True,
        ),
        T.StructField("removedId", T.StringType(), True),
    ]
)


def read_vector_change_stream(
    spark: SparkSession, drop_dir: str, max_files_per_trigger: int = 100
) -> DataFrame:
    """Embedding change-stream source: the vector twin of
    read_change_stream (same envelope, newImage carries the raw
    embedding instead of a trade row)."""
    return (
        spark.readStream.schema(VECTOR_EVENT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(drop_dir)
    )


def encode_vector_changes(changes: DataFrame, codebook_literal) -> DataFrame:
    """Streaming ANN-index maintenance, step 1: map vector change
    events to CODE-TABLE change events by re-encoding each new/changed
    embedding against the FROZEN codebook literal
    (operators.mlprep.pq_codebook_literal).  A PURE PROJECTION — no
    join, no aggregation — so it is legal on an unbounded stream with
    no watermark/state; REMOVEs (null newImage) pass through.  Compose
    with ``start_merge_stream(key="vec_id")`` and the maintained PQ
    index advances exactly like any other CDC-merged table: bucket-
    incremental, versioned, crash-safe.  Equivalence to the batch
    operator (q_sim_index_incremental) is pinned end-to-end in
    tests/test_stream_index_round9.py."""
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators.mlprep import (
        pq_encode_expr,
    )

    return changes.withColumn(
        "newImage",
        F.when(
            F.col("newImage").isNotNull(),
            F.struct(
                F.col("newImage.vec_id").alias("vec_id"),
                pq_encode_expr(codebook_literal, "newImage.embedding").alias(
                    "codes"
                ),
            ),
        ),
    )


def streaming_dedup(changes: DataFrame, key_cols: list[str], watermark_col: str, delay: str):
    """B35: watermark-scoped streaming dedup — state is bounded by the
    watermark horizon (dedup-forever state is unbounded at 100 TB;
    SURVEY.md §7.4.5).

    Uses ``dropDuplicatesWithinWatermark``: plain ``dropDuplicates``
    on a key subset that EXCLUDES the event-time column never evicts
    its state even under a watermark (the documented Spark gap the
    WithinWatermark variant exists to close; review-caught) — keyed on
    ``seq`` alone it would grow one state entry per event forever."""
    return changes.withWatermark(watermark_col, delay).dropDuplicatesWithinWatermark(
        key_cols
    )


def is_stream_active(spark: SparkSession, name: str) -> bool:
    """A19 idempotent stream-job control: start only when not already
    running (reference checks DMS task status before StartReplicationTask,
    source/start_dms_replication_task_lambda/handler.py:60-79)."""
    return any(q.name == name for q in spark.streams.active)


def count_parity(source: DataFrame, target: DataFrame) -> DataFrame:
    """A20 COUNT(*) parity metric — implemented as intended (the
    reference executes but never fetches the target count; we return
    both plus lag)."""
    s = source.agg(F.count(F.lit(1)).alias("source_rows"))
    t = target.agg(F.count(F.lit(1)).alias("target_rows"))
    return s.crossJoin(t).select(
        "source_rows", "target_rows", (F.col("source_rows") - F.col("target_rows")).alias("row_lag")
    )


def retention_filter(df: DataFrame, ts_col: str, max_age: str) -> DataFrame:
    """A16 retention/TTL: keep rows younger than the horizon (the S3
    lifecycle expiry analog, cdk_infrastructure/__init__.py:380-388).
    With ingest-date partitioning this prunes whole partitions."""
    return df.filter(F.col(ts_col) >= F.current_timestamp() - F.expr(f"INTERVAL {max_age}"))
