"""Structured Streaming jobs — the reference's ingest path, Spark-first.

Reference behavior being rebuilt (SURVEY.md §2.9):
- continuous Kafka JSON ingest with declared schema, malformed drop +
  DLQ audit (create.sql:72-121,120; sink_telematics_raw_dlq.sql:47-69)
- checkpointed sink committing every 300 s
  (sink_telematics_real_time.sql:8-12)
- processing-time stamping (ST5), arrival-day partitioning (ST6)
- plus the watermark/window/session surface the reference lacks but the
  engine exposes (ST7).

Source abstraction: jobs take a *source factory* so production wires
``readStream.format("kafka")`` (build_kafka_reader) while tests use the
file source over the same fixtures — identical downstream plan, which
is the point of Structured Streaming's unified model.

Delivery: the ingest sink (:func:`run_ingest_to_table`) is
at-least-once.  It appends each micro-batch from ``foreachBatch``, so a
replayed epoch appends its rows again; both copies carry the same
``ingest_epoch``, so a reader dedupes by (``correlation_id``,
``ingest_epoch``).
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datalakehouse_spark.io import canonical_events_ts
from datalakehouse_spark.pipelines.ingest import normalize_events

#: Wire schema of the legacy events fixture's parquet files (ts as raw
#: ns long, matching spark.sql.legacy.parquet.nanosAsLong).
EVENTS_WIRE_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

#: Wire schema of the current events fixture (ts stored as parquet
#: TIMESTAMP(MICROS); declaring TimestampType reads it as a session-UTC
#: timestamp — the engine's canonical ts type).
EVENTS_WIRE_SCHEMA_TS = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def _wire_ts_is_timestamp(path: str) -> bool:
    """Sniff whether the events files store ts as a parquet timestamp
    (current fixtures) or a raw int64 ns (legacy / test-written files).

    A streaming source needs a DECLARED schema, so the generation must
    be decided up front; one parquet footer read (driver-side, O(KB))
    settles it.  Defaults to the current timestamp generation when no
    file exists yet; if files EXIST but none could be sniffed (corrupt
    footers, permissions), that default is a guess about real data —
    warn rather than silently misread the stream.
    """
    import glob as globmod

    import pyarrow.lib
    import pyarrow.parquet as pq

    candidates: list[str] = []
    for pat in (path, os.path.join(path, "*.parquet"), os.path.join(path, "**", "*.parquet")):
        candidates.extend(sorted(globmod.glob(pat, recursive=True)))
    files = [c for c in candidates if not os.path.isdir(c)]
    for c in files:
        try:
            schema = pq.read_schema(c)
        except (OSError, pyarrow.lib.ArrowInvalid, pyarrow.lib.ArrowIOError):
            # only the expected footer-read failures; anything else
            # (KeyError from a missing ts field, etc.) is a schema bug
            # that should surface, not default silently
            continue
        if "ts" not in schema.names:
            continue
        return str(schema.field("ts").type).startswith("timestamp")
    if files:
        import warnings

        warnings.warn(
            f"events wire-schema sniff: {len(files)} parquet file(s) under "
            f"{path!r} but none yielded a readable 'ts' field; defaulting to "
            "the TIMESTAMP(MICROS) generation — verify the source layout if "
            "the stream misreads ts.",
            RuntimeWarning,
            stacklevel=2,
        )
    return True

#: Declared schema for the JSON payload carried in `props` (the
#: from_json/DLQ split contract, ST4).
PROPS_SCHEMA = T.StructType([T.StructField("k", T.LongType())])


#: Bundled RocksDB state-store provider — the production choice once
#: per-partition state exceeds executor heap (spills to local disk,
#: incremental changelog checkpointing).  Measured on the fixtures the
#: HDFS-backed default is equal-or-faster (state is tiny; drain cost is
#: micro-batch startup), so RocksDB stays an explicit opt-in knob.
ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


@contextmanager
def drain_confs(
    spark: SparkSession, shuffle_partitions: int = 8, state_store: str | None = None
):
    """Bounded-overhead session confs for ``availableNow`` drains.

    Stateful streaming operators create one state-store instance per
    shuffle partition per operator; a vanilla session's 200 partitions
    means 200+ tiny state stores for a fixture-sized drain — pure
    overhead locally, and an explicit knob (not a default) on a real
    cluster where state volume dictates the partition count.

    ``state_store="rocksdb"`` switches the provider to RocksDB for the
    queries started inside the block (large-state posture; see
    ROCKSDB_PROVIDER).

    Save-restore is SOUND here (unlike for lazy batch plans): streaming
    confs are read when the query STARTS, and a drain runs start →
    awaitTermination entirely inside the ``with`` block, so the
    restored value never affects the running query and nothing leaks
    into the shared session afterwards.
    """
    wanted = {"spark.sql.shuffle.partitions": str(shuffle_partitions)}
    if state_store == "rocksdb":
        wanted["spark.sql.streaming.stateStore.providerClass"] = ROCKSDB_PROVIDER
    elif state_store is not None:
        wanted["spark.sql.streaming.stateStore.providerClass"] = state_store
    saved: dict[str, str | None] = {}
    for key, val in wanted.items():
        try:
            saved[key] = spark.conf.get(key)
        except Exception:
            saved[key] = None
        spark.conf.set(key, val)
    try:
        yield
    finally:
        for key, old in saved.items():
            if old is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, old)


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source streaming twin of load_table(..., 'events')."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # the file stream source wants a directory/glob, and the fixture dir
    # holds every table -> glob the events file specifically
    path = sf_dir if sf_dir.endswith(".parquet") else os.path.join(sf_dir, "events*.parquet")
    ts_native = _wire_ts_is_timestamp(path)
    raw = (
        spark.readStream.schema(EVENTS_WIRE_SCHEMA_TS if ts_native else EVENTS_WIRE_SCHEMA)
        .option("maxFilesPerTrigger", 1)  # bounded per-batch work (ST8 analog)
        .parquet(path)
    )
    return canonical_events_ts(raw)


def build_kafka_reader(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = 500_000,
    source_format: str = "kafka",
):
    """Production source: Kafka JSON topic -> Kafka wire columns.

    Mirrors the reference's consumer tuning surface (create.sql:103-113):
    group-offsets resume == checkpoint-tracked offsets; fetch caps ==
    maxOffsetsPerTrigger.  The real ``format("kafka")`` needs the
    connector jar (not shipped in this container); ``source_format=
    "filebus"`` swaps in the pure-Python broker emulator
    (:mod:`datalakehouse_spark.sources.filebus`, registered via
    ``register_filebus``) which accepts the IDENTICAL option keys —
    ``bootstrap_servers`` then names the bus root directory — and
    yields the identical Kafka wire schema, so THIS builder and the
    whole downstream parse plan are exercised live in-container
    (tests/test_filebus_stream.py), not via a twin function.
    """
    reader = (
        spark.readStream.format(source_format)
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
    )
    if max_offsets_per_trigger:
        reader = reader.option("maxOffsetsPerTrigger", str(max_offsets_per_trigger))
    return reader


def build_socket_reader(spark: SparkSession, host: str, port: int):
    """Live NETWORK streaming source over Spark's built-in socket
    reader — no connector jar required.

    Same unified-source contract as :func:`build_kafka_reader`: the
    payload arrives as one string column (``value``) and the identical
    ``from_json`` parse / DLQ split / normalize plan runs downstream,
    so swapping Kafka for a raw TCP feed (or the file twin the scored
    entries use) changes ONE builder call.  tests/test_socket_stream.py
    drives this against a real in-process TCP server, closing the
    live-network half of S1 that the Kafka probe documents as
    jar-blocked (the Kafka-specific remainder is protocol plumbing:
    offsets, partitions, consumer groups).  Socket is a dev/test
    source (no replay, at-most-once) — production stays on Kafka.
    """
    return (
        spark.readStream.format("socket")
        .option("host", host)
        .option("port", str(port))
    )


def run_ingest_to_table(
    spark: SparkSession,
    sf_dir: str,
    out_path: str,
    checkpoint: str,
    dlq_path: str | None = None,
) -> None:
    """Ingest job: stream -> normalize (+ DLQ split) -> partitioned
    at-least-once sink; availableNow drains everything then stops (the
    test/backfill trigger; production uses processingTime='300 seconds'
    per the reference checkpoint cadence).

    Each micro-batch is appended with its ``ingest_epoch``.  A replayed
    epoch (a restart after the write but before the checkpoint commit)
    appends its rows again under the same ``ingest_epoch``, so a reader
    dedupes by (``correlation_id``, ``ingest_epoch``)."""
    ev = events_stream(spark, sf_dir)

    def sink(batch: DataFrame, epoch_id: int) -> None:
        from datalakehouse_spark.pipelines.ingest import dlq_split

        good, dlq = dlq_split(batch, PROPS_SCHEMA, json_col="props")
        good = good.drop("k")  # parsed props field not part of the fact shape
        normalize_events(good).withColumn("ingest_epoch", F.lit(epoch_id)).write.mode(
            "append"
        ).partitionBy("received_day").parquet(out_path)
        if dlq_path:
            # DLQ: raw payload verbatim + processing-time stamps (ST4/ST5)
            dlq.write.mode("append").parquet(dlq_path)

    q = (
        ev.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_streaming_risk_upsert(
    spark: SparkSession,
    sf_dir: str,
    table_path: str,
    checkpoint: str,
) -> None:
    """Streaming upsert — the Flink PK-sink equivalent (SURVEY.md §4
    custom-glue (c)): Structured Streaming has no keyed-upsert sink, so
    each micro-batch recomputes the (device, day) aggregates it touched
    and MERGEs them into the keyed table via foreachBatch.

    Exactly-once: the MERGE is idempotent per (device_id, report_date),
    so epoch replays converge to the same table state. Note the
    per-batch recompute is correct here because a batch contains whole
    days' worth of fixture data; the production variant accumulates
    partial counts in state or re-reads the touched days from the fact
    table (the reference's 3-day arrival rescan, ST9).
    """
    from datalakehouse_spark.pipelines.risk_score import risk_score_daily
    from datalakehouse_spark.tables import ManagedTable

    table = ManagedTable(spark, table_path, partition_by=["report_date"])

    def sink(batch: DataFrame, epoch_id: int) -> None:
        scores = risk_score_daily(batch)
        if scores.isEmpty():
            return
        table.merge_upsert(scores, keys=["device_id", "report_date"])

    q = (
        events_stream(spark, sf_dir)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def windowed_counts_stream(events: DataFrame) -> DataFrame:
    """Event-time tumbling-window aggregate with watermark (ST7):
    1-hour windows per event_type, 2-hour lateness bound."""
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def session_window_stream(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Session windows per user (streaming twin of operators.relational
    .sessionize)."""
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.col("w.start").alias("session_start"), "n_events")
    )
