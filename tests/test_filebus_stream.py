"""Live end-to-end S1: the REAL readStream.format(...) path.

``build_kafka_reader`` runs UNCHANGED but for the format string,
against the pure-Python filebus broker emulator (Python DataSource V2)
— option parsing, per-partition offsets, checkpoint resume, admission
caps, and the Kafka wire schema all execute in-process, closing the
jar-gated half of S1 (reference create.sql:72-121: group-offsets
resume, earliest fallback, malformed drop)."""

import json
import os

import pytest
from pyspark.sql import functions as F

from datalakehouse_spark.sources.filebus import (
    FileBusProducer,
    register_filebus,
)
from datalakehouse_spark.streaming.jobs import build_kafka_reader

SCHEMA = "event_id LONG, user_id LONG, event_type STRING, value DOUBLE"


def _mk_bus(tmp_path, topic="events", partitions=3):
    root = str(tmp_path / "bus")
    prod = FileBusProducer(root)
    prod.create_topic(topic, partitions=partitions)
    return root, prod


def _send_events(prod, topic, ids, event_type="view"):
    for i in ids:
        prod.send(
            topic,
            json.dumps(
                {
                    "event_id": i,
                    "user_id": i % 7,
                    "event_type": event_type,
                    "value": i / 2.0,
                }
            ),
            key=f"u{i % 7}",
            ts_us=1_700_000_000_000_000 + i,
        )


def _drain(spark, reader, out_dir, ckpt):
    parsed = (
        reader.load()
        .select(F.col("value").cast("string").alias("raw"))
        .select("raw", F.from_json("raw", SCHEMA).alias("j"))
        .select("raw", "j.*")
    )
    q = (
        parsed.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_kafka_reader_path_end_to_end_with_resume(spark, tmp_path):
    """The production builder's reader path drains a live topic, then a
    SECOND run on the same checkpoint picks up ONLY the delta —
    group-offsets resume on the real offsets/checkpoint machinery."""
    register_filebus(spark)
    root, prod = _mk_bus(tmp_path)
    _send_events(prod, "events", range(20))
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    reader = build_kafka_reader(spark, root, "events", source_format="filebus")
    _drain(spark, reader, out, ckpt)
    got = spark.read.parquet(out)
    assert got.count() == 20
    assert set(r.event_id for r in got.select("event_id").collect()) == set(range(20))

    # append a delta; same checkpoint → only the delta lands
    _send_events(prod, "events", range(20, 25), event_type="purchase")
    reader2 = build_kafka_reader(spark, root, "events", source_format="filebus")
    _drain(spark, reader2, out, ckpt)
    got2 = spark.read.parquet(out)
    assert got2.count() == 25
    assert got2.where(F.col("event_type") == "purchase").count() == 5


def test_kafka_wire_schema_and_partition_routing(spark, tmp_path):
    """Batch read of the topic surfaces Kafka's exact wire schema; a
    keyed record lands on ONE deterministic partition (sticky
    key→partition routing)."""
    register_filebus(spark)
    root, prod = _mk_bus(tmp_path)
    for _ in range(4):
        prod.send("events", json.dumps({"event_id": 1}), key="same-key")
    df = (
        spark.read.format("filebus")
        .option("kafka.bootstrap.servers", root)
        .option("subscribe", "events")
        .load()
    )
    assert [f.name for f in df.schema.fields] == [
        "key", "value", "topic", "partition", "offset", "timestamp", "timestampType",
    ]
    rows = df.collect()
    assert len(rows) == 4
    assert len({r.partition for r in rows}) == 1  # sticky routing
    assert sorted(r.offset for r in rows) == [0, 1, 2, 3]
    assert all(bytes(r.key) == b"same-key" for r in rows)


def test_malformed_records_split_to_dlq_not_dropped_silently(spark, tmp_path):
    """create.sql's malformed-drop contract, on the real reader path:
    unparseable payloads split out (NULL parse), good rows survive."""
    register_filebus(spark)
    root, prod = _mk_bus(tmp_path)
    prod.send("events", json.dumps({"event_id": 1, "user_id": 1, "event_type": "v", "value": 1.0}))
    prod.send("events", "this is not json {")
    prod.send("events", json.dumps({"event_id": 2, "user_id": 2, "event_type": "v", "value": 2.0}))

    reader = build_kafka_reader(spark, root, "events", source_format="filebus")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    _drain(spark, reader, out, ckpt)
    got = spark.read.parquet(out)
    assert got.count() == 3
    good = got.where(F.col("event_id").isNotNull())
    bad = got.where(F.col("event_id").isNull())
    assert good.count() == 2 and bad.count() == 1
    assert "not json" in bad.collect()[0].raw


def test_max_offsets_per_trigger_caps_micro_batches(spark, tmp_path):
    """maxOffsetsPerTrigger=4 over 12 records: the backlog drains in
    multiple admission-capped micro-batches, none above the cap.

    Python DataSource V2 streams don't implement Trigger.AvailableNow
    (Spark logs the single-batch fallback), so this uses a continuous
    processing-time trigger and polls until the backlog lands."""
    import time

    register_filebus(spark)
    root, prod = _mk_bus(tmp_path)
    _send_events(prod, "events", range(12))
    reader = build_kafka_reader(
        spark, root, "events", max_offsets_per_trigger=4, source_format="filebus"
    )
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    parsed = reader.load().select(F.col("value").cast("string").alias("raw"))
    q = (
        parsed.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 90
        while time.time() < deadline:
            try:
                if spark.read.parquet(out).count() >= 12:
                    break
            except Exception:
                pass
            time.sleep(1)
        assert spark.read.parquet(out).count() == 12
        batch_rows = [
            p["numInputRows"]
            for p in (q.recentProgress or [])
            if p["numInputRows"] > 0
        ]
        assert len(batch_rows) >= 3  # 12 rows / cap 4
        assert max(batch_rows) <= 4
    finally:
        q.stop()


def test_starting_offsets_latest_skips_backlog(spark, tmp_path):
    """startingOffsets=latest on a fresh checkpoint: the pre-existing
    backlog is invisible (earliest-vs-latest fallback semantics)."""
    register_filebus(spark)
    root, prod = _mk_bus(tmp_path)
    _send_events(prod, "events", range(10))
    reader = build_kafka_reader(
        spark, root, "events", starting_offsets="latest", source_format="filebus"
    )
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    _drain(spark, reader, out, ckpt)
    written = (
        spark.read.parquet(out).count()
        if os.path.exists(out) and any(f.endswith(".parquet") for f in os.listdir(out))
        else 0
    )
    assert written == 0


# ---------------------------------------------------------------------------
# Round 11: restart admission clamp (ADVICE r10 medium) + availableNow
# snapshot semantics
# ---------------------------------------------------------------------------


def _reader_opts(root, topic="events", **kw):
    opts = {"kafka.bootstrap.servers": root, "subscribe": topic}
    opts.update(kw)
    return opts


def _runner_reader(opts):
    """The object Spark's streaming source runner calls: the simple
    reader wrapped in PySpark's prefetch-and-cache adapter."""
    from pyspark.sql.datasource_internal import _streamReader

    from datalakehouse_spark.sources.filebus import (
        KAFKA_WIRE_SCHEMA,
        FileBusDataSource,
    )

    return _streamReader(FileBusDataSource(opts), KAFKA_WIRE_SCHEMA)


def test_fresh_reader_seeds_admission_base_from_group_offsets(tmp_path):
    """The ADVICE r10 scenario, clean-restart variant: after a commit,
    a FRESH reader instance (query restart) with backlog > cap must
    plan its first end AT OR ABOVE the committed offsets — never below
    the checkpoint (which would regress the offset log and re-read
    committed records)."""
    from pyspark.sql.datasource_internal import SimpleInputPartition

    root, prod = _mk_bus(tmp_path, partitions=1)
    _send_events(prod, "events", range(20))

    r1 = _runner_reader(_reader_opts(root, maxOffsetsPerTrigger="5"))
    assert r1.latestOffset() == {"0": 5}
    r1.commit({"0": 5})
    r1.latestOffset()
    r1.commit({"0": 10})

    # restart: new runner, nothing read yet, backlog (10) > cap (5)
    r2 = _runner_reader(_reader_opts(root, maxOffsetsPerTrigger="5"))
    first = r2.latestOffset()
    assert first["0"] >= 10, f"planned below checkpointed start: {first}"
    assert first == {"0": 15}  # committed 10 + cap 5
    # Spark plans [10, 15) from its checkpoint: no prefetch holds that
    # start, so the batch is served by a replay read of exactly it
    assert r2.getCache({"0": 10}, first) is None
    replay = r2.read(SimpleInputPartition({"0": 10}, first))
    assert [row[4] for row in replay] == list(range(10, 15))


def test_uncommitted_replay_raises_admission_floor(tmp_path):
    """Restart with an uncommitted batch: Spark replays it via
    partitions(start, end) BEFORE any latestOffset call; the replayed
    range must floor subsequent admission even with no broker-side
    group offsets (different group id)."""
    root, prod = _mk_bus(tmp_path, partitions=1)
    _send_events(prod, "events", range(20))

    r = _runner_reader(
        _reader_opts(root, maxOffsetsPerTrigger="5", **{"kafka.group.id": "g2"})
    )
    # offset-log replay of the uncommitted batch [10, 12)
    r.partitions({"0": 10}, {"0": 12})
    nxt = r.latestOffset()
    assert nxt["0"] >= 12, f"planned below replayed batch end: {nxt}"
    assert nxt == {"0": 17}  # replayed end 12 + cap 5


def test_admission_base_clamped_to_log_end(tmp_path):
    """A recreated/truncated log must not make the reader plan ends
    past EOF (appends after the truncation would be silently skipped):
    the base is clamped to the current end offsets."""
    root, prod = _mk_bus(tmp_path, partitions=1)
    _send_events(prod, "events", range(8))
    r1 = _runner_reader(_reader_opts(root))
    r1.latestOffset()
    r1.commit({"0": 8})

    # recreate the topic shorter than the committed group offsets
    import shutil

    shutil.rmtree(str(tmp_path / "bus" / "events"))
    prod.create_topic("events", partitions=1)
    _send_events(prod, "events", range(3))

    r2 = _runner_reader(_reader_opts(root, maxOffsetsPerTrigger="5"))
    assert r2.latestOffset() == {"0": 3}  # not 8, not 13


def test_snapshot_mode_freezes_end_offsets(tmp_path):
    """filebus.snapshot=true: records produced AFTER the first
    latestOffset are not admitted (Trigger.AvailableNow's contract)."""
    root, prod = _mk_bus(tmp_path, partitions=1)
    _send_events(prod, "events", range(10))
    r = _runner_reader(_reader_opts(root, **{"filebus.snapshot": "true"}))
    assert r.latestOffset() == {"0": 10}
    _send_events(prod, "events", range(10, 30))
    assert r.latestOffset() == {"0": 10}  # frozen at the snapshot


def test_snapshot_drain_completes_in_capped_micro_batches(spark, tmp_path):
    """The availableNow analog end-to-end: cap 100 over 400 records
    drains in exactly 4 capped micro-batches under a processing-time
    trigger + processAllAvailable, terminating at the snapshot (no
    single-batch fallback, no availableNow warning path)."""
    register_filebus(spark)
    root, prod = _mk_bus(tmp_path, partitions=4)
    _send_events(prod, "events", range(400))
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    reader = build_kafka_reader(
        spark, root, "events", max_offsets_per_trigger=100, source_format="filebus"
    ).option("filebus.snapshot", "true")
    parsed = reader.load().select(F.col("value").cast("string").alias("raw"))
    q = (
        parsed.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert spark.read.parquet(out).count() == 400
    batch_rows = [
        p["numInputRows"] for p in (q.recentProgress or []) if p["numInputRows"] > 0
    ]
    assert batch_rows == [100, 100, 100, 100]


def test_capped_resume_no_duplicates_end_to_end(spark, tmp_path):
    """The full ADVICE r10 scenario on the real checkpoint machinery:
    a capped drain, a stop, a backlog append, a capped restart on the
    SAME checkpoint — every record lands exactly once."""
    register_filebus(spark)
    root, prod = _mk_bus(tmp_path, partitions=2)
    _send_events(prod, "events", range(12))
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def _capped_drain():
        reader = build_kafka_reader(
            spark, root, "events", max_offsets_per_trigger=4,
            source_format="filebus",
        ).option("filebus.snapshot", "true")
        parsed = reader.load().select(
            F.col("value").cast("string").alias("raw")
        ).select(F.from_json("raw", SCHEMA).alias("j")).select("j.*")
        q = (
            parsed.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="0 seconds")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    _capped_drain()
    assert spark.read.parquet(out).count() == 12
    _send_events(prod, "events", range(12, 24))
    _capped_drain()
    got = spark.read.parquet(out)
    assert got.count() == 24
    ids = [r.event_id for r in got.select("event_id").collect()]
    assert sorted(ids) == list(range(24)), "duplicate or skipped records"


# ---------------------------------------------------------------------------
# One read per micro-batch: the trigger's records are prefetched on the
# driver and served from Spark's block manager to every action
# ---------------------------------------------------------------------------


def test_every_action_on_a_micro_batch_reads_the_prefetch(spark, tmp_path):
    """Inside foreachBatch the batch is collected, the topic directory
    is renamed away, and the batch is collected again: both collects
    return the same rows, because neither re-reads the log."""
    register_filebus(spark)
    root, prod = _mk_bus(tmp_path)
    _send_events(prod, "events", range(50))
    topic_dir = os.path.join(root, "events")
    seen = []

    def sink(batch, _epoch):
        first = sorted(tuple(r) for r in batch.collect())
        os.rename(topic_dir, topic_dir + ".away")
        try:
            second = sorted(tuple(r) for r in batch.collect())
        finally:
            os.rename(topic_dir + ".away", topic_dir)
        seen.append((first, second))

    reader = build_kafka_reader(spark, root, "events", source_format="filebus")
    q = (
        reader.load()
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert sum(len(first) for first, _ in seen) == 50
    for first, second in seen:
        assert second == first, f"{len(second)} of {len(first)} rows on re-read"


def test_prefetched_batches_do_not_accumulate_in_block_manager(spark, tmp_path):
    """Over 24 capped triggers of ~200 KB each, the storage memory in
    use stays flat: each trigger's prefetch is released once a later
    trigger is planned, so a long-running stream holds one batch.
    (Sampled after a JVM GC, so cleaned task broadcasts are gone.)"""
    register_filebus(spark)
    root, prod = _mk_bus(tmp_path, partitions=2)
    pad = "x" * 4000
    for i in range(1200):
        prod.send("events", json.dumps({"event_id": i, "pad": pad}), key=f"k{i}")
    jvm = spark.sparkContext._jvm
    used = []

    def sink(batch, _epoch):
        assert batch.count() > 0
        jvm.System.gc()
        used.append(jvm.org.apache.spark.SparkEnv.get().memoryManager().storageMemoryUsed())

    reader = build_kafka_reader(
        spark, root, "events", max_offsets_per_trigger=50, source_format="filebus"
    ).option("filebus.snapshot", "true")
    q = (
        reader.load()
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert len(used) == 24
    # a leak adds a batch per trigger, 12 between the halves' peaks;
    # single samples swing by about a batch (seen: 206-367 KB), so
    # peaks, not samples, are compared
    batch_bytes = 50 * len(pad)
    assert max(used[12:]) - max(used[:12]) < 3 * batch_bytes, used
