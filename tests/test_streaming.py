"""Structured Streaming jobs: ingest with DLQ split, windowed aggs,
session windows (SURVEY.md §2.9)."""

import os

from pyspark.sql import functions as F

from datalakehouse_spark.streaming.jobs import (
    events_stream,
    run_ingest_to_table,
    session_window_stream,
    windowed_counts_stream,
)

SF = "/root/testdata/sf0.001"


def test_ingest_stream_end_to_end(spark, tmp_path):
    out = str(tmp_path / "fact")
    ckpt = str(tmp_path / "ckpt")
    dlq = str(tmp_path / "dlq")
    run_ingest_to_table(spark, SF, out, ckpt, dlq_path=dlq)
    fact = spark.read.parquet(out)
    # same rows as the batch transform
    from datalakehouse_spark.io import load_table
    from datalakehouse_spark.pipelines.ingest import normalize_events

    expected = normalize_events(load_table(spark, SF, "events")).count()
    assert fact.count() == expected
    # partitioned by arrival day (ST6)
    assert any(d.startswith("received_day=") for d in os.listdir(out))
    # bucket contract holds in streaming context too
    assert fact.select(F.min("device_id_bucket"), F.max("device_id_bucket")).first() is not None
    # all fixture props parse -> empty DLQ dir (no files or zero rows)
    if os.path.exists(dlq) and any(f.endswith(".parquet") for _r, _d, fs in os.walk(dlq) for f in fs):
        assert spark.read.parquet(dlq).count() == 0


def test_ingest_stream_exactly_once_restart(spark, tmp_path):
    """Re-running with the same checkpoint must not duplicate rows."""
    out = str(tmp_path / "fact")
    ckpt = str(tmp_path / "ckpt")
    run_ingest_to_table(spark, SF, out, ckpt)
    n1 = spark.read.parquet(out).count()
    run_ingest_to_table(spark, SF, out, ckpt)  # no new input files
    assert spark.read.parquet(out).count() == n1


def test_windowed_counts_match_batch(spark):
    ev = events_stream(spark, SF)
    q = (
        windowed_counts_stream(ev)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("wincounts")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.window_start, r.event_type): (r.n, r.sum_value)
        for r in spark.sql("SELECT * FROM wincounts").collect()
    }
    from datalakehouse_spark.io import load_table

    batch = (
        load_table(spark, SF, "events")
        .groupBy(F.date_trunc("hour", "ts").alias("window_start"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
    )
    want = {(r.window_start, r.event_type): (r.n, r.sum_value) for r in batch.collect()}
    assert got == want


def test_session_window_stream_runs(spark):
    ev = events_stream(spark, SF)
    q = (
        session_window_stream(ev)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("sesswin")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("SELECT * FROM sesswin").collect()
    assert len(rows) > 0
    assert all(r.n_events > 0 for r in rows)


def test_streaming_risk_upsert_matches_batch(spark, tmp_path):
    """The streaming keyed-upsert sink converges to the batch pipeline's
    table state (Flink PK-upsert parity, SURVEY §4 (c))."""
    from datalakehouse_spark.io import load_table
    from datalakehouse_spark.pipelines.risk_score import risk_score_daily
    from datalakehouse_spark.streaming.jobs import run_streaming_risk_upsert

    def norm(rows):
        return sorted(sorted(r.asDict().items()) for r in rows)

    from datalakehouse_spark.tables import ManagedTable

    path, ckpt = str(tmp_path / "risk"), str(tmp_path / "ckpt")
    table = ManagedTable(spark, path, partition_by=["report_date"])
    run_streaming_risk_upsert(spark, SF, path, ckpt)
    got = norm(table.read().collect())
    want = norm(risk_score_daily(load_table(spark, SF, "events")).collect())
    assert got == want
    # replay with same checkpoint: no input -> state unchanged (idempotent)
    run_streaming_risk_upsert(spark, SF, path, ckpt)
    assert norm(table.read().collect()) == want


def test_watermark_drops_late_rows(spark, tmp_path):
    """ST7 semantics check: rows later than the watermark bound are
    excluded from already-finalized append-mode windows."""
    import os
    from pyspark.sql import functions as F
    from datalakehouse_spark.streaming.jobs import EVENTS_WIRE_SCHEMA

    src = str(tmp_path / "src")
    os.makedirs(src)
    base = 1_704_067_200_000_000_000  # 2024-01-01T00:00Z in ns

    def write_batch(name, rows):
        spark.createDataFrame(rows, EVENTS_WIRE_SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{src}/{name}")

    # Watermark guarantee being tested: once a window is FINALIZED and
    # emitted (append mode), later-arriving rows for it are discarded —
    # not the stronger "all late rows drop", which Spark explicitly does
    # not promise while state is still live.
    # batch 1: hour-0 and hour-6 events -> watermark advances to 5h
    write_batch("b1", [
        (1, base, 1, "click", 1.0, "{}"),
        (2, base + 6 * 3600 * 10**9, 1, "click", 1.0, "{}"),
    ])
    # batch 2: on-time row; end of this batch emits the hour-0 window
    write_batch("b2", [
        (4, base + 6 * 3600 * 10**9 + 1800 * 10**9, 1, "click", 1.0, "{}"),
    ])
    # batch 3: a row for hour 0 arriving AFTER that window was emitted
    write_batch("b3", [
        (3, base + 60 * 10**9, 1, "click", 1.0, "{}"),
        (5, base + 7 * 3600 * 10**9, 1, "click", 1.0, "{}"),
    ])

    stream = (
        spark.readStream.schema(EVENTS_WIRE_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/b*/")
        .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("start"), "n")
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("latewin")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("SELECT * FROM latewin").collect()
    hour0 = [r for r in rows if r.start.hour == 0]
    # exactly one emission for hour 0, with only the on-time row — the
    # post-finalization late row (event_id=3) was discarded, and no
    # duplicate/updated window appeared in the append output
    assert len(hour0) == 1 and hour0[0].n == 1
