"""Restart supervision (ST2), stateful streaming (ST7), vacuum (M3/M4),
parameterized SQL (P9), hyperplane-LSH ANN."""

import os

import pytest
from pyspark.sql import functions as F

from datalakehouse_spark.streaming.reliability import run_with_restart


class _FlakyQuery:
    def __init__(self, fail_times):
        self.fail_times = fail_times
        self.starts = 0

    def __call__(self):
        self.starts += 1
        if self.starts <= self.fail_times:
            raise RuntimeError("stream crashed")
        return self

    def awaitTermination(self):
        return None


def test_restart_fixed_delay_recovers():
    slept = []
    q = _FlakyQuery(fail_times=3)
    run_with_restart(q, max_attempts=10, delay_seconds=5.0, sleep=slept.append)
    assert q.starts == 4
    assert slept == [5.0, 5.0, 5.0]


def test_restart_gives_up_after_max_attempts():
    q = _FlakyQuery(fail_times=99)
    with pytest.raises(RuntimeError):
        run_with_restart(q, max_attempts=3, delay_seconds=0.0, sleep=lambda s: None)
    assert q.starts == 3


def test_stateful_running_totals(spark):
    from datalakehouse_spark.streaming.jobs import events_stream
    from datalakehouse_spark.streaming.reliability import running_totals_stateful

    ev = events_stream(spark, "/root/testdata/sf0.001")
    q = (
        running_totals_stateful(ev.select("user_id", "value"))
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("runtotals")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # last update per user == full batch aggregate (the state carries
    # integer cents, so the expected sum is the DECIMAL(18,2)-routed one)
    got = {
        r.user_id: (r.n_events, r.total_value)
        for r in spark.sql(
            "SELECT user_id, n_events, total_value FROM runtotals"
        ).collect()
    }
    from datalakehouse_spark.functions.numeric import dsum
    from datalakehouse_spark.io import load_table

    want = {
        r.user_id: (r.n, r.s)
        for r in load_table(spark, "/root/testdata/sf0.001", "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), dsum("value").alias("s"))
        .collect()
    }
    assert got == want


def test_vacuum_removes_orphan_tmp_dirs(spark, tmp_path):
    from datalakehouse_spark.tables import ManagedTable
    import datetime as dt

    t = ManagedTable(spark, str(tmp_path / "t"))
    df = spark.createDataFrame([(1, dt.date(2024, 1, 1))], "id long, d date")
    t.create(df)
    # an interrupted write leaves its stage dir behind
    orphan = str(tmp_path / "t" / "_stage-0badc0de")
    os.makedirs(orphan)
    removed = t.vacuum()
    assert removed == [orphan]
    assert not os.path.exists(orphan)
    assert t.read().count() == 1


def test_parameterized_sql(spark, sf_small):
    """P9: named-parameter SQL — injection-safe without manual quoting."""
    from datalakehouse_spark.io import register_views

    register_views(spark, sf_small, "events")
    out = spark.sql(
        "SELECT count(*) AS n FROM events WHERE event_type = :t AND value > :v",
        args={"t": "click", "v": 100.0},
    ).first()
    assert out.n > 0
    # quote-bearing value stays a literal, not SQL
    hostile = spark.sql(
        "SELECT count(*) AS n FROM events WHERE event_type = :t",
        args={"t": "x' OR '1'='1"},
    ).first()
    assert hostile.n == 0


def test_hyperplane_lsh_buckets(spark, sf_small):
    from datalakehouse_spark.io import load_table
    from datalakehouse_spark.operators.similarity import hyperplane_lsh_bucket

    emb = load_table(spark, sf_small, "embeddings")
    b = emb.select("vec_id", hyperplane_lsh_bucket("embedding", n_planes=8).alias("bucket"))
    rows = b.collect()
    assert all(0 <= r.bucket < 256 for r in rows)
    # deterministic across runs
    again = {r.vec_id: r.bucket for r in b.collect()}
    assert {r.vec_id: r.bucket for r in rows} == again
    # buckets actually partition the space (not all one value)
    assert len({r.bucket for r in rows}) > 1


# -- round 12: transformWithStateInPandas inactivity monitor -------------------


class _FakeValueState:
    def __init__(self):
        self._v = None

    def exists(self):
        return self._v is not None

    def get(self):
        return self._v

    def update(self, v):
        self._v = tuple(v)

    def clear(self):
        self._v = None


class _FakeHandle:
    def __init__(self):
        self.states = {}
        self.timers = set()

    def getValueState(self, name, schema, ttlDurationMs=None):
        return self.states.setdefault(name, _FakeValueState())

    def registerTimer(self, ts):
        self.timers.add(ts)

    def deleteTimer(self, ts):
        self.timers.discard(ts)


class _FakeTimerValues:
    def __init__(self, now_ms):
        self._now = now_ms

    def getCurrentProcessingTimeInMs(self):
        return self._now


def test_device_inactivity_processor_state_machine():
    """The Spark-4 StatefulProcessor's logic, driven with fakes (no
    Spark worker): totals accumulate in integer cents, each batch
    re-arms exactly ONE timer (the previous one is deleted), expiry
    emits the final totals and clears state so a revived device starts
    a fresh session."""
    import pandas as pd

    from datalakehouse_spark.streaming.reliability import (
        DeviceInactivityProcessor,
    )

    p = DeviceInactivityProcessor(timeout_ms=1000)
    h = _FakeHandle()
    p.init(h)

    (out1,) = list(
        p.handleInputRows(
            (7,), iter([pd.DataFrame({"value": [1.25, 2.505]})]),
            _FakeTimerValues(10_000),
        )
    )
    # float64(2.505) is exactly 2.50499999...: HALF_UP on the exact
    # expansion gives 2.50 — the documented CAST-matching quantization
    assert out1.iloc[0].tolist() == [7, "update", 2, 3.75]
    assert h.timers == {11_000}

    (out2,) = list(
        p.handleInputRows(
            (7,), iter([pd.DataFrame({"value": [10.0]})]),
            _FakeTimerValues(10_500),
        )
    )
    assert out2.iloc[0].tolist() == [7, "update", 3, 13.75]
    assert h.timers == {11_500}, "previous timer must be deleted on re-arm"

    h.timers.discard(11_500)  # Spark consumes a timer when it fires
    (off,) = list(p.handleExpiredTimer((7,), _FakeTimerValues(11_600), None))
    assert off.iloc[0].tolist() == [7, "offline", 3, 13.75]
    assert not h.states["agg"].exists() and not h.states["t"].exists()

    # revival: fresh session from zero
    (out3,) = list(
        p.handleInputRows(
            (7,), iter([pd.DataFrame({"value": [0.5]})]),
            _FakeTimerValues(20_000),
        )
    )
    assert out3.iloc[0].tolist() == [7, "update", 1, 0.5]
    assert h.timers == {21_000}


def test_device_monitor_end_to_end_when_protobuf_present(spark, tmp_path):
    """Full timer scenario over a real stream — runs wherever Spark's
    transformWithState protocol can (needs protobuf; skipped in this
    container, the Pillow/Iceberg-jar guard pattern)."""
    pytest.importorskip("google.protobuf")
    import json as _json
    import time as _time

    from datalakehouse_spark.streaming.reliability import (
        device_activity_monitor,
        monitor_confs,
    )

    old = {}
    for k, v in monitor_confs().items():
        old[k] = spark.conf.get(k, None)
        spark.conf.set(k, v)
    src = tmp_path / "in"
    src.mkdir()
    try:
        stream = spark.readStream.schema("user_id long, value double").json(
            str(src)
        )
        q = (
            device_activity_monitor(stream, timeout_ms=800)
            .writeStream.format("memory")
            .queryName("monitor_e2e")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )

        def drop(name, rows):
            (src / f"{name}.json").write_text(
                "\n".join(_json.dumps(r) for r in rows)
            )

        drop("a", [{"user_id": 1, "value": 1.25}, {"user_id": 1, "value": 2.5}])
        q.processAllAvailable()
        _time.sleep(1.2)
        drop("b", [{"user_id": -1, "value": 0.0}])  # flushes 1's timer
        q.processAllAvailable()
        q.stop()
        off = {
            r.user_id: (r.n_events, r.total_value)
            for r in spark.sql(
                "SELECT * FROM monitor_e2e WHERE kind = 'offline'"
            ).collect()
        }
        assert off == {1: (2, 3.75)}
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
