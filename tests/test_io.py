"""Events read contract: every stored shape of ``ts`` reaches the engine
as the canonical pair (``ts`` TIMESTAMP, ``ts_ns`` LONG)."""

import os

from datalakehouse_spark.io import load_table
from datalakehouse_spark.registry import REGISTRY
from datalakehouse_spark.streaming.jobs import events_stream

SF = "/root/testdata/sf0.001"


def test_spark_written_ntz_events_load_canonically(spark, tmp_path):
    """A raw ``spark.read.parquet`` of the fixture infers ``ts`` as
    TIMESTAMP_NTZ and a write-back records that type in the footer;
    load_table (and its streaming twin) still yields the canonical
    pair, row for row, and the flagship pipeline runs on it."""
    raw = spark.read.parquet(os.path.join(SF, "events.parquet"))
    assert dict(raw.dtypes)["ts"] == "timestamp_ntz"
    sf_dir = str(tmp_path / "sf")
    raw.write.parquet(os.path.join(sf_dir, "events.parquet"))

    got = load_table(spark, sf_dir, "events")
    want = load_table(spark, SF, "events")
    assert dict(got.dtypes)["ts"] == "timestamp"
    assert dict(got.dtypes)["ts_ns"] == "bigint"
    assert got.columns == want.columns
    assert events_stream(spark, sf_dir).dtypes == got.dtypes

    def rows(df):
        return sorted(df.select("event_id", "ts", "ts_ns").collect())

    assert rows(got) == rows(want)
    risk = REGISTRY["risk_score_daily"].fn
    assert sorted(risk(spark, sf_dir).collect()) == sorted(risk(spark, SF).collect())


def test_append_writes_leave_no_success_marker(spark, tmp_path):
    """No write leaves Hadoop's ``_SUCCESS`` marker, whichever way the
    session was made: ``get_spark``'s builder conf, or
    ``_ensure_session_contract`` on a session whose marker is on."""
    from datalakehouse_spark.io import _ensure_session_contract
    from datalakehouse_spark.session import MARK_SUCCESS_KEY

    def markers(path):
        return [n for n in os.listdir(path) if "_SUCCESS" in n]

    df = spark.range(10)
    built = str(tmp_path / "built")
    df.write.mode("append").parquet(built)
    df.write.mode("append").parquet(built)
    assert markers(built) == []

    spark.conf.set(MARK_SUCCESS_KEY, "true")
    try:
        on = str(tmp_path / "on")
        df.write.mode("append").parquet(on)
        assert "_SUCCESS" in markers(on)  # a marker is visible when on
        _ensure_session_contract(spark)
        contract = str(tmp_path / "contract")
        df.write.mode("append").parquet(contract)
        df.write.mode("append").parquet(contract)
        assert markers(contract) == []
    finally:
        spark.conf.unset(MARK_SUCCESS_KEY)
