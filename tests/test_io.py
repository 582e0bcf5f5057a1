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
