"""End-to-end lifecycle test — SURVEY.md §3's three entry points run
against one ManagedTable-backed lakehouse:

1. streaming ingest -> partitioned/clustered fact table (§3.1)
2. daily risk batch -> MERGE upsert into the keyed table (§3.2)
3. serving page+count over the fact table (§3.3)
4. nightly maintenance: retention DELETE + compaction + vacuum + stats
"""

import datetime as dt
import os

from pyspark.sql import functions as F

from datalakehouse_spark.io import load_table
from datalakehouse_spark.pipelines.ingest import normalize_events
from datalakehouse_spark.pipelines.risk_score import risk_score_daily
from datalakehouse_spark.pipelines.serving import count_query, page_query
from datalakehouse_spark.tables import ManagedTable

SF = "/root/testdata/sf0.001"


def test_full_lifecycle(spark, tmp_path):
    events = load_table(spark, SF, "events")

    # --- 1. ingest: normalize + partition by (day, bucket), clustered
    fact = ManagedTable(
        spark,
        str(tmp_path / "telematics_fact"),
        partition_by=["received_day", "device_id_bucket"],
        cluster_by=["device_id", "received_ts"],
    )
    fact.create(normalize_events(events))
    n_fact = fact.read().count()
    assert n_fact == normalize_events(events).count()

    # --- 2. risk batch + re-runnable upsert
    risk = ManagedTable(
        spark, str(tmp_path / "risk_score_daily"), partition_by=["report_date"]
    )
    scores = risk_score_daily(events)
    risk.create(scores)
    before = sorted(map(str, risk.read().collect()))
    risk.merge_upsert(scores, keys=["device_id", "report_date"])  # re-run == upsert
    assert sorted(map(str, risk.read().collect())) == before

    # --- 3. serving: page + count over the managed fact table
    fdf = fact.read()
    total = count_query(
        fdf, device_col="device_id", ts_col="received_ts", device_id="7"
    ).first().total
    page = page_query(
        fdf,
        device_col="device_id",
        ts_col="received_ts",
        tiebreak_col="correlation_id",
        device_id="7",
        limit=10,
    ).collect()
    assert total > 0 and 0 < len(page) <= 10
    assert all(r.device_id == "7" for r in page)

    # --- 4. maintenance: retention + compaction + vacuum + stats
    cutoff = dt.date(2024, 1, 15)
    kept_expected = fdf.where(F.col("received_day") >= F.lit(cutoff)).count()
    fact.delete_where(F.col("received_day") < F.lit(cutoff))
    assert fact.read().count() == kept_expected
    fact.compact()
    assert fact.read().count() == kept_expected
    assert fact.vacuum() == []  # no interrupted write left a stage dir
    # vacuum expired the versions before the head, and their files
    on_disk = [f for _r, _d, fs in os.walk(fact.path) for f in fs if f.endswith(".parquet")]
    assert len(on_disk) == fact.file_count()
    stats = fact.analyze()
    assert stats["rows"] == kept_expected
    # bucket partitioning survived the rewrite
    assert all(0 <= k[1] < 32 for k in stats["partitions"])
