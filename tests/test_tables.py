"""Managed-table DML semantics (SURVEY.md §2.10 M1/M2/M5 + S4/S6)."""

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from datalakehouse_spark.tables import ManagedTable


def _head_files(t):
    """Paths of the data files the table's head version reads."""
    return [f for s in t.partition_file_stats() for f in s["files"]]


def _risk_rows(spark, days, score=10.0):
    rows = [
        (f"dev{d}", dt.date(2024, 1, day), score, "Seguro", 20, 2, 1)
        for d in range(3)
        for day in days
    ]
    return spark.createDataFrame(
        rows,
        "device_id string, report_date date, score double, level string, "
        "total_reports long, overspeed_reports long, night_reports long",
    )


@pytest.fixture()
def table(spark, tmp_path):
    t = ManagedTable(spark, str(tmp_path / "risk"), partition_by=["report_date"])
    t.create(_risk_rows(spark, days=[1, 2, 3]))
    return t


def test_append(spark, table):
    before = table.read().count()
    table.append(_risk_rows(spark, days=[4]))
    assert table.read().count() == before + 3


def test_merge_upsert_replaces_and_inserts(spark, table):
    # day 2 recomputed with new score + new day 4 -> upsert
    src = _risk_rows(spark, days=[2, 4], score=99.0)
    table.merge_upsert(src, keys=["device_id", "report_date"])
    out = table.read()
    assert out.count() == 12  # 3 devices x days {1,2,3,4}
    day2 = out.where(F.col("report_date") == dt.date(2024, 1, 2)).select("score").distinct().collect()
    assert [r.score for r in day2] == [99.0]
    day1 = out.where(F.col("report_date") == dt.date(2024, 1, 1)).select("score").distinct().collect()
    assert [r.score for r in day1] == [10.0]


def test_merge_upsert_idempotent(spark, table):
    """README:136: the batch job can re-run to recalculate (upsert)."""
    src = _risk_rows(spark, days=[2], score=50.0)
    table.merge_upsert(src, keys=["device_id", "report_date"])
    first = sorted(map(str, table.read().collect()))
    table.merge_upsert(src, keys=["device_id", "report_date"])
    assert sorted(map(str, table.read().collect())) == first


def test_retention_delete(spark, table):
    """cleanup.sql:5-10 shape: drop partitions older than a cutoff."""
    table.delete_where(F.col("report_date") < F.lit(dt.date(2024, 1, 3)))
    out = table.read()
    assert out.count() == 3
    assert out.select(F.min("report_date")).first()[0] == dt.date(2024, 1, 3)


def test_delete_untouched_partitions_not_rewritten(spark, table):
    # predicate touches only day 1; days 2-3 keep their original files
    def day3_files():
        return {f for f in _head_files(table) if "report_date=2024-01-03" in f}

    files_before = day3_files()
    assert files_before
    table.delete_where(F.col("report_date") < F.lit(dt.date(2024, 1, 2)))
    assert day3_files() == files_before, "untouched partition was rewritten"


def test_delete_row_level_predicate_partial_partition(spark, table):
    """Row-level (non-partition-aligned) predicate: the touched
    partition is partially rewritten — the post-write bookkeeping must
    not re-run jobs on pre-write file listings (FILE_NOT_EXIST)."""
    table.delete_where(
        (F.col("report_date") == dt.date(2024, 1, 2)) & (F.col("device_id") == "dev1")
    )
    out = table.read()
    assert out.count() == 8
    day2 = out.where(F.col("report_date") == dt.date(2024, 1, 2))
    assert sorted(r.device_id for r in day2.collect()) == ["dev0", "dev2"]


def test_delete_row_level_predicate_empties_partition(spark, table):
    """Row-level predicate that deletes an entire partition's rows must
    also drop the now-empty partition directory."""
    table.delete_where(
        (F.col("report_date") == dt.date(2024, 1, 2)) & (F.col("score") >= 0.0)
    )
    out = table.read()
    assert out.count() == 6
    assert dt.date(2024, 1, 2) not in {r[0] for r in out.select("report_date").collect()}


def test_delete_null_predicate_rows_kept(spark, tmp_path):
    """SQL DELETE semantics: predicate-NULL rows are kept, not deleted."""
    t = ManagedTable(spark, str(tmp_path / "nullpred"), partition_by=["report_date"])
    df = _risk_rows(spark, days=[1]).withColumn(
        "score", F.when(F.col("device_id") == "dev1", None).otherwise(F.col("score"))
    )
    t.create(df)
    t.delete_where(F.col("score") < 100.0)  # NULL for dev1 -> keep
    assert [r.device_id for r in t.read().collect()] == ["dev1"]

    # unpartitioned branch, same semantics
    t2 = ManagedTable(spark, str(tmp_path / "nullpred2"))
    t2.create(df)
    t2.delete_where(F.col("score") < 100.0)
    assert [r.device_id for r in t2.read().collect()] == ["dev1"]


def test_session_overwrite_mode_not_mutated(spark, tmp_path):
    """Constructing/writing a ManagedTable must not flip the shared
    session's partitionOverwriteMode (hidden side effect)."""
    before = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
    t = ManagedTable(spark, str(tmp_path / "conf"), partition_by=["report_date"])
    t.create(_risk_rows(spark, days=[1, 2]))
    t.merge_upsert(_risk_rows(spark, days=[2], score=5.0), keys=["device_id", "report_date"])
    assert spark.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC") == before


def test_compact_preserves_clustering_and_blooms(spark, tmp_path):
    """M2: compaction must keep cluster_by sort order (min/max skipping)
    rather than silently discarding the table's write options."""
    t = ManagedTable(
        spark, str(tmp_path / "ck"), partition_by=["report_date"], cluster_by=["device_id"]
    )
    t.create(_risk_rows(spark, days=[1]))
    for _ in range(3):
        t.append(_risk_rows(spark, days=[1]))
    assert t.compact()["compacted"]
    import pyarrow.parquet as pq

    assert len(_head_files(t)) == 1
    for f in _head_files(t):
        col = pq.read_table(f).column("device_id").to_pylist()
        assert col == sorted(col), "cluster_by ordering lost in compaction"


def test_compact_reduces_files(spark, table):
    for _ in range(3):
        table.append(_risk_rows(spark, days=[1]))
    before = table.file_count()
    table.compact()
    assert table.file_count() < before
    assert table.read().count() == 18  # 9 original + 9 appended


def test_compact_is_partition_scoped(spark, table):
    """M2 (cleanup.sql:12-17): only partitions breaching the small-file
    threshold are rewritten; every other partition's files are
    byte-for-byte untouched (same paths, same bytes)."""
    for _ in range(3):
        table.append(_risk_rows(spark, days=[1]))

    def _snapshot(day):
        snap = {}
        for p in _head_files(table):
            if f"report_date=2024-01-0{day}" in p:
                with open(p, "rb") as fh:
                    snap[p] = fh.read()
        assert snap
        return snap

    day2_before, day3_before = _snapshot(2), _snapshot(3)
    report = table.compact()
    assert report["backend"] == "parquet"
    assert [p["report_date"] for p in report["compacted"]] == ["2024-01-01"]
    assert report["skipped"] == 2
    assert _snapshot(2) == day2_before, "untouched partition rewritten"
    assert _snapshot(3) == day3_before, "untouched partition rewritten"
    assert table.read().count() == 18


def test_compact_where_scopes_the_sweep(spark, table):
    """compact(where=...) restricts the sweep to named partitions even
    when others also breach the threshold."""
    for _ in range(2):
        table.append(_risk_rows(spark, days=[1, 2]))
    report = table.compact(where={"report_date": [dt.date(2024, 1, 2)]})
    assert [p["report_date"] for p in report["compacted"]] == ["2024-01-02"]
    # day 1 still has its small files; a second unscoped sweep gets it
    report2 = table.compact()
    assert [p["report_date"] for p in report2["compacted"]] == ["2024-01-01"]
    assert table.read().count() == 21  # 9 + 2x6 appended


def test_partition_file_stats(spark, table):
    table.append(_risk_rows(spark, days=[1]))
    stats = {s["partition"]["report_date"]: s for s in table.partition_file_stats()}
    assert stats["2024-01-01"]["file_count"] == 2
    assert stats["2024-01-02"]["file_count"] == 1
    assert all(s["bytes"] > 0 for s in stats.values())


def test_delete_where_catalog_requires_sql_text(spark, tmp_path):
    """A Column predicate on a catalog-backed table must raise, not
    silently no-op against the (empty) parquet path."""
    from datalakehouse_spark.catalog_dml import CatalogDML

    t = ManagedTable(spark, str(tmp_path / "cat"), partition_by=["report_date"])
    t._catalog = CatalogDML(spark, "lake.db.risk", "iceberg")
    with pytest.raises(TypeError, match="SQL predicate string"):
        t.delete_where(F.col("report_date") < F.lit(dt.date(2024, 1, 2)))


def test_schema_evolution_merge_read(spark, table):
    """Add-column evolution: appended files carry the new column, v1
    files surface NULL for it under merge_schema=True."""
    evolved = _risk_rows(spark, days=[4]).withColumn("quality", F.lit(0.9))
    table.append(evolved)
    out = table.read(merge_schema=True)
    assert "quality" in out.columns
    assert out.count() == 12
    assert out.where(F.col("quality").isNull()).count() == 9  # v1 rows
    assert out.where(F.col("quality") == 0.9).count() == 3


def test_analyze_stats(spark, table):
    stats = table.analyze()
    assert stats["rows"] == 9
    assert len(stats["partitions"]) == 3


def test_clustered_write_orders_within_files(spark, tmp_path):
    """O4/X6: cluster_by columns are sorted within each written file."""
    t = ManagedTable(
        spark, str(tmp_path / "c"), partition_by=["report_date"], cluster_by=["device_id"]
    )
    t.create(_risk_rows(spark, days=[1]))
    import pyarrow.parquet as pq

    assert _head_files(t)
    for f in _head_files(t):
        col = pq.read_table(f).column("device_id").to_pylist()
        assert col == sorted(col)


def test_bloom_filters_written(spark, tmp_path):
    """X4: parquet bloom filters land in the file footers for the
    configured point-lookup columns."""
    t = ManagedTable(
        spark,
        str(tmp_path / "bf"),
        cluster_by=["device_id"],
        bloom_filter_cols=["device_id"],
    )

    def total_bytes(table):
        return sum(os.path.getsize(f) for f in _head_files(table))

    # this pyarrow build doesn't expose bloom offsets; observe the
    # filters through the footprint instead: same rows with blooms
    # enabled must be strictly larger than without (needs enough
    # distinct values for a non-trivial filter)
    rows = spark.range(50000).selectExpr(
        "cast(id as string) as device_id", "id as v"
    ).coalesce(1)
    t.create(rows)
    plain = ManagedTable(spark, str(tmp_path / "plain"), cluster_by=["device_id"])
    plain.create(rows)
    assert total_bytes(t) > total_bytes(plain) * 1.2, "bloom filters not written"
    assert t.read().count() == plain.read().count()


def test_zorder_write_bounds_both_dimensions(spark, tmp_path):
    """Z-ordered files must bound BOTH clustering columns: on a 256x256
    grid split into 16 files, a linear (x,y) sort gives files spanning
    the full y range, while the morton sort keeps every file inside a
    quadrant — the multi-dimension pruning win."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from datalakehouse_spark.tables import ManagedTable

    grid = (
        spark.range(256 * 256)
        .select((F.col("id") % 256).alias("x"), (F.col("id") / 256).cast("long").alias("y"))
        .coalesce(1)
    )

    def max_y_extent(table):
        extents = []
        for f in _head_files(table):
            t = pq.read_table(f, columns=["y"])
            ys = t.column("y").to_pylist()
            extents.append(max(ys) - min(ys))
        return max(extents), len(extents)

    lin = ManagedTable(spark, str(tmp_path / "linear"), cluster_by=["x", "y"])
    zod = ManagedTable(spark, str(tmp_path / "zordered"), zorder_by=("x", "y"))
    # cap records per file so each sorted write splits into 16 files
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "4096")
    try:
        lin.create(grid)
        zod.create(grid)
    finally:
        spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    lin_ext, lin_files = max_y_extent(lin)
    z_ext, z_files = max_y_extent(zod)
    assert lin_files >= 8 and z_files >= 8
    # linear sort: leading-x files span (almost) the whole y range
    assert lin_ext >= 200
    # z-order: every file stays inside a quadrant of y
    assert z_ext <= 127, f"z-ordered y-extent {z_ext} must be quadrant-bounded"


def test_zorder_cluster_by_mutually_exclusive(spark):
    import pytest as _pytest

    from datalakehouse_spark.tables import ManagedTable

    with _pytest.raises(ValueError):
        ManagedTable(spark, "/tmp/nope", cluster_by=["a"], zorder_by=("a", "b"))


def test_managed_table_writes_zstd(spark, tmp_path):
    """Parquet codec parity with the reference's ZSTD table properties."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from datalakehouse_spark.tables import ManagedTable

    t = ManagedTable(spark, str(tmp_path / "zstd_t")).create(
        spark.range(1000).select(F.col("id"), (F.col("id") % 7).alias("k"))
    )
    f = sorted(_head_files(t))[0]
    codecs = {
        pq.ParquetFile(f).metadata.row_group(0).column(c).compression
        for c in range(pq.ParquetFile(f).metadata.num_columns)
    }
    assert codecs == {"ZSTD"}


def test_reader_holding_old_version_survives_delete(spark, table):
    """Snapshot isolation: a DataFrame read before a row-level delete
    keeps reading the version it was planned on — the delete commits
    new files instead of replacing the ones the reader lists."""
    df = table.read()
    table.delete_where(
        (F.col("report_date") == dt.date(2024, 1, 2)) & (F.col("device_id") == "dev1")
    )
    assert df.count() == 9
    assert table.read().count() == 8


def _fail_commit_link(monkeypatch):
    """Make the first ``os.link`` raise: a table write's first link
    publishes its manifest, the start of its commit (manifests and refs
    records are linked to fresh names; data files are renamed)."""
    real = os.link

    def link(src, dst):
        monkeypatch.setattr(os, "link", real)
        raise OSError("injected crash at commit")

    monkeypatch.setattr(os, "link", link)


@pytest.mark.parametrize("op", ["delete_where", "compact"])
def test_crash_at_commit_keeps_previous_version(spark, tmp_path, monkeypatch, op):
    """A failure at the commit point of an unpartitioned rewrite leaves
    the previous version readable; the next vacuum removes the orphan
    stage dir and the uncommitted files."""
    t = ManagedTable(spark, str(tmp_path / "crash"))
    t.create(_risk_rows(spark, days=[1, 2]))
    t.append(_risk_rows(spark, days=[3]))
    before = sorted(map(tuple, t.read().collect()))

    def on_disk():
        return {
            os.path.join(r, f)
            for r, _d, fs in os.walk(t.path)
            for f in fs
            if f.endswith(".parquet")
        }

    files_before = on_disk()
    _fail_commit_link(monkeypatch)
    with pytest.raises(OSError, match="injected"):
        if op == "delete_where":
            t.delete_where(F.col("report_date") < F.lit(dt.date(2024, 1, 2)))
        else:
            t.compact()
    assert sorted(map(tuple, t.read().collect())) == before
    removed = t.vacuum()
    assert len(removed) == 1 and os.path.basename(removed[0]).startswith("_stage-")
    assert not os.path.exists(removed[0])
    assert on_disk() == files_before
    assert not [f for f in os.listdir(os.path.join(t.path, "_log")) if ".tmp-" in f]
    assert sorted(map(tuple, t.read().collect())) == before


# -- partition-aligned DML answered from the manifest ----------------------

#: partition dtype -> (values, incl. a NULL partition; a partition-aligned
#: predicate).  The string values carry characters Spark escapes in
#: partition directory names.
_PART_CASES = {
    "date": (
        [dt.date(2024, 1, 1), dt.date(2024, 1, 2), dt.date(2024, 1, 9), None],
        lambda: F.col("p") < F.lit(dt.date(2024, 1, 9)),
    ),
    "int": ([1, 2, 30, None], lambda: F.col("p") <= 2),
    "string": (
        ["a b:c%", "plain", "x=y/z", None],
        lambda: F.col("p").isin("a b:c%", "x=y/z"),
    ),
}


def _part_table(spark, path, kind):
    """3 rows per partition value of ``kind``; returns (table, source)."""
    values, _ = _PART_CASES[kind]
    src = spark.createDataFrame(
        [(i, v) for v in values for i in range(3)], f"id int, p {kind}"
    )
    t = ManagedTable(spark, path, partition_by=["p"])
    t.create(src)
    return t, src


def _sorted_repr(rows):
    """Order-free, type-exact form: ``1`` and ``1.0`` stay different."""
    return sorted(repr(tuple(r)) for r in rows)


@pytest.mark.parametrize("kind", sorted(_PART_CASES))
def test_partition_aligned_delete_and_analyze_run_no_job(
    spark, tmp_path, last_job_id, kind
):
    """A retention DELETE on the partition column is a metadata-only
    commit and ANALYZE reads parquet footers: neither starts a Spark
    job, and both give what the scan path gives — NULL partition kept,
    escaped string values matched, analyze keys typed as the scan's."""
    pred = _PART_CASES[kind][1]
    fast, src = _part_table(spark, str(tmp_path / "fast"), kind)
    scan, _ = _part_table(spark, str(tmp_path / "scan"), kind)
    scan._vt._partitions_matching = lambda version, pred: None  # force a scan

    j0 = last_job_id()
    fast.delete_where(pred())
    stats = fast.analyze()
    assert last_job_id() == j0, "partition-aligned delete / analyze ran a job"
    assert stats["rows"] == 6  # one partition is kept alongside the NULL one

    scan.delete_where(pred())
    assert last_job_id() > j0  # the forced scan path does run jobs
    want = src.where(~F.coalesce(pred(), F.lit(False))).collect()
    assert _sorted_repr(fast.read().collect()) == _sorted_repr(want)
    assert _sorted_repr(scan.read().collect()) == _sorted_repr(want)
    by_scan = {
        tuple(r)[:-1]: r[-1] for r in scan.read().groupBy("p").count().collect()
    }
    assert repr(sorted(stats["partitions"].items(), key=repr)) == repr(
        sorted(by_scan.items(), key=repr)
    )


@pytest.mark.parametrize(
    "pred",
    [
        lambda: F.col("id") == 1,  # data column only
        lambda: (F.col("p") <= 2) & (F.col("id") >= 1),  # mixed
    ],
    ids=["data_column", "mixed"],
)
def test_row_level_delete_still_rewrites_files(spark, tmp_path, pred):
    """A predicate that reads a data column keeps the scan path: the
    touched partitions get new files, and the rows are the DELETE's."""
    t, src = _part_table(spark, str(tmp_path / "t"), "int")
    before = set(_head_files(t))
    t.delete_where(pred())
    assert set(_head_files(t)) - before, "no partition was rewritten"
    want = src.where(~F.coalesce(pred(), F.lit(False))).collect()
    assert _sorted_repr(t.read().collect()) == _sorted_repr(want)
