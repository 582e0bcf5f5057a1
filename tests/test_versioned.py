"""VersionedTable: commit log, time travel, rollback, snapshot GC,
manifest-level partition pruning (the Nessie/Iceberg capability analog,
reference create.sql:1-13, cleanup.sql:19-31)."""

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from datalakehouse_spark.versioned import VersionedTable


def _rows(spark, days, score=10.0):
    rows = [
        (f"dev{d}", dt.date(2024, 1, day), score)
        for d in range(3)
        for day in days
    ]
    return spark.createDataFrame(rows, "device_id string, report_date date, score double")


@pytest.fixture()
def vt(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "vt"), partition_by=["report_date"])
    t.create(_rows(spark, days=[1, 2]))
    return t


def _state(df):
    return sorted(map(tuple, df.select("device_id", "report_date", "score").collect()))


def test_create_and_read_latest(spark, vt):
    assert vt.current_version() == 1
    assert vt.read().count() == 6


def test_append_creates_new_version_keeps_old_readable(spark, vt):
    vt.append(_rows(spark, days=[3]))
    assert vt.current_version() == 2
    assert vt.read().count() == 9
    assert vt.read(version=1).count() == 6  # time travel


def test_upsert_rewrites_only_touched_partitions(spark, vt):
    v1_files = {e["path"] for e in vt._load_manifest(1)["files"]}
    vt.merge_upsert(_rows(spark, days=[2], score=99.0), keys=["device_id", "report_date"])
    v2 = vt._load_manifest(2)["files"]
    day1_files = {e["path"] for e in v2 if e["partition"]["report_date"] == "2024-01-01"}
    # day-1 files are carried over verbatim (copy-on-write: untouched
    # partitions share immutable files across versions)
    assert day1_files and day1_files <= v1_files
    got = vt.read().where(F.col("report_date") == dt.date(2024, 1, 2)).select("score")
    assert {r.score for r in got.collect()} == {99.0}
    # v1 still shows the pre-upsert state
    old = vt.read(version=1).where(F.col("report_date") == dt.date(2024, 1, 2))
    assert {r.score for r in old.select("score").collect()} == {10.0}


def test_delete_where_versioned_null_semantics(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "d"), partition_by=["report_date"])
    df = _rows(spark, days=[1]).withColumn(
        "score", F.when(F.col("device_id") == "dev1", None).otherwise(F.col("score"))
    )
    t.create(df)
    t.delete_where(F.col("score") < 100.0)
    # predicate-NULL row kept; v1 unchanged
    assert [r.device_id for r in t.read().collect()] == ["dev1"]
    assert t.read(version=1).count() == 3


def test_upsert_null_and_escaped_partition_values(spark, tmp_path):
    """Hive writes NULL partition values as __HIVE_DEFAULT_PARTITION__
    and escapes specials (':', space) as %XX; touched-partition
    detection must canonicalize both sides or a merge duplicates keys
    in the new version (stale rows kept AND new rows inserted)."""
    t = VersionedTable(spark, str(tmp_path / "np"), partition_by=["label"])
    df = spark.createDataFrame(
        [(1, None, 10.0), (2, "a:b c", 10.0), (3, "plain", 10.0)],
        "id long, label string, score double",
    )
    t.create(df)
    # manifest stores decoded values: None and the literal string
    labels = {e["partition"]["label"] for e in t._load_manifest(1)["files"]}
    assert labels == {None, "a:b c", "plain"}
    src = spark.createDataFrame(
        [(1, None, 99.0), (2, "a:b c", 99.0)], "id long, label string, score double"
    )
    t.merge_upsert(src, keys=["id"])
    out = sorted(map(tuple, t.read().select("id", "score").collect()))
    assert out == [(1, 99.0), (2, 99.0), (3, 10.0)]  # no duplicate keys

    t.delete_where(F.col("label").isNull())
    assert sorted(r.id for r in t.read().collect()) == [2, 3]


def test_read_partition_filter_null_and_escaped(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "pf"), partition_by=["label"])
    t.create(
        spark.createDataFrame(
            [(1, None), (2, "a:b c"), (3, "plain")], "id long, label string"
        )
    )
    assert {r.id for r in t.read(partition_filter={"label": ["a:b c"]}).collect()} == {2}
    assert {r.id for r in t.read(partition_filter={"label": [None]}).collect()} == {1}


def test_versioned_schema_evolution_merge_read(spark, vt):
    """Evolved append commits files with an added column; merged reads
    reconcile, and time travel still reads the old schema verbatim."""
    vt.append(_rows(spark, days=[3]).withColumn("quality", F.lit(1.5)))
    out = vt.read(merge_schema=True)
    assert "quality" in out.columns
    assert out.where(F.col("quality").isNull()).count() == 6
    assert out.where(F.col("quality") == 1.5).count() == 3
    assert "quality" not in vt.read(version=1).columns


def test_rollback_is_a_new_commit(spark, vt):
    vt.merge_upsert(_rows(spark, days=[2], score=99.0), keys=["device_id", "report_date"])
    before = _state(vt.read(version=1))
    vt.rollback(1)
    assert vt.current_version() == 3
    assert _state(vt.read()) == before
    # history preserved: v2 still readable after rollback
    assert {r.score for r in vt.read(version=2).where(
        F.col("report_date") == dt.date(2024, 1, 2)).select("score").collect()} == {99.0}


def test_expire_versions_gc_unreferenced_files(spark, vt):
    vt.merge_upsert(_rows(spark, days=[1], score=50.0), keys=["device_id", "report_date"])
    vt.merge_upsert(_rows(spark, days=[1], score=60.0), keys=["device_id", "report_date"])
    removed = vt.expire_versions(keep_last=1)
    assert removed["versions"] == [1, 2]
    # v1/v2-only files are gone from disk, latest still reads fine
    assert removed["files"]
    for rel in removed["files"]:
        assert not os.path.exists(os.path.join(vt.data_dir, rel))
    assert vt.read().count() == 6
    with pytest.raises(ValueError):
        vt.read(version=1)


def test_manifest_partition_pruning_file_list(spark, vt):
    pruned = vt.read(partition_filter={"report_date": ["2024-01-02"]})
    assert pruned.count() == 3
    # the pruning happened on the file list, not in a Spark filter:
    # only day-2 files appear in the scan
    files = [f for f in pruned.inputFiles()]
    assert files and all("report_date=2024-01-02" in f for f in files)


def test_commit_is_atomic_no_partial_manifests(spark, vt):
    # no .tmp manifests left behind by commits
    leftovers = [f for f in os.listdir(vt.log_dir) if ".tmp" in f]
    assert leftovers == []


def test_branch_write_isolated_from_main(spark, vt):
    """Nessie workflow: experiment on a branch; main is untouched."""
    vt.create_branch("exp")
    vt.merge_upsert(
        _rows(spark, days=[2], score=77.0), keys=["device_id", "report_date"], branch="exp"
    )
    # branch sees the change, main does not
    exp_scores = {
        r.score
        for r in vt.read(ref="exp")
        .where(F.col("report_date") == dt.date(2024, 1, 2))
        .collect()
    }
    main_scores = {
        r.score
        for r in vt.read()
        .where(F.col("report_date") == dt.date(2024, 1, 2))
        .collect()
    }
    assert exp_scores == {77.0} and main_scores == {10.0}


def test_branch_merge_fast_forward(spark, vt):
    vt.create_branch("exp")
    vt.append(_rows(spark, days=[5]), branch="exp")
    vt.merge_branch("exp")
    assert vt.read().count() == 9  # main promoted to the branch head
    assert vt.current_version() == vt.current_version("exp")


def test_diverged_merge_clean_disjoint_partitions(spark, vt):
    """Diverged branches touching DISJOINT partitions get a real merge
    commit: both sides' changes land, neither is lost, and both
    pre-merge states stay time-travelable."""
    vt.create_branch("exp")
    vt.append(_rows(spark, days=[5], score=50.0), branch="exp")
    vt.append(_rows(spark, days=[6], score=60.0))  # main moves too -> diverged
    v_main, v_exp = vt.current_version(), vt.current_version("exp")
    main_snap, exp_snap = _state(vt.read()), _state(vt.read(ref="exp"))
    merged_v = vt.merge_branch("exp")
    got = _state(vt.read())
    days = {r[1].day for r in got}
    assert days == {1, 2, 5, 6}
    assert len(got) == 12
    # post-merge time travel: both pre-merge lineages intact
    assert _state(vt.read(version=v_main)) == main_snap
    assert _state(vt.read(version=v_exp)) == exp_snap
    # history records a merge commit with both parents
    m = vt._load_manifest(merged_v)
    assert m["operation"] == "merge"
    assert m["parent"] == v_main and m["merge_parent"] == v_exp


def test_diverged_merge_upserts_same_partition_disjoint_keys(spark, vt):
    """Both sides upserted the SAME partition but different keys:
    per-key resolution applies the branch's keyed rows on top of
    main's state instead of conflicting."""
    vt.create_branch("exp")
    up_main = spark.createDataFrame(
        [("dev0", dt.date(2024, 1, 1), 111.0)],
        "device_id string, report_date date, score double",
    )
    up_exp = spark.createDataFrame(
        [("dev1", dt.date(2024, 1, 1), 222.0)],
        "device_id string, report_date date, score double",
    )
    vt.merge_upsert(up_main, keys=["device_id", "report_date"])
    vt.merge_upsert(up_exp, keys=["device_id", "report_date"], branch="exp")
    vt.merge_branch("exp")
    got = {
        (r[0], r[1].day): r[2]
        for r in _state(vt.read())
    }
    assert got[("dev0", 1)] == 111.0  # main's upsert kept
    assert got[("dev1", 1)] == 222.0  # branch's upsert applied
    assert got[("dev2", 1)] == 10.0  # untouched row survives once
    assert len(got) == 6  # no duplicated rows from the double rewrite


def test_diverged_merge_conflicting_keys_is_loud(spark, vt):
    from datalakehouse_spark.versioned import MergeConflictError

    vt.create_branch("exp")
    up = spark.createDataFrame(
        [("dev0", dt.date(2024, 1, 1), 1.0)],
        "device_id string, report_date date, score double",
    )
    vt.merge_upsert(up, keys=["device_id", "report_date"])
    vt.merge_upsert(up, keys=["device_id", "report_date"], branch="exp")
    with pytest.raises(MergeConflictError, match="dev0") as ei:
        vt.merge_branch("exp")
    assert ei.value.keys  # offending keys carried on the error


def test_diverged_merge_delete_vs_upsert_conflicts_on_partition(spark, vt):
    from datalakehouse_spark.versioned import MergeConflictError

    vt.create_branch("exp")
    vt.delete_where("report_date = DATE '2024-01-01'")
    up = spark.createDataFrame(
        [("dev1", dt.date(2024, 1, 1), 2.0)],
        "device_id string, report_date date, score double",
    )
    vt.merge_upsert(up, keys=["device_id", "report_date"], branch="exp")
    with pytest.raises(MergeConflictError, match="partitions"):
        vt.merge_branch("exp")


def test_merge_noop_when_into_contains_branch(spark, vt):
    vt.create_branch("exp")
    vt.append(_rows(spark, days=[5]))  # only main moves
    v = vt.current_version()
    assert vt.merge_branch("exp") == v  # branch adds nothing; no-op
    assert vt.current_version() == v


def test_incremental_read_returns_only_the_delta(spark, vt):
    v1 = vt.current_version()
    vt.append(_rows(spark, days=[3, 4], score=20.0))
    delta = vt.incremental_read(v1, vt.current_version())
    assert delta.count() == 6
    assert {r.report_date for r in delta.select("report_date").collect()} == {
        dt.date(2024, 1, 3),
        dt.date(2024, 1, 4),
    }


def test_incremental_read_across_compaction(spark, vt):
    """A compaction inside the interval (a ``replace`` commit that
    rewrites appended files together with older ones) is no logical
    change: exactly the appended rows come back."""
    v1 = vt.current_version()
    vt.append(_rows(spark, days=[3, 4], score=20.0))
    vt.append(_rows(spark, days=[1, 4], score=30.0))
    assert vt.compact(min_files=2)["compacted"]
    assert vt.history()[-1]["operation"] == "replace"
    vt.append(_rows(spark, days=[5], score=40.0))
    delta = vt.incremental_read(v1, vt.current_version())
    want = (
        _state(_rows(spark, days=[3, 4], score=20.0))
        + _state(_rows(spark, days=[1, 4], score=30.0))
        + _state(_rows(spark, days=[5], score=40.0))
    )
    assert _state(delta) == sorted(want)


def test_partition_dtype_same_with_and_without_recorded_schema(spark, tmp_path):
    """A string partition column holding dates reads with ONE dtype at
    every version: the version with a recorded schema (v1) and the
    add-column version without one (v2) both infer it from the path."""
    t = VersionedTable(spark, str(tmp_path / "pd"), partition_by=["day"])
    rows = spark.createDataFrame([(1, "2024-01-01")], "id long, day string")
    t.create(rows)
    t.append(rows.withColumn("extra", F.lit(1.0)))
    v1_type = t.read(version=1).schema["day"].dataType
    assert t.read(merge_schema=True).schema["day"].dataType == v1_type
    assert t.read().schema["day"].dataType == v1_type


def test_expire_keeps_all_branch_heads(spark, vt):
    vt.create_branch("exp")
    vt.merge_upsert(
        _rows(spark, days=[1], score=50.0), keys=["device_id", "report_date"], branch="exp"
    )
    vt.merge_upsert(_rows(spark, days=[2], score=60.0), keys=["device_id", "report_date"])
    removed = vt.expire_versions(keep_last=1)
    assert 2 not in removed["versions"] and 3 not in removed["versions"]
    # both heads still read fine after GC
    assert vt.read().count() == 6
    assert vt.read(ref="exp").count() == 6


def test_versioned_model_based_random_ops(spark, tmp_path):
    """Model-based check: a deterministic pseudo-random sequence of
    create/append/upsert/delete/rollback must keep (a) the latest state
    equal to a pure-python dict model and (b) EVERY historical version
    equal to the model snapshot taken at its commit."""
    import random

    rng = random.Random(20260813)
    t = VersionedTable(spark, str(tmp_path / "m"), partition_by=["report_date"])

    def mk(rows):
        return spark.createDataFrame(
            [(d, dt.date(2024, 1, day), s) for d, day, s in rows],
            "device_id string, report_date date, score double",
        )

    model: dict[tuple, float] = {}
    snapshots: dict[int, dict] = {}

    def key(d, day):
        return (d, dt.date(2024, 1, day))

    # v1: create
    rows = [(f"dev{i}", 1 + i % 3, 1.0) for i in range(6)]
    v = t.create(mk(rows))
    model = {key(d, day): s for d, day, s in rows}
    snapshots[v] = dict(model)

    for step in range(8):
        op = rng.choice(["append", "upsert", "delete", "rollback"])
        if op == "append":
            rows = [(f"new{step}_{i}", 1 + rng.randrange(5), float(step)) for i in range(3)]
            v = t.append(mk(rows))
            for d, day, s in rows:
                model[key(d, day)] = s
        elif op == "upsert":
            rows = [(f"dev{i}", 1 + rng.randrange(3), 100.0 + step) for i in range(2)]
            v = t.merge_upsert(mk(rows), keys=["device_id", "report_date"])
            for d, day, s in rows:
                model[key(d, day)] = s
        elif op == "delete":
            cut = rng.choice([50.0, 99.0])
            v = t.delete_where(F.col("score") >= cut)
            model = {k: s for k, s in model.items() if not (s >= cut)}
        else:
            target = rng.choice(sorted(snapshots))
            v = t.rollback(target)
            model = dict(snapshots[target])
        snapshots[v] = dict(model)

    def read_state(version=None):
        return {
            (r.device_id, r.report_date): r.score
            for r in t.read(version=version).collect()
        }

    assert read_state() == model
    for v, snap in snapshots.items():
        assert read_state(version=v) == snap, f"version {v} drifted from its snapshot"


def test_branch_schema_evolution_merge_and_read_both(spark, tmp_path):
    """Round-5: add-column evolution ON A BRANCH — main's schema and
    rows are untouched until the FF merge; after it, a mergeSchema read
    of main surfaces NULL for the added column on pre-evolution files
    and values on branch-written files, and time travel still serves
    the pre-evolution version under the old schema."""
    from datalakehouse_spark.versioned import VersionedTable

    t = VersionedTable(spark, str(tmp_path / "t"))
    v1 = t.create(
        spark.createDataFrame([(1, 10.0), (2, 20.0)], "id long, value double")
    )
    t.create_branch("evolve")
    t.append(
        spark.createDataFrame([(3, 30.0, 0.5)], "id long, value double, quality double"),
        branch="evolve",
    )
    # branch isolation: main head has no quality column, branch does
    assert "quality" not in t.read().columns
    assert "quality" in t.read(ref="evolve", merge_schema=True).columns
    t.merge_branch("evolve")
    merged = t.read(merge_schema=True).orderBy("id").collect()
    assert [r.quality for r in merged] == [None, None, 0.5]
    assert [r.value for r in merged] == [10.0, 20.0, 30.0]
    # time travel to the pre-evolution commit keeps the v1 schema
    assert "quality" not in t.read(version=v1).columns


# ---------------------------------------------------------------------------
# Property-based three-way merge: random divergence vs a Python model
# ---------------------------------------------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st


def _mk_table(spark, base_dir, tag):
    rows = [
        (f"dev{d}", dt.date(2024, 1, day), 10.0)
        for d in range(6)
        for day in (1, 2)
    ]
    df = spark.createDataFrame(
        rows, "device_id string, report_date date, score double"
    )
    t = VersionedTable(
        spark, os.path.join(base_dir, f"pvt_{tag}"), partition_by=["report_date"]
    )
    t.create(df)
    return t


def _up(spark, dev, day, score):
    return spark.createDataFrame(
        [(f"dev{dev}", dt.date(2024, 1, day), score)],
        "device_id string, report_date date, score double",
    )


_K = ["device_id", "report_date"]


@settings(max_examples=6, deadline=None)
@given(
    main_ops=st.lists(
        st.tuples(st.integers(0, 2), st.integers(1, 3), st.integers(11, 99)),
        min_size=1, max_size=3,
    ),
    exp_ops=st.lists(
        st.tuples(st.integers(3, 5), st.integers(1, 3), st.integers(11, 99)),
        min_size=1, max_size=3,
    ),
    main_append=st.booleans(),
    exp_append=st.booleans(),
)
def test_diverged_merge_matches_model(
    spark, tmp_path_factory, main_ops, exp_ops, main_append, exp_append
):
    """Random multi-commit divergence — main upserts keys from dev0-2,
    exp from dev3-5 (disjoint by construction), over OVERLAPPING
    partitions (days 1-3, so both clean-union and per-key paths fire
    depending on the draw), plus optional appends of brand-new days —
    and the merged state must equal the obvious Python model: base
    state + every op applied, branch order irrelevant because the key
    pools are disjoint.  One property run covers commit-DAG walking,
    file-diff classification, per-key re-application, and manifest
    carry-over in combination, where the scenario tests pin each path
    in isolation."""
    base = str(tmp_path_factory.mktemp("pvt"))
    t = _mk_table(spark, base, "model")
    t.create_branch("exp")

    model = {
        (f"dev{d}", dt.date(2024, 1, day)): 10.0
        for d in range(6)
        for day in (1, 2)
    }
    for dev, day, s in main_ops:
        t.merge_upsert(_up(spark, dev, day, float(s)), keys=_K)
        model[(f"dev{dev}", dt.date(2024, 1, day))] = float(s)
    for dev, day, s in exp_ops:
        t.merge_upsert(_up(spark, dev, day, float(s)), keys=_K, branch="exp")
        model[(f"dev{dev}", dt.date(2024, 1, day))] = float(s)
    if main_append:
        t.append(_up(spark, 0, 7, 70.0))
        model[("dev0", dt.date(2024, 1, 7))] = 70.0
    if exp_append:
        t.append(_up(spark, 5, 8, 80.0), branch="exp")
        model[("dev5", dt.date(2024, 1, 8))] = 80.0

    pre_main, pre_exp = t.current_version(), t.current_version("exp")
    snap_main, snap_exp = _state(t.read()), _state(t.read(ref="exp"))

    t.merge_branch("exp")
    got = {(r[0], r[1]): r[2] for r in _state(t.read())}
    assert got == model
    # row count check catches silent duplication the dict would mask
    assert t.read().count() == len(model)
    # both pre-merge lineages stay time-travelable
    assert _state(t.read(version=pre_main)) == snap_main
    assert _state(t.read(version=pre_exp)) == snap_exp


@settings(max_examples=4, deadline=None)
@given(
    dev=st.integers(0, 5),
    day=st.integers(1, 2),
    extra_main=st.lists(
        st.tuples(st.integers(0, 2), st.integers(1, 3)), max_size=2
    ),
)
def test_diverged_merge_shared_key_always_conflicts(
    spark, tmp_path_factory, dev, day, extra_main
):
    """ANY draw where both sides upsert the same (device, day) must
    raise MergeConflictError carrying that key — regardless of what
    other commits surround it."""
    from datalakehouse_spark.versioned import MergeConflictError

    base = str(tmp_path_factory.mktemp("pvtc"))
    t = _mk_table(spark, base, "conflict")
    t.create_branch("exp")
    for d2, day2 in extra_main:
        t.merge_upsert(_up(spark, d2, day2, 55.0), keys=_K)
    t.merge_upsert(_up(spark, dev, day, 1.0), keys=_K)
    t.merge_upsert(_up(spark, dev, day, 2.0), keys=_K, branch="exp")
    with pytest.raises(MergeConflictError) as ei:
        t.merge_branch("exp")
    assert any(f"dev{dev}" in str(k) for k in (ei.value.keys or []))


# -- round 10: typed key sidecars + expired-ancestor guard ------------------


def test_diverged_merge_large_disjoint_key_sets(spark, tmp_path):
    """1M disjoint upsert keys per side in the SAME partition merge
    cleanly — the key sidecar is a typed parquet set, not a collected
    / capped driver list, so per-key resolution holds at any upsert
    cardinality (the former 100k cap degraded this merge to a
    partition-level conflict)."""
    t = VersionedTable(spark, str(tmp_path / "big"), partition_by=["report_date"])
    day = dt.date(2024, 1, 1)

    def ids(lo, hi, score):
        return (
            spark.range(lo, hi)
            .select(
                F.concat(F.lit("dev"), F.col("id")).alias("device_id"),
                F.lit(day).alias("report_date"),
                F.lit(score).alias("score"),
            )
        )

    t.create(ids(0, 10, 1.0))
    t.create_branch("exp")
    t.merge_upsert(ids(0, 1_000_000, 2.0), keys=["device_id", "report_date"])
    t.merge_upsert(
        ids(1_000_000, 2_000_000, 3.0),
        keys=["device_id", "report_date"],
        branch="exp",
    )
    t.merge_branch("exp")
    out = t.read()
    assert out.count() == 2_000_000
    agg = {
        r["score"]: r["n"]
        for r in out.groupBy("score").agg(F.count("*").alias("n")).collect()
    }
    assert agg == {2.0: 1_000_000, 3.0: 1_000_000}


def test_diverged_merge_typed_keys_no_canonical_form_mismatch(spark, tmp_path):
    """Boolean + fractional-second timestamp key columns: recorded keys
    are compared as TYPED values, so forms Python str() and Spark
    cast('string') disagree on (True vs true, 00:00:00.500000 vs
    00:00:00.5) still match and the branch's rows survive the merge."""
    from datalakehouse_spark.versioned import MergeConflictError

    t = VersionedTable(spark, str(tmp_path / "typed"), partition_by=["report_date"])
    day = dt.date(2024, 1, 1)
    ts_half = dt.datetime(2024, 1, 1, 0, 0, 0, 500000)
    ts_other = dt.datetime(2024, 1, 1, 0, 0, 0, 250000)
    schema = "flag boolean, event_ts timestamp, report_date date, score double"
    t.create(
        spark.createDataFrame(
            [(True, ts_half, day, 0.0), (False, ts_other, day, 0.0)], schema
        )
    )
    t.create_branch("exp")
    keys = ["flag", "event_ts", "report_date"]
    t.merge_upsert(
        spark.createDataFrame([(True, ts_half, day, 1.0)], schema), keys=keys
    )
    t.merge_upsert(
        spark.createDataFrame([(False, ts_other, day, 2.0)], schema),
        keys=keys,
        branch="exp",
    )
    t.merge_branch("exp")
    got = {(r["flag"]): r["score"] for r in t.read().collect()}
    # branch row APPLIED (score 2.0), main row KEPT (1.0) — before the
    # typed-sidecar fix the branch row was silently dropped
    assert got == {True: 1.0, False: 2.0}
    # and a genuine overlap on such keys still conflicts loudly
    t.create_branch("exp2")
    t.merge_upsert(
        spark.createDataFrame([(True, ts_half, day, 3.0)], schema), keys=keys
    )
    t.merge_upsert(
        spark.createDataFrame([(True, ts_half, day, 4.0)], schema),
        keys=keys,
        branch="exp2",
    )
    with pytest.raises(MergeConflictError):
        t.merge_branch("exp2")


def test_sidecar_key_types_normalized_across_commits(spark, tmp_path):
    """ADVICE r10: source frames carrying NARROWER key types than the
    table (int vs long device ids) across different commits must still
    merge per-key — sidecars are cast to the TABLE schema's types at
    write time, so the multi-path sidecar union in _upsert_keys_for
    can neither fail nor silently coerce."""
    t = VersionedTable(spark, str(tmp_path / "drift"), partition_by=["report_date"])
    day = dt.date(2024, 1, 1)

    def frame(dev_type, dev, score):
        return spark.createDataFrame(
            [(dev, day, score)],
            f"device_id {dev_type}, report_date date, score double",
        )

    t.create(frame("long", 1, 0.0).unionByName(frame("long", 2, 0.0)))
    t.create_branch("exp")
    # main upserts with an INT-typed source, exp with LONG — disjoint
    # keys in the SAME partition, so per-key resolution must engage
    # and union both sidecars (one int-written-as-long, one long)
    t.merge_upsert(frame("int", 1, 1.0), keys=["device_id", "report_date"])
    t.merge_upsert(
        frame("long", 2, 2.0), keys=["device_id", "report_date"], branch="exp"
    )
    # a second main commit, int-typed again, to force a multi-sidecar
    # union on the main side as well
    t.merge_upsert(frame("int", 1, 3.0), keys=["device_id", "report_date"])
    t.merge_branch("exp")
    got = {r["device_id"]: r["score"] for r in t.read().collect()}
    assert got == {1: 3.0, 2: 2.0}
    # the committed data files carry the TABLE's long type (the 0-row
    # target union widens the int source before the write), so the
    # key frames _upsert_keys_for derives from them union cleanly
    for v in (2, 4):  # the two int-sourced main upserts
        mk = t._load_manifest(v)["merge_keys"]
        kf = spark.read.option("basePath", t.data_dir).parquet(
            *[f"{t.data_dir}/{p}" for p in mk["src_files"]]
        )
        assert dict(kf.dtypes)["device_id"] == "bigint", v


def test_merge_after_ancestor_expired_refuses_loudly(spark, vt):
    """expire_versions(keep_last=1) with a live diverged branch kills
    the common ancestor; a later merge must REFUSE rather than diff
    against an empty base and duplicate every shared row."""
    from datalakehouse_spark.versioned import MergeConflictError

    vt.create_branch("exp")
    vt.append(_rows(spark, days=[3]))
    vt.append(_rows(spark, days=[4]), branch="exp")
    vt.expire_versions(keep_last=1)  # drops v1, the common ancestor
    with pytest.raises(MergeConflictError, match="ancestor"):
        vt.merge_branch("exp")
    # both heads remain readable and correct after the refusal
    assert vt.read().count() == 9
    assert vt.read(ref="exp").count() == 9


def test_expire_versions_removes_key_sidecars(spark, vt):
    """Round 11: merge_upsert records POINTERS to its own source data
    files (merge_keys.src_files) — no separate sidecar exists to GC,
    and expire keeps a surviving commit's key-source files exactly as
    long as its manifest."""
    vt.merge_upsert(
        _rows(spark, days=[1], score=50.0), keys=["device_id", "report_date"]
    )
    vt.merge_upsert(
        _rows(spark, days=[2], score=60.0), keys=["device_id", "report_date"]
    )
    # no keys dir, src_files recorded and part of the commit's own
    # file list
    keys_dir = os.path.join(vt.log_dir, "keys")
    assert not os.path.isdir(keys_dir) or not os.listdir(keys_dir)
    m2 = vt._load_manifest(2)
    assert m2["merge_keys"]["src_files"]
    manifest_paths = {e["path"] for e in m2["files"]}
    assert set(m2["merge_keys"]["src_files"]) <= manifest_paths

    vt.expire_versions(keep_last=1)
    for p in vt._load_manifest(3)["merge_keys"]["src_files"]:
        assert os.path.exists(os.path.join(vt.data_dir, p))
    assert vt.read().count() == 6


def test_legacy_key_sidecar_manifest_refuses_per_key_merge(spark, vt):
    """A pre-round-11 manifest names a ``merge_keys.path`` sidecar and
    no ``src_files``: it is not key-recorded, so a merge that needs its
    keys refuses loudly instead of reading the sidecar."""
    import json as _json

    from datalakehouse_spark.versioned import MergeConflictError

    keys = ["device_id", "report_date"]
    day1 = dt.date(2024, 1, 1)
    schema = "device_id string, report_date date, score double"
    vt.create_branch("exp")
    vt.merge_upsert(spark.createDataFrame([("dev0", day1, 1.0)], schema), keys=keys)
    vt.merge_upsert(
        spark.createDataFrame([("dev9", day1, 2.0)], schema), keys=keys, branch="exp"
    )
    m2 = vt._load_manifest(2)
    m2["merge_keys"] = {"columns": keys, "path": os.path.join("keys", "legacy")}
    with open(vt._manifest_path(2), "w") as fh:
        _json.dump(m2, fh)
    with pytest.raises(MergeConflictError):
        vt.merge_branch("exp")


@pytest.fixture()
def vt40(spark, tmp_path):
    """An unpartitioned table whose head holds 40 files: above Spark's
    default parallel-listing threshold of 32 paths."""
    t = VersionedTable(spark, str(tmp_path / "vt40"))
    t.create(spark.range(0, 400, 1, numPartitions=40))
    assert len(t.head_files()) == 40
    return t


def test_head_read_runs_no_spark_job(spark, vt40, last_job_id):
    before = last_job_id()
    df = vt40.read()
    assert last_job_id() == before
    assert df.count() == 400


def test_unchanged_head_is_planned_once(spark, vt40):
    head = vt40.read()
    assert vt40.read() is head
    assert vt40.read(version=vt40.current_version()) is head
    # the merge flag is part of the key
    merged = vt40.read(merge_schema=True)
    assert merged is not head
    assert vt40.read(merge_schema=True) is merged


def test_head_read_after_append_sees_new_version(spark, vt40):
    first = vt40.read()
    vt40.append(spark.range(400, 410, 1, numPartitions=1))
    second = vt40.read()
    assert second is not first
    assert second.count() == 410
    assert first.count() == 400  # the old version's DataFrame is unchanged


def test_expired_version_in_slot_still_raises(spark, vt40):
    v1 = vt40.current_version()
    vt40.read(version=v1)
    vt40.append(spark.range(400, 410, 1, numPartitions=1))
    # expired by another handle on the same table: this handle's slot
    # still holds v1, and the hit's manifest check must refuse it
    VersionedTable(spark, vt40.path).expire_versions(keep_last=1)
    with pytest.raises(ValueError):
        vt40.read(version=v1)
    # expired through this handle: the slot is emptied
    v2 = vt40.current_version()
    vt40.read(version=v2)
    vt40.append(spark.range(410, 420, 1, numPartitions=1))
    vt40.expire_versions(keep_last=1)
    assert vt40._read_slot is None
    with pytest.raises(ValueError):
        vt40.read(version=v2)
    assert vt40.read().count() == 420


# -- the commit protocol: no lost update, no replacing write ----------------


def test_two_writers_never_lose_an_update_silently(spark, tmp_path):
    """Two handles on one table, 15 appends of 10 rows each, racing: an
    append either returns a version whose rows stay at head, or raises
    CommitConflictError.  A commit over a stale base that dropped the
    other writer's files would leave fewer head rows than the appends
    that returned."""
    import threading

    from datalakehouse_spark.versioned import CommitConflictError

    path = str(tmp_path / "race")
    VersionedTable(spark, path).create(spark.createDataFrame([(-1, 0)], "w int, i int"))
    outcomes: list = []

    def writer(w):
        vt = VersionedTable(spark, path)
        for i in range(15):
            df = spark.createDataFrame(
                [(w, 10 * i + k) for k in range(10)], "w int, i int"
            )
            try:
                outcomes.append(vt.append(df))
            except Exception as e:  # noqa: BLE001 - asserted below
                outcomes.append(e)

    threads = [threading.Thread(target=writer, args=(w,)) for w in (0, 1)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    committed = [o for o in outcomes if isinstance(o, int)]
    failed = [o for o in outcomes if not isinstance(o, int)]
    assert len(outcomes) == 30
    assert all(isinstance(e, CommitConflictError) for e in failed), failed
    vt = VersionedTable(spark, path)
    assert vt.read().count() == 1 + 10 * len(committed)
    history = [h["version"] for h in vt.history()]
    assert sorted(committed) == history[1:]


def _crash_at_ref(monkeypatch, t) -> list[str]:
    """Make linking a refs record of ``t`` raise; returns the list the
    link destinations are appended to, relative to ``_log``."""
    real = os.link
    linked: list[str] = []

    def link(src, dst):
        linked.append(os.path.relpath(dst, t.log_dir))
        if os.path.dirname(dst) == t.refs_dir:
            raise OSError("injected crash at the ref")
        return real(src, dst)

    monkeypatch.setattr(os, "link", link)
    return linked


def test_crash_between_manifest_and_ref_leaves_table_readable(spark, vt, monkeypatch):
    """A crash after the manifest is linked but before the refs record
    is: the branch stays at its old head, and the next commit takes the
    next free version number past the orphan manifest."""
    before = _state(vt.read())
    linked = _crash_at_ref(monkeypatch, vt)
    with pytest.raises(OSError, match="injected"):
        vt.append(_rows(spark, days=[3]))
    monkeypatch.undo()
    assert linked == ["v00002.json", os.path.join("refs", "00000002.json")]
    assert vt.current_version() == 1 and _state(vt.read()) == before
    assert vt.append(_rows(spark, days=[4])) == 3
    assert [h["version"] for h in vt.history()] == [1, 3]
    assert vt.read().count() == 9


def test_first_commit_crashed_before_its_ref_is_not_head(spark, tmp_path, monkeypatch):
    """Only a refs record makes a version a head, the first one too."""
    t = VersionedTable(spark, str(tmp_path / "fresh"), partition_by=["report_date"])
    _crash_at_ref(monkeypatch, t)
    with pytest.raises(OSError, match="injected"):
        t.create(_rows(spark, days=[1]))
    monkeypatch.undo()
    assert t.refs() == {} and t.current_version() == 0
    assert t.create(_rows(spark, days=[2])) == 2
    assert [h["version"] for h in t.history()] == [2]
    assert t.read().count() == 3


def test_losing_commit_never_frees_its_version_number(spark, vt):
    """A commit over a stale base raises and leaves its manifest behind:
    the next commit takes a new number, so a version number always names
    the same files (a reader's head-read slot is keyed by it)."""
    from datalakehouse_spark.versioned import CommitConflictError

    assert vt.append(_rows(spark, days=[3])) == 2
    with pytest.raises(CommitConflictError):
        vt._commit("append", vt.head_files(), parent=1)
    assert os.path.exists(vt._manifest_path(3))
    assert vt.append(_rows(spark, days=[4])) == 4
    assert [h["version"] for h in vt.history()] == [1, 2, 4]
    assert vt.read().count() == 12
    assert 3 in vt.expire_versions(keep_last=3)["versions"]


def test_refs_stay_one_record_at_any_history_length(spark, tmp_path):
    """Each ref move deletes the records it supersedes, so a head read
    lists one record whatever the number of commits."""
    t = VersionedTable(spark, str(tmp_path / "long"))
    for v in range(1, 301):
        t._commit("append", [], v - 1)
    t.create_branch("exp")
    assert os.listdir(t.refs_dir) == ["00000301.json"]
    assert t.refs() == {"main": 300, "exp": 300}


def test_a_freed_record_number_is_not_taken_again(tmp_path):
    """A writer that read a long-superseded refs record must not slip a
    record in beneath the newest one: creating under a number that
    ``remove_below`` freed fails like a taken number."""
    from datalakehouse_spark import records

    d = str(tmp_path)
    assert records.create(d, "", 1, {"main": 1})
    assert records.create(d, "", 2, {"main": 2})
    records.remove_below(d, "", 2)
    assert not records.create(d, "", 1, {"main": 7})
    assert os.listdir(d) == ["00000002.json"]
    assert records.latest(d, "") == (2, {"main": 2})


def _refuse_existing(fn):
    def call(src, dst, *args, **kwargs):
        if os.path.exists(dst):
            raise AssertionError(f"commit path replaced an existing file: {dst}")
        return fn(src, dst, *args, **kwargs)

    return staticmethod(call)


class _NoReplaceOs:
    """The ``os`` module as a patched module sees it, except that a
    rename or replace onto an existing file raises."""

    def __getattr__(self, name):
        return getattr(os, name)

    rename = _refuse_existing(os.rename)
    replace = _refuse_existing(os.replace)


def test_no_commit_path_replaces_an_existing_file(spark, tmp_path, monkeypatch):
    """Every table operation and a filebus offset commit publish new
    names only: a replacing rename costs a data flush on ext4 (and was
    how a racing writer's manifest got overwritten)."""
    from datalakehouse_spark import records
    from datalakehouse_spark import versioned as versioned_mod
    from datalakehouse_spark.sources import filebus

    guarded = _NoReplaceOs()
    victim = tmp_path / "victim"
    victim.write_text("x")
    with pytest.raises(AssertionError):  # the guard itself can see a replace
        guarded.replace(str(tmp_path / "missing-src"), str(victim))
    for mod in (versioned_mod, filebus, records):
        monkeypatch.setattr(mod, "os", guarded)

    t = VersionedTable(spark, str(tmp_path / "t"), partition_by=["report_date"])
    t.create(_rows(spark, days=[1, 2]))
    t.append(_rows(spark, days=[2, 3]))
    t.merge_upsert(_rows(spark, days=[3], score=5.0), keys=["device_id", "report_date"])
    t.delete_where(F.col("report_date") == dt.date(2024, 1, 1))  # metadata-only
    t.delete_where(F.col("score") > 6.0)  # rewrites files
    t.compact()
    t.create_branch("ff")
    t.append(_rows(spark, days=[4]), branch="ff")
    t.merge_branch("ff")  # fast-forward
    t.create_branch("exp")
    t.append(_rows(spark, days=[5]), branch="exp")
    t.append(_rows(spark, days=[6]))
    t.merge_branch("exp")  # three-way
    t.rollback(2)
    t.expire_versions(keep_last=1)
    assert t.read().count() == 12

    opts = {"path": str(tmp_path / "bus"), "subscribe": "topic", "kafka.group.id": "g"}
    reader = filebus.FileBusStreamReader(opts)
    reader.commit({"0": 3})
    reader.commit({"0": 5, "1": 2})
    assert filebus.FileBusStreamReader(opts)._load_committed() == {"0": 5, "1": 2}


@pytest.mark.parametrize(
    "partition_by, pred, metadata_only",
    [
        (["p"], lambda df: df["p"] == 1, True),
        (["p"], lambda df: (df["p"] == 1) & (df["id"] >= 0), False),
        ([], lambda df: df["p"] == 1, False),
    ],
    ids=["partitioned_manifest", "partitioned_scan", "unpartitioned"],
)
def test_delete_where_accepts_a_column_of_the_tables_own_read(
    spark, tmp_path, last_job_id, partition_by, pred, metadata_only
):
    """A predicate built from the frame the table returned
    (``t.read()["p"] == 1``) deletes what ``"p = 1"`` deletes, on the
    manifest path (still no job) and on both scan paths."""
    src = spark.createDataFrame(
        [(i, i % 3, f"s{i}") for i in range(12)], "id long, p long, s string"
    )
    bound = VersionedTable(spark, str(tmp_path / "bound"), partition_by=partition_by)
    by_sql = VersionedTable(spark, str(tmp_path / "sql"), partition_by=partition_by)
    bound.create(src)
    by_sql.create(src)

    j0 = last_job_id()
    bound.delete_where(pred(bound.read()))
    assert (last_job_id() == j0) == metadata_only
    by_sql.delete_where("p = 1")
    got = sorted(map(tuple, bound.read().collect()))
    assert got == sorted(map(tuple, by_sql.read().collect()))
    assert len(got) == 8 and all(r[1] != 1 for r in got)
