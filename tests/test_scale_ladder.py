"""tools/scale_ladder.py: the synthesizer's invariants and the ladder's rows.

A ladder step is only comparable with its base step if the grown
fixtures read like the base: same schema (so the same read path), the
same per-copy structure (keys, joins, name blocks, text statistics) and
distinct copies (no cross-copy duplicates for the dedup entries)."""

from __future__ import annotations

import os
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from datalakehouse_spark.io import load_table
from datalakehouse_spark.operators.dedup import prefix_digest
from tools.scale_ladder import KEYS, ladder, synthesize

LADDER = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools", "scale_ladder.py")
MULT = 3
LADDER_KEYS = {"entry", "mult", "s", "rate_vs_base", "holds", "plan_stable"}


@pytest.fixture(scope="module")
def grown(spark, sf_small, tmp_path_factory):
    return synthesize(spark, sf_small, MULT, str(tmp_path_factory.mktemp("ladder")))


def _read(spark, sf_dir, table):
    return spark.read.parquet(os.path.join(sf_dir, f"{table}.parquet"))


def _base_tables(sf_dir):
    return sorted(f.removesuffix(".parquet") for f in os.listdir(sf_dir))


def _arrow_types(path):
    # a timestamp's UTC-adjusted flag is how Spark marks TIMESTAMP versus
    # TIMESTAMP_NTZ, so it follows the engine-read type checked below
    return [
        (f.name, pa.timestamp(f.type.unit) if pa.types.is_timestamp(f.type) else f.type)
        for f in pq.read_schema(path)
    ]


def test_every_table_keeps_its_base_schema(spark, sf_small, grown):
    for table in _base_tables(sf_small):
        grown_path = os.path.join(grown, f"{table}.parquet")
        assert os.path.exists(grown_path), table
        assert load_table(spark, grown, table).dtypes == load_table(spark, sf_small, table).dtypes, table
        files = sorted(f for f in os.listdir(grown_path) if f.endswith(".parquet"))
        for f in files:
            assert _arrow_types(os.path.join(grown_path, f)) == _arrow_types(
                os.path.join(sf_small, f"{table}.parquet")
            ), (table, f)


def test_grown_tables_hold_mult_copies_and_copy_0_is_the_base(spark, sf_small, grown):
    for table in _base_tables(sf_small):
        base, big = _read(spark, sf_small, table), _read(spark, grown, table)
        assert big.count() == (MULT if table in KEYS else 1) * base.count(), table
        assert base.exceptAll(big).count() == 0, table


def test_keys_are_disjoint_across_copies(spark, sf_small, grown):
    for table, keys in KEYS.items():
        base, big = _read(spark, sf_small, table), _read(spark, grown, table)
        for k in keys:
            n = base.select(k).distinct().count()
            assert big.select(k).distinct().count() == MULT * n, (table, k)


def test_n_chars_is_the_text_length(spark, grown):
    docs = _read(spark, grown, "documents")
    assert docs.where(F.col("n_chars") != F.length("text")).count() == 0


def test_each_copy_has_its_own_prefix_digests(spark, sf_small, grown):
    def digests(sf_dir):
        return _read(spark, sf_dir, "documents").select(prefix_digest("text")).distinct().count()

    assert digests(grown) == MULT * digests(sf_small)


def test_joins_stay_inside_one_copy(spark, sf_small, grown):
    def joined(sf_dir):
        orders = _read(spark, sf_dir, "orders")
        return (
            orders.join(_read(spark, sf_dir, "customer"), F.col("o_custkey") == F.col("c_custkey")).count(),
            _read(spark, sf_dir, "lineitem").join(orders, F.col("l_orderkey") == F.col("o_orderkey")).count(),
        )

    assert joined(grown) == tuple(MULT * n for n in joined(sf_small))


def test_name_prefix_blocks_keep_their_size(spark, sf_small, grown):
    def largest_block(sf_dir):
        blocks = _read(spark, sf_dir, "customer").groupBy(F.substring("c_name", 1, 16)).count()
        return blocks.agg(F.max("count")).first()[0]

    assert largest_block(grown) == largest_block(sf_small)


def test_ladder_prints_one_row_per_entry_and_mult(spark, sf_small, tmp_path):
    sf_dirs = {m: synthesize(spark, sf_small, m, str(tmp_path)) for m in (1, 2)}
    rows = list(ladder(spark, ["near_dup_pairs", "pq_build_stats"], sf_dirs))
    assert [(r["entry"], r["mult"]) for r in rows] == [
        ("near_dup_pairs", 1), ("near_dup_pairs", 2), ("pq_build_stats", 1), ("pq_build_stats", 2),
    ]
    for r in rows:
        assert set(r) == LADDER_KEYS, r
        assert r["s"] > 0 and r["rate_vs_base"] > 0
        assert isinstance(r["holds"], bool) and isinstance(r["plan_stable"], bool)
    assert all(r["rate_vs_base"] == 1.0 and r["plan_stable"] for r in rows if r["mult"] == 1)


def test_unknown_entry_exits_nonzero():
    proc = subprocess.run(
        [sys.executable, LADDER, "no_such_entry"],
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode != 0
    assert "no_such_entry" in proc.stderr
