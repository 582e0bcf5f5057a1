"""The subword-tokenizer skeleton (operators/bpe.py) as each family
wires into it: BPE, WordPiece and Unigram-LM.

Pins: every trainer's rank table plans as an Arrow ``LocalRelation``
(collecting it runs no Spark job), a cold small-table train is exactly
ONE Spark job for every family (the fused probe), and both paths of a
``*_train_auto`` call apply one input rule to the learned symbols, and
an operator ships the package to a vanilla session's Python workers.
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

from datalakehouse_spark.operators.bpe import (
    BPE_SCHEMA,
    bpe_train_auto,
    merge_row,
    rank_table,
    train_merges_local,
)
from datalakehouse_spark.operators.unigram import (
    train_unigram_local,
    unigram_train_auto,
)
from datalakehouse_spark.operators.wordpiece import (
    train_wordpiece_local,
    wordpiece_train_auto,
)

FREQS = [("banana", 10), ("bandana", 7), ("anagram", 5), ("pan", 4)]

#: family -> (size-adaptive trainer, its in-memory reference)
FAMILIES = {
    "bpe": (
        lambda spark, words, **kw: bpe_train_auto(spark, words, n_merges=4, **kw),
        lambda wf: train_merges_local(wf, 4),
    ),
    "wordpiece": (
        lambda spark, words, **kw: wordpiece_train_auto(
            spark, words, n_merges=4, **kw
        ),
        lambda wf: train_wordpiece_local(wf, 4),
    ),
    "unigram": (
        lambda spark, words, **kw: unigram_train_auto(spark, words, **kw),
        train_unigram_local,
    ),
}


def _leaf(df) -> str:
    """The last node of ``df``'s analyzed logical plan."""
    plan = df._jdf.queryExecution().analyzed().toString().strip()
    return plan.splitlines()[-1]


@pytest.mark.parametrize("family", sorted(FAMILIES))
@pytest.mark.parametrize("threshold", [65536, 0], ids=["local", "distributed"])
def test_rank_table_plans_as_local_relation(spark, family, threshold):
    train, reference = FAMILIES[family]
    words = spark.createDataFrame(FREQS, "w string, f long")
    table, items = train(spark, words, local_rows_threshold=threshold)
    assert items == reference(FREQS)
    assert "LocalRelation" in _leaf(table), _leaf(table)


def test_rank_table_collect_runs_no_job(spark, last_job_id):
    merges = train_merges_local(FREQS, 4)
    table = rank_table(spark, BPE_SCHEMA, merges, merge_row)
    empty = rank_table(spark, BPE_SCHEMA, [], merge_row)
    before = last_job_id()
    rows = [tuple(r) for r in table.collect()]
    assert empty.collect() == []
    assert last_job_id() == before
    assert sorted(rows) == [
        (i + 1, left, right, left + right, c)
        for i, (left, right, c) in enumerate(merges)
    ]
    # typed exactly as the DDL, even with no rows
    want = spark.createDataFrame([], BPE_SCHEMA).schema
    assert table.schema == empty.schema == want
    # ranks may start past 1 (the versioned entries' v2 row)
    assert rank_table(spark, BPE_SCHEMA, merges[:1], merge_row, start=7).first()[0] == 7


@pytest.mark.parametrize("family", ["wordpiece", "unigram"])
def test_cold_small_table_train_is_one_job(spark, last_job_id, family):
    train, reference = FAMILIES[family]
    words = spark.createDataFrame(FREQS, "w string, f long")
    before = last_job_id()
    _, items = train(spark, words)
    jobs = last_job_id() - before
    assert items == reference(FREQS)
    assert jobs == 1, f"cold small-table {family} train ran {jobs} jobs"


@pytest.mark.parametrize("family", ["bpe", "wordpiece"])
@pytest.mark.parametrize("threshold", [65536, 0], ids=["local", "distributed"])
def test_both_paths_reject_symbols_outside_the_alphabet(spark, family, threshold):
    """A word table ``word_frequencies`` cannot produce: the merge
    learned from 'AB' is outside ``[a-z]+`` whichever path trains it."""
    train, _ = FAMILIES[family]
    words = spark.createDataFrame([("AB", 5), ("AB", 4)], "w string, f long")
    with pytest.raises(ValueError, match="alphabet"):
        train(spark, words, local_rows_threshold=threshold)


_VANILLA_DRIVER = """
import sys
sys.path.insert(0, sys.argv[1])
from pyspark.sql import SparkSession
spark = (
    SparkSession.builder.master("local[2]").config("spark.ui.enabled", "false").getOrCreate()
)
from datalakehouse_spark.operators.bpe import bpe_train_auto
words = spark.createDataFrame(
    [("banana", 10), ("bandana", 7), ("anagram", 5), ("pan", 4)], "w string, f long"
)
print("merges", len(bpe_train_auto(spark, words, n_merges=4)[1]))
spark.stop()
"""


def test_operator_ships_the_package_to_a_vanilla_session(tmp_path):
    """A vanilla session (no ``load_table`` has run, so no session
    contract) whose driver has the repo only on ``sys.path``: the
    trainer's ``mapInPandas`` tasks unpickle package functions by
    import path, so the operator itself must ship the package to the
    Python workers, or every task fails with ModuleNotFoundError."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p
        for p in env.get("PYTHONPATH", "").split(os.pathsep)
        if p and os.path.abspath(p) != repo
    )
    proc = subprocess.run(
        [sys.executable, "-c", _VANILLA_DRIVER, repo],
        cwd=tmp_path,  # not the repo: a worker must not import it from its cwd
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "merges 4" in proc.stdout
