"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash -> CORRECTNESS_r{N}.json).  Both dicts list
entries in registration order (``registry.REGISTRY``), the same order
bench.py and ``oracle_check.run_all`` use.

Implementation lives in the ``datalakehouse_spark`` package; this module
is the thin wiring the driver imports.

Eager-build contract (for any future driver change): most
``queries()[name]`` callables are LAZY — they return an unevaluated
DataFrame and all Spark work happens when the driver acts on it.  The
entries whose ``registry.REGISTRY[name].eager`` is set do REAL work at
call time: streaming drains to a sink (e.g. ``filebus_kafka_ingest``,
``streaming_incremental_mv``), persisted index/table builds (IVF/PQ,
versioned tables), or bounded driver-side literals (sampled split
points).  Calling one twice executes that work twice, and building all
DataFrames up-front before running any would serialize their build
costs — keep per-entry call->consume adjacency when iterating them.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

from datalakehouse_spark import registry  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (daily risk-score pipeline) on /root/testdata/sf0.001."""
    return registry.REGISTRY["risk_score_daily"].fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, in
    registration order: the order bench.py and the oracle sweep run."""
    return registry.queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle twins for every SQL-expressible query, in
    registration order."""
    return registry.oracle_sql()
