"""Query registry — the correctness surface.

Every operator from SURVEY.md §2 (plus the LLM-pipeline extensions) is
registered here as a named query: a ``(spark, sf_dir) -> DataFrame``
callable plus, where SQL-expressible, a DuckDB oracle string the driver
hash-compares against at sf=0.01.

Determinism contract (applies to every entry):
- identical column names on both sides (explicit aliases);
- no raw timestamps in outputs (epoch seconds / DATE instead — the
  fixture's ns timestamps surface at different precisions in the two
  engines);
- money-like SUM/AVG go through DECIMAL (order-independent, exact) and
  convert to double once — see functions/numeric.py;
- DuckDB integer SUMs are cast to BIGINT (DuckDB widens to HUGEINT,
  Spark to BIGINT);
- every ranked/paginated query has a total order (unique tiebreaker).
"""

from __future__ import annotations

import functools
import inspect
import os
from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datalakehouse_spark.io import load_table
from datalakehouse_spark.functions.hashing import device_bucket, device_bucket_duckdb_expr
from datalakehouse_spark.functions.numeric import davg, davg_duckdb, dsum, dsum_duckdb
from datalakehouse_spark.pipelines.risk_score import (
    risk_score_daily,
    risk_score_daily_oracle_sql,
)
from datalakehouse_spark.operators import relational as R

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class QuerySpec:
    """One registry entry and every fact the bench, tools and tests
    need about it.

    ``eager``: the entry runs Spark jobs at BUILD time (when ``fn`` is
    called, before the caller acts on the returned DataFrame).  Every
    other entry must be a pure lazy plan — no collect/count/write at
    build.  The eager class is legitimate only in the shapes below (in
    finer detail in docs/SCALE.md "Eager-build entry class"), and each
    eager entry's registration names its shape:

    * **materializing surfaces** — DML/ingest/maintenance/versioning
      entries whose OUTPUT is a table state change (merge, roundtrips,
      compaction, time travel, incremental MV, streaming drains);
    * **build/serve splits** — ANN index training and query-vector
      collects, all bounded (k×dim centroids, one probe vector);
    * **iterative / diagnostic algorithms** — pointer-jumping dedup,
      pagerank, triangle count, recall ledgers; loop counts and sample
      caps are constants, never corpus-proportional;
    * **shared-scan materializations** — a corpus-proportional
      intermediate computed once and materialized at build because
      several downstream legs of the SAME entry read it (the LSH
      shingle frame, the span-digest explode).  Unlike the first three
      shapes the materialized bytes scale with the corpus; the contract
      is that they are bounded by what one consumer must hold anyway
      (disk-spillable), exist only for the entry's lifetime, and never
      persist across runs.

    ``tests/test_registry_integrity.py`` pins the flag BOTH ways with a
    job scan of a cold build: a lazy entry that starts running jobs
    fails, and an eager entry that stops running them must drop the
    flag.

    ``builds``: the session memos (see ``session_memo``) the entry's
    first run fills.  Non-empty means the first run's build IS the
    metric: bench times the entry once, and re-times it cold after
    ``clear_memos(builds)``.

    ``min_of_3``: an iterative entry launching many short dependent
    jobs, so scheduling/GC ambient compounds across iterations (r11
    saw +25%/+34% round-over-round drift with no code change); bench
    records the min of 3 runs, which recovers the code-speed signal
    the ratchet gate compares where a median keeps one contaminated
    run's vote.
    """

    fn: QueryFn
    sql: Optional[str]  # None => non-SQL-expressible, rows-only check
    doc: str = ""
    eager: bool = False
    builds: tuple[str, ...] = ()
    min_of_3: bool = False


#: name -> spec in registration order (this module, then the
#: ``registry_ext*`` modules ``_load_extensions`` imports): the one entry
#: order, which ``queries()``/``oracle_sql()``, bench.py and the oracle
#: sweep all iterate.
REGISTRY: dict[str, QuerySpec] = {}


def register(
    name: str,
    sql: Optional[str],
    doc: str = "",
    *,
    eager: bool = False,
    builds: tuple[str, ...] = (),
    min_of_3: bool = False,
):
    def deco(fn: QueryFn):
        if name in REGISTRY:
            raise ValueError(f"registry entry {name!r} is registered twice")
        REGISTRY[name] = QuerySpec(fn, sql, doc, eager, builds, min_of_3)
        return fn

    return deco


#: Every session memo by name (see ``session_memo``): key -> value.
MEMOS: dict[str, dict] = {}


def session_memo(name: str):
    """Decorator: memoize a ``(spark, sf_dir, *params)`` build for the
    session, in ``MEMOS[name]`` (so ``clear_memos`` reaches it by name).

    Key rule (every memo): ``(Spark applicationId, abspath(sf_dir),
    *params with defaults applied)`` — a value is reused only by the
    same Spark application reading the same fixture directory with the
    same build parameters.  ``fn.peek(...)`` returns the memoized value
    for those arguments, or None, without building."""
    memo = MEMOS.setdefault(name, {})

    def deco(build):
        sig = inspect.signature(build)

        def key(spark, sf_dir, *args, **kwargs) -> tuple:
            bound = sig.bind(spark, sf_dir, *args, **kwargs)
            bound.apply_defaults()
            params = tuple(bound.arguments.values())[2:]
            return (spark.sparkContext.applicationId, os.path.abspath(sf_dir), *params)

        @functools.wraps(build)
        def memoized(spark, sf_dir, *args, **kwargs):
            k = key(spark, sf_dir, *args, **kwargs)
            if k not in memo:
                memo[k] = build(spark, sf_dir, *args, **kwargs)
            return memo[k]

        memoized.peek = lambda *a, **kw: memo.get(key(*a, **kw))
        return memoized

    return deco


def clear_memos(names=None) -> None:
    """Empty the named memos (an unknown name raises).  With no names:
    every memo, plus the ``bkt_`` bucketed tables the colocated-join
    entries memoize in the session catalog."""
    _load_extensions()
    unknown = sorted(set(names or ()) - set(MEMOS))
    if unknown:
        raise KeyError(f"unknown session memos: {unknown}")
    for n in MEMOS if names is None else names:
        MEMOS[n].clear()
    spark = SparkSession.getActiveSession()
    if names is None and spark is not None:
        for t in spark.catalog.listTables():
            if t.name.startswith("bkt_"):
                spark.sql(f"DROP TABLE IF EXISTS {t.name}")


# --------------------------------------------------------------------------
# Reference surface: flagship risk pipeline (SURVEY.md §3.2)
# --------------------------------------------------------------------------


@register("risk_score_daily", risk_score_daily_oracle_sql(), "flagship 6-CTE risk pipeline")
def q_risk_score_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    return risk_score_daily(load_table(spark, sf_dir, "events"))


# --------------------------------------------------------------------------
# Ingest/ETL normalization (SURVEY.md §2.1 S1/S3, §2.8 F1-F5)
# --------------------------------------------------------------------------

_INGEST_SQL = f"""
SELECT event_id AS correlation_id,
       CAST(user_id AS VARCHAR) AS device_id,
       event_type AS report_type,
       value AS speed_kmh,
       epoch_ns(ts) // 1000000000 AS received_epoch_s,
       {device_bucket_duckdb_expr("CAST(user_id AS VARCHAR)")} AS device_id_bucket,
       CAST(ts AS DATE) AS received_day
FROM events
WHERE event_type IN ('click', 'purchase', 'view')
"""


@register("ingest_normalize", _INGEST_SQL, "streaming-insert transform, batch-shaped")
def q_ingest_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.where(F.col("event_type").isin("click", "purchase", "view")).select(
        F.col("event_id").alias("correlation_id"),
        F.col("user_id").cast("string").alias("device_id"),
        F.col("event_type").alias("report_type"),
        F.col("value").alias("speed_kmh"),
        F.expr("ts_ns div 1000000000").alias("received_epoch_s"),
        device_bucket(F.col("user_id").cast("string")).alias("device_id_bucket"),
        F.to_date("ts").alias("received_day"),
    )


_BUCKET_SQL = f"""
SELECT {device_bucket_duckdb_expr("CAST(user_id AS VARCHAR)")} AS device_id_bucket,
       COUNT(*) AS n
FROM events GROUP BY 1
"""


@register("bucket_distribution", _BUCKET_SQL, "java-hashCode bucket parity en masse")
def q_bucket_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(device_bucket(F.col("user_id").cast("string")).alias("device_id_bucket"))
        .groupBy("device_id_bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# --------------------------------------------------------------------------
# Serving-layer page + count (SURVEY.md §2.12, §2.6 O1/O2/O5)
# --------------------------------------------------------------------------

# events span 2024-01-01..2024-01-30 at every SF; user 7 exists at every SF
_PAGE_DEVICE = 7
_PAGE_T0 = "2024-01-05 00:00:00"
_PAGE_T1 = "2024-01-20 00:00:00"
_PAGE_LIMIT, _PAGE_OFFSET = 50, 10

_SERVING_PAGE_SQL = f"""
SELECT event_id, user_id, epoch_ns(ts) // 1000000000 AS epoch_s, value
FROM events
WHERE user_id = {_PAGE_DEVICE}
  AND ts >= TIMESTAMP '{_PAGE_T0}' AND ts < TIMESTAMP '{_PAGE_T1}'
ORDER BY user_id ASC, ts DESC, event_id ASC
OFFSET {_PAGE_OFFSET} LIMIT {_PAGE_LIMIT}
"""


def _ns_bounds(t0: str, t1: str) -> tuple[int, int]:
    """UTC wall-clock strings -> int64 ns bounds."""
    import datetime as dt

    as_ns = lambda s: int(  # noqa: E731
        dt.datetime.strptime(s, "%Y-%m-%d %H:%M:%S").replace(tzinfo=dt.timezone.utc).timestamp()
    ) * 1_000_000_000
    return as_ns(t0), as_ns(t1)


def _ts_lit(ns: int):
    """ns epoch -> TIMESTAMP literal (constant-folded at optimization).

    Filtering on the PHYSICAL ``ts`` column with a folded literal lets
    the predicate push down to the parquet scan — at 100 TB that's
    row-group skipping on min/max stats instead of a full decode.
    ``timestamp_micros`` keeps the bound independent of the driver
    process's local timezone (unlike a py-datetime literal).

    Generation caveat: pushdown (and the plan assertion in
    tests/test_plans.py::test_serving_page_pushdown_and_pruning) holds
    for the µs fixture generation, where ``ts`` is physical.  On the
    legacy ns-int64 generation io.py DERIVES ``ts`` (timestamp_micros
    of ts div 1000), so this predicate is correct but evaluates
    post-scan there — row-group skipping would need the bound rewritten
    onto the physical int64 column."""
    return F.timestamp_micros(F.lit(ns // 1_000))


@register("serving_page", _SERVING_PAGE_SQL, "REST page query: filter+sort+offset/limit")
def q_serving_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ns0, ns1 = _ns_bounds(_PAGE_T0, _PAGE_T1)
    pred = (
        (F.col("user_id") == _PAGE_DEVICE)
        & (F.col("ts") >= _ts_lit(ns0))
        & (F.col("ts") < _ts_lit(ns1))
    )
    return (
        ev.where(pred)
        .orderBy(F.col("user_id").asc(), F.col("ts").desc(), F.col("event_id").asc())
        .select(
            "event_id",
            "user_id",
            F.expr("ts_ns div 1000000000").alias("epoch_s"),
            "value",
        )
        .offset(_PAGE_OFFSET)
        .limit(_PAGE_LIMIT)
    )


_SERVING_COUNT_SQL = f"""
SELECT COUNT(*) AS total FROM events
WHERE user_id = {_PAGE_DEVICE}
  AND ts >= TIMESTAMP '{_PAGE_T0}' AND ts < TIMESTAMP '{_PAGE_T1}'
"""


@register("serving_count", _SERVING_COUNT_SQL, "pagination COUNT twin")
def q_serving_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ns0, ns1 = _ns_bounds(_PAGE_T0, _PAGE_T1)
    pred = (
        (F.col("user_id") == _PAGE_DEVICE)
        & (F.col("ts") >= _ts_lit(ns0))
        & (F.col("ts") < _ts_lit(ns1))
    )
    return ev.where(pred).agg(F.count(F.lit(1)).alias("total"))


# events are dense around any mid-window instant at every SF; the cursor
# need not coincide with a real row — the seek predicate is an order
# comparison, not a lookup
_SEEK_TS = "2024-01-15 12:00:00"
_SEEK_KEY = 0

_SERVING_SEEK_SQL = f"""
SELECT event_id, user_id, epoch_ns(ts) // 1000000000 AS epoch_s, value
FROM events
WHERE user_id = {_PAGE_DEVICE}
  AND ts >= TIMESTAMP '{_PAGE_T0}' AND ts < TIMESTAMP '{_PAGE_T1}'
  AND (ts < TIMESTAMP '{_SEEK_TS}'
       OR (ts = TIMESTAMP '{_SEEK_TS}' AND event_id > {_SEEK_KEY}))
ORDER BY user_id ASC, ts DESC, event_id ASC
LIMIT {_PAGE_LIMIT}
"""


@register(
    "serving_page_seek",
    _SERVING_SEEK_SQL,
    "REST keyset page: strictly-after cursor predicate + top-k, no offset",
)
def q_serving_page_seek(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyset (seek) pagination twin of ``serving_page`` —
    pipelines/serving.py ``page_after`` compiles exactly this plan from
    ``(last_ts, last_key)``; the entry pins the predicate with
    TZ-independent literals (the ``_ts_lit`` idiom) so the oracle
    compare holds in any driver timezone.

    Scale contrast with the OFFSET entry: OFFSET p·50 sorts and skips
    p·50 rows per page (O(p) per page, O(p²) for a full crawl); the
    seek predicate keeps every page a pushed range scan +
    TakeOrderedAndProject top-50 — constant at any depth, which is the
    difference between "page 3" and "page 200 000" on a 100 TB feed
    (reference main.py:284 caps OFFSET at 10 000 rows to hide this)."""
    ev = load_table(spark, sf_dir, "events")
    ns0, ns1 = _ns_bounds(_PAGE_T0, _PAGE_T1)
    nsc, _ = _ns_bounds(_SEEK_TS, _SEEK_TS)
    cursor = _ts_lit(nsc)
    pred = (
        (F.col("user_id") == _PAGE_DEVICE)
        & (F.col("ts") >= _ts_lit(ns0))
        & (F.col("ts") < _ts_lit(ns1))
        & (
            (F.col("ts") < cursor)
            | ((F.col("ts") == cursor) & (F.col("event_id") > F.lit(_SEEK_KEY)))
        )
    )
    return (
        ev.where(pred)
        .orderBy(F.col("user_id").asc(), F.col("ts").desc(), F.col("event_id").asc())
        .select(
            "event_id",
            "user_id",
            F.expr("ts_ns div 1000000000").alias("epoch_s"),
            "value",
        )
        .limit(_PAGE_LIMIT)
    )


# --------------------------------------------------------------------------
# Aggregation family over the star schema (SURVEY.md §2.4 + engine surface)
# --------------------------------------------------------------------------

_Q1_SQL = f"""
SELECT l_returnflag, l_linestatus,
       {dsum_duckdb("l_quantity")} AS sum_qty,
       {dsum_duckdb("l_extendedprice")} AS sum_base_price,
       {dsum_duckdb("l_extendedprice * (1 - l_discount)", 4)} AS sum_disc_price,
       {dsum_duckdb("l_extendedprice * (1 - l_discount) * (1 + l_tax)", 6)} AS sum_charge,
       {davg_duckdb("l_quantity")} AS avg_qty,
       {davg_duckdb("l_extendedprice")} AS avg_price,
       {davg_duckdb("l_discount", 4)} AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


@register("q1_pricing_summary", _Q1_SQL, "TPC-H Q1 shape: wide hash aggregate")
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            dsum(disc_price, 4).alias("sum_disc_price"),
            dsum(charge, 6).alias("sum_charge"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_extendedprice").alias("avg_price"),
            davg("l_discount", 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


_Q3_SQL = f"""
SELECT l_orderkey,
       {dsum_duckdb("l_extendedprice * (1 - l_discount)", 6)} AS revenue,
       CAST(o_orderdate AS DATE) AS orderdate,
       o_orderpriority
FROM customer JOIN orders ON c_custkey = o_custkey
              JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1996-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


@register("q3_shipping_priority", _Q3_SQL, "3-way join + agg + top-k")
def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-03-15 00:00:00").cast("timestamp_ntz")
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1996-03-15 00:00:00").cast("timestamp_ntz")
    )
    # broadcast only the true dimension (customer); the orders side grows
    # with the fact table, so its join strategy is left to AQE — broadcast
    # at test scale, sort-merge at 100 TB
    joined = li.join(
        orders.join(F.broadcast(cust), cust.c_custkey == orders.o_custkey),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    agg = joined.groupBy("l_orderkey", "o_orderdate", "o_orderpriority").agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 6).alias("revenue")
    )
    return (
        agg.orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
        .select(
            "l_orderkey",
            "revenue",
            F.to_date("o_orderdate").alias("orderdate"),
            "o_orderpriority",
        )
    )


_Q5_SQL = f"""
SELECT n_name, {dsum_duckdb("l_extendedprice * (1 - l_discount)", 6)} AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY n_name
"""


@register("q5_regional_revenue", _Q5_SQL, "5-way star join, broadcast dims")
def q_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = {n: load_table(spark, sf_dir, n) for n in ("customer", "orders", "lineitem", "supplier", "nation", "region")}
    joined = (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(t["supplier"]),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return joined.groupBy("n_name").agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 6).alias("revenue")
    )


# --------------------------------------------------------------------------
# Join family (SURVEY.md §2.3)
# --------------------------------------------------------------------------

_SEMI_SQL = """
SELECT c_custkey, c_name FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
              AND o.o_totalprice > 200000)
"""


@register("join_semi", _SEMI_SQL, "left-semi join (EXISTS)")
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").where(F.col("o_totalprice") > 200000)
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


_ANTI_SQL = """
SELECT c_custkey, c_name FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                  AND o.o_totalprice > 250000)
"""


@register("join_anti", _ANTI_SQL, "left-anti join (NOT EXISTS)")
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").where(F.col("o_totalprice") > 250000)
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


_OUTER_SQL = f"""
SELECT c_custkey, c_name,
       COUNT(o_orderkey) AS n_orders,
       {dsum_duckdb("o_totalprice")} AS total_spend
FROM customer LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey, c_name
"""


@register("join_outer_agg", _OUTER_SQL, "left outer join + per-key aggregate")
def q_join_outer_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            dsum("o_totalprice").alias("total_spend"),
        )
    )


_RANGE_JOIN_SQL = """
SELECT o_orderkey, COUNT(*) AS n_shipped_30d
FROM orders JOIN lineitem
  ON l_orderkey = o_orderkey
 AND l_shipdate >= o_orderdate
 AND l_shipdate < o_orderdate + INTERVAL 30 DAY
GROUP BY o_orderkey
"""


@register("range_join_window", _RANGE_JOIN_SQL, "equi+range join (point-in-interval)")
def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    # equi conjunct keeps this a hash join; range predicate is post-join —
    # never a nested-loop cross product (operators/relational.py)
    joined = R.range_join(
        li,
        orders,
        F.col("l_orderkey") == F.col("o_orderkey"),
        (F.col("l_shipdate") >= F.col("o_orderdate"))
        & (F.col("l_shipdate") < F.col("o_orderdate") + F.expr("INTERVAL 30 DAY")),
    )
    return joined.groupBy("o_orderkey").agg(F.count(F.lit(1)).alias("n_shipped_30d"))


# --------------------------------------------------------------------------
# Windows / latest-per-key / top-k (SURVEY.md §2.5, §2.6)
# --------------------------------------------------------------------------

_LATEST_SQL = """
SELECT user_id, event_id, epoch_ns(ts) // 1000000000 AS epoch_s, value
FROM (
    SELECT *, row_number() OVER (
        PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
    FROM events
) WHERE rn = 1
"""


@register("latest_per_key", _LATEST_SQL, "latest row per device (window rank)")
def q_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return R.latest_per_key(ev, ["user_id"], "ts", tiebreak="event_id").select(
        "user_id",
        "event_id",
        F.expr("ts_ns div 1000000000").alias("epoch_s"),
        "value",
    )


_TOPK_SQL = """
SELECT event_id, user_id, value FROM events
ORDER BY value DESC, event_id ASC LIMIT 20
"""


@register("topk_global", _TOPK_SQL, "global top-k -> TakeOrderedAndProject")
def q_topk_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return R.top_k(ev, [F.col("value").desc(), F.col("event_id").asc()], 20).select(
        "event_id", "user_id", "value"
    )


_TOPK_GROUP_SQL = """
SELECT user_id, event_id, value FROM (
    SELECT user_id, event_id, value, row_number() OVER (
        PARTITION BY user_id ORDER BY value DESC, event_id ASC) AS rn
    FROM events
) WHERE rn <= 3
"""


@register("topk_per_group", _TOPK_GROUP_SQL, "top-k per key (window rank)")
def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return R.top_k_per_group(
        ev, ["user_id"], [F.col("value").desc(), F.col("event_id").asc()], 3
    ).select("user_id", "event_id", "value")


# --------------------------------------------------------------------------
# Set ops / distinct / grouping sets (SURVEY.md §2.7, §2.4 note)
# --------------------------------------------------------------------------

_UNION_SQL = """
SELECT report_type, COUNT(*) AS n FROM (
    SELECT event_type AS report_type FROM events WHERE event_type = 'click'
    UNION ALL
    SELECT event_type FROM events WHERE event_type = 'view'
    UNION ALL
    SELECT event_type FROM events WHERE event_type = 'error'
) GROUP BY report_type
"""


@register("union_vendor_split", _UNION_SQL, "per-vendor split -> unified view (unionByName)")
def q_union_vendor_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    parts = [
        ev.where(F.col("event_type") == t).select(F.col("event_type").alias("report_type"))
        for t in ("click", "view", "error")
    ]
    return R.union_by_name(*parts).groupBy("report_type").agg(F.count(F.lit(1)).alias("n"))


_DISTINCT_SQL = """
SELECT CAST(ts AS DATE) AS day,
       COUNT(DISTINCT user_id) AS n_users,
       COUNT(DISTINCT event_type) AS n_types
FROM events GROUP BY 1
"""


@register("distinct_daily", _DISTINCT_SQL, "multi countDistinct per day")
def q_distinct_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.countDistinct("user_id").alias("n_users"),
        F.countDistinct("event_type").alias("n_types"),
    )


_ROLLUP_SQL = f"""
SELECT event_type, CAST(ts AS DATE) AS day,
       COUNT(*) AS n, {dsum_duckdb("value")} AS sum_value
FROM events GROUP BY ROLLUP (event_type, CAST(ts AS DATE))
"""


@register("rollup_daily", _ROLLUP_SQL, "ROLLUP grouping sets")
def q_rollup_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.to_date("ts").alias("day"), "value"
    )
    return ev.rollup("event_type", "day").agg(
        F.count(F.lit(1)).alias("n"), dsum("value").alias("sum_value")
    )


# --------------------------------------------------------------------------
# Retention (SURVEY.md §2.10 M1 — the SELECT dual of the DELETE)
# --------------------------------------------------------------------------

_RETENTION_CUTOFF = "2024-10-01"

_RETENTION_SQL = f"""
SELECT COUNT(*) AS kept,
       {dsum_duckdb("value")} AS kept_value
FROM events WHERE CAST(ts AS DATE) >= DATE '{_RETENTION_CUTOFF}'
"""


@register("retention_filter", _RETENTION_SQL, "retention DELETE remainder (fixed cutoff)")
def q_retention_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # date cutoff expressed on the physical ts column (UTC midnight) so
    # the retention predicate reaches the scan
    ns0, _ = _ns_bounds(f"{_RETENTION_CUTOFF} 00:00:00", f"{_RETENTION_CUTOFF} 00:00:00")
    return (
        ev.where(F.col("ts") >= _ts_lit(ns0))
        .agg(F.count(F.lit(1)).alias("kept"), dsum("value").alias("kept_value"))
    )


def queries() -> dict[str, QueryFn]:
    """Every entry in registration order: the order bench.py and the
    oracle sweep (``oracle_check.run_all``) iterate."""
    _load_extensions()
    return {name: spec.fn for name, spec in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    """The SQL-backed entries' DuckDB twins, in registration order."""
    _load_extensions()
    return {name: spec.sql for name, spec in REGISTRY.items() if spec.sql is not None}


def _load_extensions() -> None:
    """Import part-2/3 registrations (idempotent; avoids a circular
    import at module load)."""
    import datalakehouse_spark.registry_ext  # noqa: F401
    import datalakehouse_spark.registry_ext2  # noqa: F401
    import datalakehouse_spark.registry_ext3  # noqa: F401
    import datalakehouse_spark.registry_ext4  # noqa: F401
    import datalakehouse_spark.registry_ext5  # noqa: F401
    import datalakehouse_spark.registry_ext6  # noqa: F401
