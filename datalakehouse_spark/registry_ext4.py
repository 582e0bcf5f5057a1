"""Registry part 5 (round 5): TPC-H suite completion — the seven
query *shapes* still missing from the scored surface (q2, q9, q11,
q15, q16, q20, q21).

The driver fixtures carry no ``partsupp`` table and no
commit/receipt dates, so each query keeps the ORIGINAL's plan-defining
structure — correlated MIN subquery (q2), multi-dim star profit rollup
(q9), HAVING-vs-scalar-subquery (q11), agg-view + scalar MAX (q15),
NOT-IN exclusion + COUNT DISTINCT (q16), nested IN with grouped HAVING
(q20), double correlated EXISTS / NOT EXISTS self-join (q21) — while
substituting columns the fixtures do have (lineitem unit price for
``ps_supplycost``, ``l_returnflag = 'R'`` for receipt-after-commit,
``s_acctbal < 0`` for the complaints-comment filter).  Reference
parity: the reference's engines (Trino/Flink SQL) run this query class
over the same star schema; SURVEY.md §2.4-§2.6 count these join and
subquery families.

Scale notes (100 TB posture):
- every correlated subquery is DECORRELATED into the join/window form
  Catalyst itself would pick: per-group MIN/MAX via one extra shuffle
  on the group key (q2: window over part; q15: scalar agg broadcast),
  never a per-row re-scan;
- dimension sides (part, supplier, nation, region) are explicit
  ``F.broadcast`` — the fact table (lineitem) is never shuffled for a
  dim join, only for its own group-bys;
- EXISTS/NOT EXISTS (q21) become LEFT SEMI / LEFT ANTI self-joins on
  the equi key ``l_orderkey`` (the inequality rides along as a join
  residual) — one hash shuffle of lineitem per side, no nested loop;
- NOT IN (q16) is a LEFT ANTI against a broadcast exclusion set
  (keys are non-null by construction, so anti == null-aware anti).

Determinism contract: money sums via dsum/davg decimal staging
(functions/numeric.py); MIN/MAX over doubles are exact picks, and
``l_extendedprice / l_quantity`` is a single IEEE-rounded division so
both engines compare identical bit patterns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datalakehouse_spark.functions.numeric import dsum, dsum_duckdb
from datalakehouse_spark.io import load_table
from datalakehouse_spark.registry import register, session_memo

# ---------------------------------------------------------------------------
# q2: minimum-cost supplier per part (correlated MIN subquery)
# ---------------------------------------------------------------------------

_Q2_SQL = """
WITH offers AS (
    SELECT l_partkey AS ok_part, l_suppkey AS ok_supp,
           MIN(l_extendedprice / l_quantity) AS unit_cost
    FROM lineitem GROUP BY 1, 2
),
eligible AS (
    SELECT ok_part, ok_supp, unit_cost, s_acctbal, s_name, n_name
    FROM offers JOIN supplier ON s_suppkey = ok_supp
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'EUROPE'
)
SELECT s_acctbal, s_name, n_name, p_partkey, p_brand, unit_cost
FROM part JOIN eligible ON p_partkey = ok_part
WHERE p_size <= 10 AND p_type = 'STANDARD'
  AND unit_cost = (SELECT MIN(e2.unit_cost) FROM eligible e2
                   WHERE e2.ok_part = p_partkey)
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
"""


@register("q2_min_cost_supplier", _Q2_SQL, "correlated MIN subquery decorrelated to a window (q2 shape)")
def q_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q2 shape: cheapest EUROPE supplier per qualifying part.
    ``ps_supplycost`` proxy = observed min unit price per
    (part, supplier).  The correlated ``MIN`` subquery is decorrelated
    into ``MIN() OVER (PARTITION BY part)`` on the already-filtered
    eligible set — one shuffle on the part key, identical result set,
    no per-part re-scan (at 100 TB the subquery form re-reads offers
    once per outer row; the window form reads it once, period)."""
    li = load_table(spark, sf_dir, "lineitem")
    offers = li.groupBy(
        F.col("l_partkey").alias("ok_part"), F.col("l_suppkey").alias("ok_supp")
    ).agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost"))

    supp = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    dims = supp.join(
        F.broadcast(nat.join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey"))),
        F.col("s_nationkey") == F.col("n_nationkey"),
    ).select("s_suppkey", "s_acctbal", "s_name", "n_name")

    eligible = offers.join(F.broadcast(dims), F.col("ok_supp") == F.col("s_suppkey"))
    best = eligible.withColumn(
        "min_cost", F.min("unit_cost").over(Window.partitionBy("ok_part"))
    ).where(F.col("unit_cost") == F.col("min_cost"))

    part = load_table(spark, sf_dir, "part").where(
        (F.col("p_size") <= 10) & (F.col("p_type") == "STANDARD")
    )
    return (
        best.join(F.broadcast(part), F.col("ok_part") == F.col("p_partkey"))
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_brand", "unit_cost")
        .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# q9: product-type profit by nation and year (star rollup)
# ---------------------------------------------------------------------------

_Q9_SQL = f"""
SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
       {dsum_duckdb("l_extendedprice * (1 - l_discount) - 0.6 * p_retailprice * l_quantity", 4)} AS sum_profit
FROM lineitem JOIN part ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN orders ON o_orderkey = l_orderkey
WHERE p_name LIKE '%red%'
GROUP BY 1, 2
ORDER BY nation, o_year DESC
"""


@register("q9_product_profit", _Q9_SQL, "4-dim star profit rollup by nation/year (q9 shape)")
def q_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q9 shape: profit on 'red' parts by supplier nation and
    order year.  Cost proxy = 60% of part list price (no partsupp in
    the fixtures).  part/supplier/nation broadcast; orders joins on
    the fact's own key (orderkey) so AQE plans the one big join; the
    p_name filter lands in the parquet scan before the broadcast."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").where(F.col("p_name").like("%red%"))
    supp = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - 0.6 * F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(dsum(profit, 4).alias("sum_profit"))
        .orderBy("nation", F.col("o_year").desc())
    )


# ---------------------------------------------------------------------------
# q11: important part value (HAVING vs scalar subquery over same agg)
# ---------------------------------------------------------------------------

_Q11_SQL = f"""
WITH val AS (
    SELECT l_partkey AS ps_partkey,
           {dsum_duckdb("l_extendedprice")} AS part_value
    FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name = 'NATION_3'
    GROUP BY 1
)
SELECT ps_partkey, part_value FROM val
WHERE part_value > (SELECT {dsum_duckdb("part_value")} * 0.001 FROM val)
ORDER BY part_value DESC, ps_partkey
"""


@register("q11_important_value", _Q11_SQL, "agg filtered by scalar subquery over the same agg (q11 shape)")
def q_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q11 shape: parts whose traded value through NATION_3
    suppliers exceeds 0.1% of that nation's total.  ``val`` is computed
    ONCE (single shuffle on partkey) and the grand total is a scalar
    aggregate of it broadcast back — not a second pass over lineitem,
    and not a single-partition global window."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_3")
    dims = supp.join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey")).select(
        "s_suppkey"
    )
    val = (
        li.join(F.broadcast(dims), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.col("l_partkey").alias("ps_partkey"))
        .agg(dsum("l_extendedprice").alias("part_value"))
    )
    total = val.agg((dsum("part_value") * 0.001).alias("threshold"))
    return (
        val.crossJoin(F.broadcast(total))
        .where(F.col("part_value") > F.col("threshold"))
        .select("ps_partkey", "part_value")
        .orderBy(F.col("part_value").desc(), "ps_partkey")
    )


# ---------------------------------------------------------------------------
# q15: top supplier (agg view + scalar MAX equality)
# ---------------------------------------------------------------------------

_Q15_SQL = f"""
WITH revenue AS (
    SELECT l_suppkey AS supplier_no,
           {dsum_duckdb("l_extendedprice * (1 - l_discount)", 4)} AS total_revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
    GROUP BY 1
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
ORDER BY s_suppkey
"""


@register("q15_top_supplier", _Q15_SQL, "revenue view + scalar MAX equality (q15 shape)")
def q_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q15: the supplier(s) with max quarterly revenue.  The
    revenue 'view' aggregates once (shuffle on suppkey); MAX over it is
    a scalar broadcast — ties all surface, exactly the SQL semantic.
    Decimal-staged sums make the MAX equality bit-exact cross-engine."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp_ntz"))
    )
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("total_revenue")
    )
    best = revenue.agg(F.max("total_revenue").alias("best_rev"))
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        revenue.crossJoin(F.broadcast(best))
        .where(F.col("total_revenue") == F.col("best_rev"))
        .join(F.broadcast(supp), F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


# ---------------------------------------------------------------------------
# q16: supplier count per part descriptor (NOT IN + COUNT DISTINCT)
# ---------------------------------------------------------------------------

_Q16_SQL = """
SELECT p_brand, p_type, p_size,
       CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO'
  AND p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY 1, 2, 3
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


@register("q16_supplier_counts", _Q16_SQL, "NOT-IN exclusion + COUNT DISTINCT rollup (q16 shape)")
def q_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q16 shape: distinct supplier counts per (brand, type,
    size), excluding blacklisted suppliers (negative balance standing
    in for the complaints filter).  NOT IN compiles to a LEFT ANTI
    against the broadcast exclusion set — sound here because
    ``s_suppkey`` is non-null by construction (with nullable keys the
    null-aware variant would be required, see null_safe_join)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#5")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49)
    )
    excluded = (
        load_table(spark, sf_dir, "supplier")
        .where(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(excluded), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
    )


# ---------------------------------------------------------------------------
# q20: suppliers over a shipped-quantity threshold (nested IN + HAVING)
# ---------------------------------------------------------------------------

_Q20_SQL = """
SELECT s_name, s_acctbal
FROM supplier JOIN nation ON s_nationkey = n_nationkey
WHERE n_name IN ('NATION_3', 'NATION_8', 'NATION_12')
  AND s_suppkey IN (
      SELECT l_suppkey FROM lineitem
      WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
        AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      GROUP BY l_suppkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > CAST(100 AS DECIMAL(18,2))
  )
ORDER BY s_name
"""


@register("q20_surplus_suppliers", _Q20_SQL, "nested IN subqueries with grouped HAVING (q20 shape)")
def q_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q20 shape: suppliers in three nations who shipped >100
    units of 'small'-named parts in 1997.  Both IN subqueries become
    LEFT SEMI joins: parts filter semi-joins the fact scan (broadcast),
    the grouped HAVING result semi-joins supplier.  lineitem is
    shuffled once (its own group-by); supplier never shuffles."""
    parts = (
        load_table(spark, sf_dir, "part")
        .where(F.col("p_name").like("small%"))
        .select("p_partkey")
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp_ntz"))
    )
    qualified = (
        li.join(F.broadcast(parts), F.col("l_partkey") == F.col("p_partkey"), "left_semi")
        .groupBy("l_suppkey")
        .agg(dsum("l_quantity", as_double=False).alias("qty"))
        .where(F.col("qty") > F.lit(100).cast("decimal(18,2)"))
        .select("l_suppkey")
    )
    nat = load_table(spark, sf_dir, "nation").where(
        F.col("n_name").isin("NATION_3", "NATION_8", "NATION_12")
    )
    return (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(qualified), F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_name", "s_acctbal")
        .orderBy("s_name")
    )


# ---------------------------------------------------------------------------
# q21: sole problem supplier on multi-supplier orders (EXISTS + NOT EXISTS)
# ---------------------------------------------------------------------------

_Q21_SQL = """
SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM supplier
JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
JOIN orders ON o_orderkey = l1.l_orderkey
JOIN nation ON s_nationkey = n_nationkey
WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
  AND n_name IN ('NATION_3', 'NATION_8', 'NATION_12', 'NATION_13', 'NATION_15')
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_returnflag = 'R')
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 100
"""


@register("q21_sole_blame", _Q21_SQL, "correlated EXISTS + NOT EXISTS self-joins (q21 shape)")
def q_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q21 shape: for finished orders with lines from multiple
    suppliers, count per supplier the lines where THEIR line was the
    only one flagged 'R' (returnflag proxies the original's
    receipt-after-commit).  EXISTS -> LEFT SEMI, NOT EXISTS -> LEFT
    ANTI, both self-joins equi-keyed on ``l_orderkey`` with the
    supplier inequality as a join residual — hash joins, no BNLJ
    (mirrors tests/test_plans.py's no-cartesian contract)."""
    li = load_table(spark, sf_dir, "lineitem")
    l1 = li.where(F.col("l_returnflag") == "R").select("l_orderkey", "l_suppkey")
    l2 = li.select(
        F.col("l_orderkey").alias("o2_key"), F.col("l_suppkey").alias("s2_key")
    )
    l3 = (
        li.where(F.col("l_returnflag") == "R")
        .select(F.col("l_orderkey").alias("o3_key"), F.col("l_suppkey").alias("s3_key"))
    )
    sole = (
        l1.join(
            l2,
            (F.col("l_orderkey") == F.col("o2_key")) & (F.col("l_suppkey") != F.col("s2_key")),
            "left_semi",
        ).join(
            l3,
            (F.col("l_orderkey") == F.col("o3_key")) & (F.col("l_suppkey") != F.col("s3_key")),
            "left_anti",
        )
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderstatus") == "F")
        .select("o_orderkey")
    )
    nat = load_table(spark, sf_dir, "nation").where(
        F.col("n_name").isin("NATION_3", "NATION_8", "NATION_12", "NATION_13", "NATION_15")
    )
    supp = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey")
    )
    return (
        sole.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Quality-aware canonical dedup (round 5): cluster near-dups, keep the
# best-quality document per cluster
# ---------------------------------------------------------------------------

def _dedup_canonical_sql() -> str:
    """Oracle: exact recursive-CTE transitive closure (same CTE as
    dedup_clusters) joined to the quality-score twin; canonical pick =
    ordered-first over (quality DESC, doc_id ASC)."""
    from datalakehouse_spark.registry_ext import _QUALITY_SQL, _near_dup_sql

    return f"""
WITH RECURSIVE
nd AS ({_near_dup_sql()}),
edges AS (
    SELECT id_a AS s, id_b AS d FROM nd
    UNION ALL
    SELECT id_b, id_a FROM nd
),
reach(id, r) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT re.id, e.d FROM reach re JOIN edges e ON e.s = re.r
),
clusters AS (
    SELECT id AS doc_id, CAST(MIN(r) AS BIGINT) AS cluster
    FROM reach GROUP BY id
),
q AS ({_QUALITY_SQL})
SELECT c.cluster,
       CAST(first(c.doc_id ORDER BY q.quality_score DESC, c.doc_id ASC) AS BIGINT)
           AS keep_id,
       CAST(MAX(q.quality_score) AS DOUBLE) AS keep_quality,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM clusters c JOIN q ON q.doc_id = c.doc_id
GROUP BY c.cluster
ORDER BY c.cluster
"""


@register(
    "dedup_canonical",
    _dedup_canonical_sql(),
    "near-dup clusters -> keep highest-quality doc per cluster",
    eager=True,  # iterative / diagnostic
)
def q_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datalakehouse_spark.operators.dedup import dedup_canonical

    docs = load_table(spark, sf_dir, "documents")
    return dedup_canonical(docs).orderBy("cluster")


# ---------------------------------------------------------------------------
# Incremental materialized-view maintenance (round 5): delta-merge
# refresh of a stored rollup == full recompute, bit-exact
# ---------------------------------------------------------------------------

_IVM_SQL = f"""
SELECT user_id, CAST(ts AS DATE) AS day,
       COUNT(*) AS n,
       {dsum_duckdb("value")} AS sum_value
FROM events
GROUP BY 1, 2
"""


@register(
    "incremental_mv_maintenance",
    _IVM_SQL,
    "materialized rollup refreshed by delta partial-agg merge == full recompute",
    eager=True,  # materializing surface
)
def q_incremental_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance over a VersionedTable: commit the
    per-(user, day) rollup of 3/4 of the events (deterministic
    event_id % 4 split) as v1, then refresh with the remaining 1/4 by
    merging the DELTA's partial aggregates into the stored state
    (operators/ivm.additive_merge) — never re-scanning the base rows —
    and MERGE-upserting only the affected keys.  The oracle recomputes
    the rollup over ALL events in one pass; bit-exactness holds because
    the materialized SUM is carried as DECIMAL (exact, associative) and
    converted to double only at read time.  At 100 TB this is the
    rollup-refresh shape: cost ∝ delta size + affected groups, not the
    fact table."""
    from datalakehouse_spark.operators.ivm import additive_merge
    from datalakehouse_spark.scratch import fresh_scratch
    from datalakehouse_spark.versioned import VersionedTable

    ev = load_table(spark, sf_dir, "events")
    day = F.to_date("ts")

    def rollup(df: DataFrame) -> DataFrame:
        return df.groupBy("user_id", day.alias("day")).agg(
            F.count(F.lit(1)).alias("n"),
            dsum("value", as_double=False).alias("sum_value_dec"),
        )

    path = fresh_scratch("ivm_mv")
    t = VersionedTable(spark, path + "/t", partition_by=["day"])
    v1 = t.create(rollup(ev.where(F.col("event_id") % 4 != 0)))

    dagg = rollup(ev.where(F.col("event_id") % 4 == 0))
    state = t.read(v1)
    # touch only the delta's groups: semi-filter the stored state, merge
    # partials, and upsert — the untouched groups never move
    affected = state.join(
        dagg.select("user_id", "day"), ["user_id", "day"], "left_semi"
    )
    merged = additive_merge(affected, dagg, ["user_id", "day"], ["n", "sum_value_dec"])
    merged = merged.withColumn(
        "sum_value_dec", F.col("sum_value_dec").cast(dict(state.dtypes)["sum_value_dec"])
    )
    t.merge_upsert(merged, keys=["user_id", "day"])
    return t.read().select(
        "user_id",
        "day",
        "n",
        F.col("sum_value_dec").cast("double").alias("sum_value"),
    )


# ---------------------------------------------------------------------------
# Sub-document chunk dedup + benchmark decontamination (round 5)
# ---------------------------------------------------------------------------

_CHUNK_TOKENS = 16


def _chunk_dedup_sql() -> str:
    from datalakehouse_spark.registry_ext import _TOKS

    c = _CHUNK_TOKENS
    return f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
chunks AS (
    SELECT doc_id, u.c.idx AS chunk_idx, u.c.h AS h
    FROM t, UNNEST([{{'idx': i,
                      'h': md5(array_to_string(list_slice(toks, i*{c}+1, i*{c}+{c}), ' '))}}
                    FOR i IN range(0, CAST(ceil(len(toks)/{c}.0) AS INT))]) AS u(c)
),
ranked AS (
    SELECT doc_id, chunk_idx,
           row_number() OVER (PARTITION BY h ORDER BY doc_id, chunk_idx) AS rn
    FROM chunks
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       round(1.0 - SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) / COUNT(*), 6) AS dup_ratio
FROM ranked GROUP BY doc_id
"""


@register(
    "chunk_dedup_stats",
    _chunk_dedup_sql(),
    "C4-style sub-document dedup: global first-occurrence per 16-token chunk",
)
def q_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact chunk-level dedup across the corpus (C4 duplicate-line
    removal generalized to token chunks — the fixtures are single-line
    docs).  The oracle replays first-occurrence selection with a
    window; the Spark side uses the skew-immune min(struct) aggregate
    (see operators/dedup.chunk_dedup)."""
    from datalakehouse_spark.operators.dedup import chunk_dedup

    docs = load_table(spark, sf_dir, "documents")
    return chunk_dedup(docs, chunk_tokens=_CHUNK_TOKENS)


_DECON_NGRAM = 8


def _decontamination_sql() -> str:
    from datalakehouse_spark.registry_ext import _TOKS

    n = _DECON_NGRAM
    return f"""
WITH t AS (SELECT doc_id, source, {_TOKS} AS toks FROM documents),
grams AS (
    SELECT doc_id, unnest([md5(array_to_string(list_slice(toks, i, i + {n - 1}), ' '))
                           FOR i IN range(1, greatest(len(toks) - {n - 1}, 0) + 1)]) AS h
    FROM t
),
bg AS (SELECT DISTINCT h FROM grams WHERE doc_id % 50 = 0),
flagged AS (
    SELECT DISTINCT doc_id FROM grams
    WHERE doc_id % 50 <> 0 AND h IN (SELECT h FROM bg)
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN f.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_contaminated
FROM (SELECT doc_id, source FROM t WHERE doc_id % 50 <> 0) tr
LEFT JOIN flagged f USING (doc_id)
GROUP BY source ORDER BY source
"""


@register(
    "decontamination_report",
    _decontamination_sql(),
    "benchmark decontamination: train docs sharing an 8-gram with the eval split",
    # shared-scan materialization: the doc flag frame, checkpointed so the
    # gram cache is released before return
    eager=True,
)
def q_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-3/PaLM-style n-gram-overlap contamination check: the
    deterministic doc_id % 50 == 0 subset stands in for the benchmark
    suite; every other document is training data.  Benchmark n-gram
    digests broadcast; the corpus never shuffles for the check.

    Round-8 single-scan form (``decontamination_flags``): because
    bench and train are complementary predicates over ONE table, the
    corpus is tokenized once into a tagged gram frame (cached only for
    the duration of the call — the flag frame is checkpointed and the
    gram cache released before returning) instead of twice under
    complementary filters; the per-source totals come from a
    column-pruned (doc_id, source) re-scan that never touches text."""
    from datalakehouse_spark.operators.dedup import decontamination_flags

    docs = load_table(spark, sf_dir, "documents")
    flags = decontamination_flags(
        docs, F.col("doc_id") % 50 == 0, ngram=_DECON_NGRAM
    )
    return (
        docs.where(F.col("doc_id") % 50 != 0)
        .select("doc_id", "source")
        .join(flags, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.coalesce(F.col("contaminated"), F.lit(False)).cast("long")).alias(
                "n_contaminated"
            ),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Streaming incremental MV: foreachBatch partial-agg merge, batch-split
# independent (round 5)
# ---------------------------------------------------------------------------


@register(
    "streaming_incremental_mv",
    _IVM_SQL,
    "foreachBatch streaming refresh of a versioned rollup == full recompute",
    eager=True,  # materializing surface
)
def q_streaming_incremental_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming form of incremental_mv_maintenance: events are
    restaged as four files and drained with maxFilesPerTrigger=1, so
    foreachBatch fires four times, each merging that micro-batch's
    partial aggregates into the versioned MV (one commit per batch —
    the CDC trail).  The oracle is the batch full recompute: the final
    state must be independent of HOW the stream was micro-batched,
    which holds exactly because the merged measures are additive and
    carried as DECIMAL (operators/ivm.additive_merge).  This is the
    production continuous-rollup shape: per trigger, cost ∝ batch size
    + affected groups."""
    from datalakehouse_spark.operators.ivm import additive_merge
    from datalakehouse_spark.scratch import fresh_scratch
    from datalakehouse_spark.streaming.jobs import drain_confs
    from datalakehouse_spark.versioned import VersionedTable

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    root = fresh_scratch("stream_ivm")
    src = root + "/src"
    ev.repartition(4).write.mode("overwrite").parquet(src)

    t = VersionedTable(spark, root + "/mv")
    keys, measures = ["user_id", "day"], ["n", "sum_value_dec"]

    def rollup(df: DataFrame) -> DataFrame:
        return df.groupBy("user_id", F.to_date("ts").alias("day")).agg(
            F.count(F.lit(1)).alias("n"),
            dsum("value", as_double=False).alias("sum_value_dec"),
        )

    def apply_batch(batch_df: DataFrame, _batch_id: int) -> None:
        dagg = rollup(batch_df)
        if t.refs().get("main") is None:
            t.create(dagg)
            return
        state = t.read()
        affected = state.join(dagg.select(*keys), keys, "left_semi")
        merged = additive_merge(affected, dagg, keys, measures).withColumn(
            "sum_value_dec",
            F.col("sum_value_dec").cast(dict(state.dtypes)["sum_value_dec"]),
        )
        t.merge_upsert(merged, keys=keys)

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    with drain_confs(spark):
        q = (
            stream.writeStream.foreachBatch(apply_batch)
            .option("checkpointLocation", root + "/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return t.read().select(
        "user_id", "day", "n", F.col("sum_value_dec").cast("double").alias("sum_value")
    )


# ---------------------------------------------------------------------------
# Time-interval RANGE window frame + statistical moment aggregates
# ---------------------------------------------------------------------------

# decimal-staged like dsum_duckdb, written out because the sum is an
# OVER-window aggregate
_ROLLING_SQL = """
SELECT user_id, ts,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS roll_sum,
       CAST(COUNT(*) OVER w AS BIGINT) AS roll_n
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 3 DAYS PRECEDING AND CURRENT ROW)
"""

_3D_MICROS = 3 * 86_400 * 1_000_000


@register(
    "rolling_time_window",
    _ROLLING_SQL,
    "per-user 3-day rolling sum/count via a time-interval RANGE frame",
)
def q_rolling_time_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based window frames (RANGE BETWEEN INTERVAL ... PRECEDING):
    the rolling-metric shape a fixed ROWS frame cannot express when
    events are irregularly spaced.  Spark's RANGE frame needs a numeric
    order key, so the frame runs on ``unix_micros(ts)`` — microsecond
    parity with the oracle's interval arithmetic (an epoch-SECONDS key
    would truncate boundaries and silently disagree).  One shuffle on
    user_id; ties in ts share frame contents in both engines by RANGE
    semantics."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-_3D_MICROS, 0)
    )
    return ev.select(
        "user_id",
        "ts",
        F.sum(F.col("value").cast("decimal(18,2)")).over(w).cast("double").alias("roll_sum"),
        F.count(F.lit(1)).over(w).alias("roll_n"),
    )


_MOMENTS_SQL = """
SELECT event_type,
       round(stddev_samp(value), 6) AS sd,
       round(var_samp(value), 6) AS var,
       round(corr(value, CAST(EXTRACT(HOUR FROM ts) AS DOUBLE)), 6) AS corr_hour,
       round(covar_samp(value, CAST(user_id AS DOUBLE)), 6) AS covar_user
FROM events GROUP BY event_type ORDER BY event_type
"""


@register(
    "stats_moments",
    _MOMENTS_SQL,
    "second-moment aggregates: stddev/variance/correlation/covariance",
)
def q_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welford-merged second-moment aggregates per group.  Spark merges
    per-partition states, DuckDB streams sequentially — both are exact
    up to ulps, so outputs are rounded to 6 decimals (magnitudes here
    are O(10^3); the ulp-level divergence sits ~10 orders below the
    rounding step)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.round(F.stddev_samp("value"), 6).alias("sd"),
            F.round(F.var_samp("value"), 6).alias("var"),
            F.round(F.corr("value", F.hour("ts").cast("double")), 6).alias("corr_hour"),
            F.round(F.covar_samp("value", F.col("user_id").cast("double")), 6).alias(
                "covar_user"
            ),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Product quantization: per-subspace codebooks + ADC search (round 5)
# ---------------------------------------------------------------------------

_PQ_M = 4          # subspaces (64-dim fixture -> 16 dims each)
_PQ_SUB = 16
_PQ_CODES = 16
_PQ_ITERS = 2


def _pq_assign_parts(s: int) -> list[str]:
    """CTE chain replaying the subspace-``s`` seeded Lloyd k-means of
    pq_codebooks (same init, same avg, same min-struct argmin tiebreak
    as registry_ext._ivf_assign_parts, over the SLICED vector)."""
    from datalakehouse_spark.registry_ext import _md5h60

    lo, hi = s * _PQ_SUB + 1, (s + 1) * _PQ_SUB
    sqdist = (
        "list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        "[(e.emb[i] - c.centroid[i]) * (e.emb[i] - c.centroid[i]) "
        f"FOR i IN range(1, {_PQ_SUB + 1})]), (x, y) -> x + y)"
    )
    parts = [
        f"a0_{s} AS (SELECT vec_id, "
        f"[CAST(embedding[i] AS DOUBLE) FOR i IN range({lo}, {hi + 1})] AS emb, "
        f"CAST({_md5h60('CAST(vec_id AS VARCHAR)')} % {_PQ_CODES} AS INT) AS cluster "
        "FROM embeddings)"
    ]
    for t in range(1, _PQ_ITERS + 1):
        parts.append(
            f"""d{t}_{s} AS (
    SELECT cluster, UNNEST(range(1, {_PQ_SUB + 1})) AS pos,
           UNNEST(emb) AS v
    FROM a{t - 1}_{s})"""
        )
        parts.append(
            f"cd{t}_{s} AS (SELECT cluster, pos, AVG(v) AS c FROM d{t}_{s} GROUP BY cluster, pos)"
        )
        parts.append(
            f"cent{t}_{s} AS (SELECT cluster, list(c ORDER BY pos) AS centroid FROM cd{t}_{s} GROUP BY cluster)"
        )
        parts.append(
            f"""a{t}_{s} AS (
    SELECT vec_id, emb, st['c'] AS cluster FROM (
        SELECT e.vec_id, e.emb,
               MIN({{'d': {sqdist}, 'c': c.cluster}}) AS st
        FROM a0_{s} e CROSS JOIN cent{t}_{s} c GROUP BY e.vec_id, e.emb))"""
        )
    return parts


def _pq_search_sql() -> str:
    T = _PQ_ITERS
    parts = ["WITH qv AS (SELECT embedding AS q FROM embeddings WHERE vec_id = 0)"]
    for s in range(_PQ_M):
        parts.extend(_pq_assign_parts(s))
    code_joins = " ".join(
        f"JOIN a{T}_{s} USING (vec_id)" if s else f"a{T}_0"
        for s in range(_PQ_M)
    )
    code_cols = ", ".join(f"a{T}_{s}.cluster AS c{s}" for s in range(_PQ_M))
    parts.append(
        f"codes AS (SELECT vec_id, {code_cols} FROM {code_joins})"
    )
    for s in range(_PQ_M):
        lo = s * _PQ_SUB + 1
        qdist = (
            "list_reduce(list_prepend(CAST(0 AS DOUBLE), "
            f"[(CAST(q.q[i] AS DOUBLE) - c.centroid[i - {lo - 1}]) * "
            f"(CAST(q.q[i] AS DOUBLE) - c.centroid[i - {lo - 1}]) "
            f"FOR i IN range({lo}, {lo + _PQ_SUB})]), (x, y) -> x + y)"
        )
        parts.append(
            f"t{s} AS (SELECT c.cluster AS code, {qdist} AS d "
            f"FROM cent{T}_{s} c CROSS JOIN qv q)"
        )
    adc = " + ".join(f"t{s}.d" for s in range(_PQ_M))
    t_joins = " ".join(f"JOIN t{s} ON t{s}.code = e.c{s}" for s in range(_PQ_M))
    return ",\n".join(parts) + f"""
SELECT e.vec_id, round({adc}, 9) AS adc_dist
FROM codes e {t_joins}
WHERE e.vec_id <> 0
ORDER BY adc_dist ASC, e.vec_id ASC
LIMIT 10
"""


#: Session-memoized PQ index: (codes_path, books, sub)
@session_memo("pq_index")
def _pq_index_for(spark: SparkSession, sf_dir: str):
    import hashlib
    import os

    from datalakehouse_spark.operators.similarity import build_pq_index
    from datalakehouse_spark.scratch import stable_scratch

    key = (os.path.abspath(sf_dir), _PQ_M, _PQ_CODES, _PQ_ITERS)
    tag = "pq_index_" + hashlib.md5(repr(key).encode()).hexdigest()[:8]
    path = os.path.join(stable_scratch(tag), "codes")
    emb = load_table(spark, sf_dir, "embeddings")
    books, sub = build_pq_index(emb, path, m=_PQ_M, codes=_PQ_CODES, iters=_PQ_ITERS)
    return path, books, sub


def _pq_build_stats_sql() -> str:
    T = _PQ_ITERS
    parts = ["WITH " + ",\n".join(_pq_assign_parts(0))]
    for s in range(1, _PQ_M):
        parts.append(", " + ",\n".join(_pq_assign_parts(s)))
    unions = "\nUNION ALL\n".join(
        f"SELECT {s} AS subspace, cluster AS code, CAST(COUNT(*) AS BIGINT) AS n_vectors "
        f"FROM a{T}_{s} GROUP BY cluster"
        for s in range(_PQ_M)
    )
    return "\n".join(parts) + f"\n{unions}\nORDER BY subspace, code\n"


@register(
    "pq_build_stats",
    _pq_build_stats_sql(),
    "PQ codebook BUILD: per-subspace seeded k-means + encoded-corpus write; code occupancy",
    eager=True,  # build/serve split
    builds=("pq_index", "ivfpq_index"),
)
def q_pq_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build half of the PQ split as its own scored entry (mirrors
    ivf_build_stats): it carries the codebook training + encode +
    write cost so the search entries measure SERVING, and the
    per-(subspace, code) occupancy is the oracle check that the
    persisted encoding equals the replayed deterministic build."""
    path, _books, _sub = _pq_index_for(spark, sf_dir)
    df = spark.read.parquet(path)
    per = [
        df.groupBy(F.col(f"code_{s}").alias("code"))
        .agg(F.count(F.lit(1)).alias("n_vectors"))
        .select(F.lit(s).alias("subspace"), "code", "n_vectors")
        for s in range(_PQ_M)
    ]
    out = per[0]
    for d in per[1:]:
        out = out.unionByName(d)
    return out.orderBy("subspace", "code")


@register(
    "pq_search",
    _pq_search_sql(),
    "product quantization: subspace codebooks + ADC top-k over encoded corpus",
    eager=True,  # build/serve split
)
def q_pq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ's PQ half, build/serve split: codebooks + encoded corpus
    are a session-cached BUILD (operators/similarity.build_pq_index);
    the scored path serves by scanning the m-byte codes with literal
    per-subspace distance tables — at 100 TB the serve cost is the
    code scan (~dim*8/m smaller than raw) + m lookups/row, no shuffle.
    The oracle replays the full seeded build per subspace and the same
    ADC fold, so approximation error is pinned cross-engine, not just
    top-k membership."""
    from datalakehouse_spark.operators.similarity import pq_adc_search

    path, books, sub = _pq_index_for(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    qv = [float(x) for x in emb.where(F.col("vec_id") == 0).select("embedding").first()[0]]
    return pq_adc_search(spark, path, books, sub, qv, k=10, exclude_id=0)


# ---------------------------------------------------------------------------
# IVF-PQ: coarse-cluster pruning + ADC over codes (round 5 capstone)
# ---------------------------------------------------------------------------


def _ivfpq_search_sql(n_probe: int = 2) -> str:
    from datalakehouse_spark.registry_ext import _ivf_assign_parts

    T = _PQ_ITERS
    parts = [
        "WITH qv AS (SELECT embedding AS q FROM embeddings WHERE vec_id = 0),",
        *_ivf_assign_parts(k=8, iters=2),
    ]
    cdotq = (
        "list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        "[c.centroid[i] * CAST(q.q[i] AS DOUBLE) FOR i IN range(1, 65)]), (x, y) -> x + y)"
    )
    cdotc = (
        "list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        "[c.centroid[i] * c.centroid[i] FOR i IN range(1, 65)]), (x, y) -> x + y)"
    )
    parts.append(
        f""", probe AS (
    SELECT c.cluster FROM cent2 c CROSS JOIN qv q
    ORDER BY {cdotq} / sqrt({cdotc}) DESC, c.cluster ASC LIMIT {n_probe})"""
    )
    for s in range(_PQ_M):
        parts.append(", " + ",\n".join(_pq_assign_parts(s)))
    code_joins = " ".join(
        f"JOIN a{T}_{s} USING (vec_id)" if s else f"a{T}_0" for s in range(_PQ_M)
    )
    code_cols = ", ".join(f"a{T}_{s}.cluster AS c{s}" for s in range(_PQ_M))
    parts.append(f", codes AS (SELECT vec_id, {code_cols} FROM {code_joins})")
    for s in range(_PQ_M):
        lo = s * _PQ_SUB + 1
        qdist = (
            "list_reduce(list_prepend(CAST(0 AS DOUBLE), "
            f"[(CAST(q.q[i] AS DOUBLE) - c.centroid[i - {lo - 1}]) * "
            f"(CAST(q.q[i] AS DOUBLE) - c.centroid[i - {lo - 1}]) "
            f"FOR i IN range({lo}, {lo + _PQ_SUB})]), (x, y) -> x + y)"
        )
        parts.append(
            f", t{s} AS (SELECT c.cluster AS code, {qdist} AS d "
            f"FROM cent{T}_{s} c CROSS JOIN qv q)"
        )
    adc = " + ".join(f"t{s}.d" for s in range(_PQ_M))
    t_joins = " ".join(f"JOIN t{s} ON t{s}.code = e.c{s}" for s in range(_PQ_M))
    parts.append(
        f"""
SELECT e.vec_id, round({adc}, 9) AS adc_dist,
       CAST({n_probe} AS INTEGER) AS probed_clusters
FROM codes e JOIN a2 av ON av.vec_id = e.vec_id {t_joins}
WHERE av.cluster IN (SELECT cluster FROM probe) AND e.vec_id <> 0
ORDER BY adc_dist ASC, e.vec_id ASC
LIMIT 10"""
    )
    return "\n".join(parts)


#: Session-memoized IVF-PQ index: (path, coarse, books, sub)
@session_memo("ivfpq_index")
def _ivfpq_index_for(spark: SparkSession, sf_dir: str):
    import hashlib
    import os

    from datalakehouse_spark.scratch import stable_scratch

    key = (os.path.abspath(sf_dir), 8, _PQ_M, _PQ_CODES, _PQ_ITERS)
    tag = "ivfpq_index_" + hashlib.md5(repr(key).encode()).hexdigest()[:8]
    path = os.path.join(stable_scratch(tag), "index")
    # compose from the session's IVF and PQ builds (deterministic, so
    # identical to retraining): one literal-model projection of the
    # corpus writes codes + cluster — no second k-means, no join
    from datalakehouse_spark.operators.similarity import build_ivfpq_index
    from datalakehouse_spark.registry_ext import ivf_index_for

    _ivf_path, coarse = ivf_index_for(spark, sf_dir)
    _codes_path, books, sub = _pq_index_for(spark, sf_dir)
    build_ivfpq_index(load_table(spark, sf_dir, "embeddings"), path, coarse, books, sub)
    return path, coarse, books, sub


@register(
    "ivf_pq_search",
    _ivfpq_search_sql(),
    "IVF-PQ serve: partition-pruned probe + ADC over m-byte codes",
    eager=True,  # build/serve split
)
def q_ivfpq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed ANN capstone: the coarse quantizer prunes the scan
    to n_probe/n_clusters of the PARTITIONS, and what remains is read
    as m-byte PQ codes with literal distance-table lookups — at 100 TB
    a query touches n_probe/n_clusters of ~dim*8/m-compressed data,
    the FAISS IVFPQ serving equation, expressed as partition pruning +
    whole-stage-codegen projection.  Oracle replays coarse k-means,
    all m subspace codebooks, the probe ranking, and the ADC fold."""
    from datalakehouse_spark.operators.similarity import ivfpq_search

    path, coarse, books, sub = _ivfpq_index_for(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    qv = [float(x) for x in emb.where(F.col("vec_id") == 0).select("embedding").first()[0]]
    return ivfpq_search(
        spark, path, coarse, books, sub, qv, k=10, n_probe=2, exclude_id=0
    )


# ---------------------------------------------------------------------------
# PQ recall accounting: ADC top-k vs exact L2 top-k
# ---------------------------------------------------------------------------


def _pq_recall_sql() -> str:
    T = _PQ_ITERS
    exact_l2 = (
        "list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        "[(CAST(e.embedding[i] AS DOUBLE) - CAST(q.q[i] AS DOUBLE)) * "
        "(CAST(e.embedding[i] AS DOUBLE) - CAST(q.q[i] AS DOUBLE)) "
        "FOR i IN range(1, 65)]), (x, y) -> x + y)"
    )
    parts = ["WITH qv AS (SELECT embedding AS q FROM embeddings WHERE vec_id = 0)"]
    for s in range(_PQ_M):
        parts.extend(_pq_assign_parts(s))
    code_joins = " ".join(
        f"JOIN a{T}_{s} USING (vec_id)" if s else f"a{T}_0" for s in range(_PQ_M)
    )
    code_cols = ", ".join(f"a{T}_{s}.cluster AS c{s}" for s in range(_PQ_M))
    parts.append(f"codes AS (SELECT vec_id, {code_cols} FROM {code_joins})")
    for s in range(_PQ_M):
        lo = s * _PQ_SUB + 1
        qdist = (
            "list_reduce(list_prepend(CAST(0 AS DOUBLE), "
            f"[(CAST(q.q[i] AS DOUBLE) - c.centroid[i - {lo - 1}]) * "
            f"(CAST(q.q[i] AS DOUBLE) - c.centroid[i - {lo - 1}]) "
            f"FOR i IN range({lo}, {lo + _PQ_SUB})]), (x, y) -> x + y)"
        )
        parts.append(
            f"t{s} AS (SELECT c.cluster AS code, {qdist} AS d "
            f"FROM cent{T}_{s} c CROSS JOIN qv q)"
        )
    adc = " + ".join(f"t{s}.d" for s in range(_PQ_M))
    t_joins = " ".join(f"JOIN t{s} ON t{s}.code = e.c{s}" for s in range(_PQ_M))
    parts.append(
        f"""pq AS (
    SELECT e.vec_id FROM codes e {t_joins}
    WHERE e.vec_id <> 0
    ORDER BY round({adc}, 9) ASC, e.vec_id ASC LIMIT 10)"""
    )
    parts.append(
        f"""exact AS (
    SELECT e.vec_id FROM embeddings e CROSS JOIN qv q
    WHERE e.vec_id <> 0
    ORDER BY {exact_l2} ASC, e.vec_id ASC LIMIT 10)"""
    )
    return ",\n".join(parts) + """
SELECT 10 AS k,
       CAST((SELECT COUNT(*) FROM pq JOIN exact USING (vec_id)) AS BIGINT)
           AS pq_hits,
       round((SELECT COUNT(*) FROM pq JOIN exact USING (vec_id)) / 10.0, 6)
           AS pq_recall
"""


@register(
    "pq_recall_accounting",
    _pq_recall_sql(),
    "PQ quality ledger: ADC top-10 overlap with exact L2 top-10",
    eager=True,  # iterative / diagnostic
)
def q_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The measurement that makes PQ an engineering trade instead of a
    leap of faith: ADC top-10 vs exact L2 top-10 overlap, as an
    oracle-matched scalar.  The exact side is the brute-force scan
    (the recall baseline every ANN variant is judged against)."""
    from datalakehouse_spark.operators.similarity import _dvec, pq_adc_search

    path, books, sub = _pq_index_for(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    qv = [float(x) for x in emb.where(F.col("vec_id") == 0).select("embedding").first()[0]]
    pq_ids = pq_adc_search(spark, path, books, sub, qv, k=10, exclude_id=0).select(
        "vec_id"
    )
    v = _dvec("embedding")
    qlit = F.lit(qv)
    l2 = F.aggregate(
        F.zip_with(v, qlit, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, d: acc + d,
    )
    exact_ids = (
        emb.where(F.col("vec_id") != 0)
        .select("vec_id", l2.alias("d"))
        .orderBy(F.col("d").asc(), F.col("vec_id").asc())
        .limit(10)
        .select("vec_id")
    )
    hits = pq_ids.join(exact_ids, "vec_id").count()
    return spark.createDataFrame(
        [(10, hits, round(hits / 10.0, 6))], "k int, pq_hits bigint, pq_recall double"
    )


# ---------------------------------------------------------------------------
# Telematics trip distance: lag + haversine per device-day (reference
# domain: GPS telematics — SURVEY.md §0, §3)
# ---------------------------------------------------------------------------

_TRIP_SQL = """
WITH pts AS (
    SELECT user_id, ts, event_id,
           value / 5 - 20 AS lat,
           value - 120 AS lon
    FROM events
),
hops AS (
    SELECT user_id, CAST(ts AS DATE) AS day, lat, lon,
           lag(lat) OVER w AS plat,
           lag(lon) OVER w AS plon
    FROM pts
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
d AS (
    SELECT user_id, day,
           2 * 6371.0 * asin(sqrt(
               sin(radians(lat - plat) / 2) * sin(radians(lat - plat) / 2)
               + cos(radians(plat)) * cos(radians(lat))
                 * sin(radians(lon - plon) / 2) * sin(radians(lon - plon) / 2)
           )) AS hop_km
    FROM hops
)
SELECT user_id, day,
       round(SUM(hop_km), 6) AS trip_km,
       CAST(COUNT(hop_km) AS BIGINT) AS n_hops
FROM d GROUP BY user_id, day
"""


@register(
    "trip_distance_daily",
    _TRIP_SQL,
    "per-device daily haversine trip distance (lag over GPS track)",
)
def q_trip_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The telematics headline metric: distance traveled per device per
    day, as consecutive-fix haversine hops (coordinates synthesized
    deterministically from the fixture, same formulas as
    coordinate_parse_swap).  The lag window shuffles once on the device
    id; day boundaries inherit the previous day's last fix as the first
    hop's origin (both engines, by construction).  Trig differs between
    libm and the JVM by ulps, so the per-day sum is rounded to 6
    decimals — ~5 orders above the accumulated divergence."""
    ev = load_table(spark, sf_dir, "events")
    lat = F.col("value") / 5 - 20
    lon = F.col("value") - 120
    pts = ev.select("user_id", "ts", "event_id", lat.alias("lat"), lon.alias("lon"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    hops = pts.select(
        "user_id",
        F.to_date("ts").alias("day"),
        "lat",
        "lon",
        F.lag("lat").over(w).alias("plat"),
        F.lag("lon").over(w).alias("plon"),
    )
    from datalakehouse_spark.functions.geo import haversine_km

    hop_km = haversine_km(F.col("lat"), F.col("lon"), F.col("plat"), F.col("plon"))
    return (
        hops.select("user_id", "day", hop_km.alias("hop_km"))
        .groupBy("user_id", "day")
        .agg(
            F.round(F.sum("hop_km"), 6).alias("trip_km"),
            F.count("hop_km").alias("n_hops"),
        )
    )


_SPEED_SQL = """
WITH pts AS (
    SELECT user_id, ts, event_id,
           value / 5 - 20 AS lat,
           value - 120 AS lon
    FROM events
),
hops AS (
    SELECT user_id, lat, lon, ts,
           lag(lat) OVER w AS plat,
           lag(lon) OVER w AS plon,
           lag(ts) OVER w AS pts_
    FROM pts
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
seg AS (
    SELECT user_id,
           2 * 6371.0 * asin(sqrt(
               sin(radians(lat - plat) / 2) * sin(radians(lat - plat) / 2)
               + cos(radians(plat)) * cos(radians(lat))
                 * sin(radians(lon - plon) / 2) * sin(radians(lon - plon) / 2)
           )) / (CAST(epoch_us(ts) - epoch_us(pts_) AS DOUBLE) / 3600000000.0)
           AS kmh
    FROM hops WHERE pts_ IS NOT NULL AND epoch_us(ts) > epoch_us(pts_)
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_segments,
       CAST(SUM(CASE WHEN kmh > 80 THEN 1 ELSE 0 END) AS BIGINT) AS n_speeding,
       round(MAX(kmh), 6) AS max_kmh
FROM seg GROUP BY user_id
"""


@register(
    "speeding_segments",
    _SPEED_SQL,
    "per-device speed-violation detection from consecutive GPS fixes",
)
def q_speeding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference-domain risk signal (the risk score's speeding band,
    pipelines/risk_score.py, computed from raw fixes instead of a
    pre-joined speed column): consecutive-fix haversine distance over
    the elapsed interval, flag segments above 80 km/h.  The elapsed
    time is epoch-MICROSECOND integer arithmetic on both sides —
    exactly one double division per segment, so only the trig ulps need
    rounding (MAX picks one value; the counts are integer-exact)."""
    ev = load_table(spark, sf_dir, "events")
    pts = ev.select(
        "user_id",
        "ts",
        "event_id",
        (F.col("value") / 5 - 20).alias("lat"),
        (F.col("value") - 120).alias("lon"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    hops = pts.select(
        "user_id",
        "lat",
        "lon",
        F.unix_micros("ts").alias("us"),
        F.lag("lat").over(w).alias("plat"),
        F.lag("lon").over(w).alias("plon"),
        F.lag(F.unix_micros("ts")).over(w).alias("pus"),
    ).where(F.col("pus").isNotNull() & (F.col("us") > F.col("pus")))
    from datalakehouse_spark.functions.geo import haversine_km

    hop_km = haversine_km(F.col("lat"), F.col("lon"), F.col("plat"), F.col("plon"))
    kmh = hop_km / ((F.col("us") - F.col("pus")).cast("double") / 3_600_000_000.0)
    return (
        hops.select("user_id", kmh.alias("kmh"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.sum((F.col("kmh") > 80).cast("long")).alias("n_speeding"),
            F.round(F.max("kmh"), 6).alias("max_kmh"),
        )
    )


_CUM_USERS_SQL = """
WITH firsts AS (
    SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day
    FROM events GROUP BY user_id
),
daily AS (
    SELECT first_day AS day, CAST(COUNT(*) AS BIGINT) AS new_users
    FROM firsts GROUP BY first_day
)
SELECT day, new_users,
       CAST(SUM(new_users) OVER (ORDER BY day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_users
FROM daily
"""


@register(
    "running_distinct_users",
    _CUM_USERS_SQL,
    "cumulative distinct-user curve via first-seen day (no running-distinct state)",
)
def q_running_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative cardinality done the scale-correct way: a naive
    COUNT(DISTINCT) OVER (ORDER BY day) re-scans every prefix (or holds
    all-users state per row); instead each user contributes once at
    their MIN(day), and the cumulative curve is a running SUM over the
    tiny per-day series — two hash aggregates plus a window over days,
    state O(days) not O(users)."""
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("first_day"))
    daily = firsts.groupBy(F.col("first_day").alias("day")).agg(
        F.count(F.lit(1)).alias("new_users")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        "day", "new_users", F.sum("new_users").over(w).alias("cum_users")
    )
