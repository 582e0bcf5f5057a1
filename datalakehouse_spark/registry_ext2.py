"""Registry part 3: subquery family, SQL-API surface, JSON, array math,
window analytics, and the remaining dedup tiers.

Everything follows the part-1/2 determinism contract (registry.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datalakehouse_spark.io import load_table, register_views
from datalakehouse_spark.functions.numeric import dsum, dsum_duckdb
from datalakehouse_spark.operators import similarity as S
from datalakehouse_spark.registry import register
from datalakehouse_spark.scratch import fresh_scratch

# ---------------------------------------------------------------------------
# Subquery family (engine surface: Trino/Spark SQL users, SURVEY.md §2.3 note)
# ---------------------------------------------------------------------------

_CORRELATED_SQL = f"""
SELECT l_partkey,
       {dsum_duckdb("l_extendedprice")} AS small_qty_revenue,
       COUNT(*) AS n_small
FROM lineitem l1
WHERE l_quantity < (
    SELECT 0.5 * AVG(l_quantity) FROM lineitem l2 WHERE l2.l_partkey = l1.l_partkey)
GROUP BY l_partkey
"""


@register("correlated_avg_filter", _CORRELATED_SQL, "TPC-H Q17 shape: correlated scalar subquery")
def q_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # decorrelated form: compute per-part threshold once, broadcast-join
    # back — the plan Catalyst produces for the correlated SQL, written
    # explicitly (one extra scan, no per-row subquery execution)
    thresh = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        (F.avg("l_quantity") * 0.5).alias("threshold")
    )
    return (
        li.join(F.broadcast(thresh), F.col("l_partkey") == F.col("pk"))
        .where(F.col("l_quantity") < F.col("threshold"))
        .groupBy("l_partkey")
        .agg(
            dsum("l_extendedprice").alias("small_qty_revenue"),
            F.count(F.lit(1)).alias("n_small"),
        )
    )


_SCALAR_SUB_SQL = """
WITH a AS (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_p
           FROM orders)
SELECT o_orderkey, o_totalprice,
       round(o_totalprice / (SELECT avg_p FROM a), 6) AS price_ratio
FROM orders
WHERE o_totalprice > 1.8 * (SELECT avg_p FROM a)
"""


# iterative / diagnostic
@register("scalar_subquery_ratio", _SCALAR_SUB_SQL, "uncorrelated scalar subquery", eager=True)
def q_scalar_sub(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    # AVG of doubles is order-dependent in the last ulps; compute it
    # deterministically via the decimal path on both sides? The oracle
    # AVG runs sequentially; Spark's parallel AVG could differ by 1 ulp.
    # Use the exact decimal average to make both sides identical.
    row = orders.agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("s"),
        F.count(F.lit(1)).alias("n"),
    ).first()
    avg = float(row.s) / row.n  # double(exact sum)/count — same op as the oracle
    return (
        orders.where(F.col("o_totalprice") > 1.8 * F.lit(avg))
        .select(
            "o_orderkey",
            "o_totalprice",
            F.round(F.col("o_totalprice") / F.lit(avg), 6).alias("price_ratio"),
        )
    )


_HAVING_SQL = f"""
SELECT o_custkey, COUNT(*) AS n_orders, {dsum_duckdb("o_totalprice")} AS spend
FROM orders
GROUP BY o_custkey
HAVING COUNT(*) >= 12
"""


@register("groupby_having", _HAVING_SQL, "aggregate + HAVING filter")
def q_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"), dsum("o_totalprice").alias("spend"))
        .where(F.col("n_orders") >= 12)
    )


# ---------------------------------------------------------------------------
# SQL-API surface: the same engine through spark.sql over registered views
# ---------------------------------------------------------------------------

_GROUPING_SETS_SQL = f"""
SELECT c_mktsegment, o_orderpriority, COUNT(*) AS n, {dsum_duckdb("o_totalprice")} AS spend
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY GROUPING SETS ((c_mktsegment), (o_orderpriority), ())
"""


@register("grouping_sets_sql", _GROUPING_SETS_SQL, "GROUPING SETS via the SQL API")
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, "orders", "customer")
    return spark.sql(
        """
        SELECT c_mktsegment, o_orderpriority, COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY GROUPING SETS ((c_mktsegment), (o_orderpriority), ())
        """
    )


_INTERSECT_SQL = """
SELECT user_id FROM events WHERE event_type = 'click'
INTERSECT
SELECT user_id FROM events WHERE event_type = 'purchase'
"""


@register("set_intersect", _INTERSECT_SQL, "INTERSECT set operation")
def q_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    clickers = ev.where(F.col("event_type") == "click").select("user_id")
    buyers = ev.where(F.col("event_type") == "purchase").select("user_id")
    return clickers.intersect(buyers)


_EXCEPT_SQL = """
SELECT user_id, CAST(ts AS DATE) AS day FROM events WHERE event_type = 'view'
EXCEPT
SELECT user_id, CAST(ts AS DATE) FROM events WHERE event_type = 'error'
"""


@register("set_except", _EXCEPT_SQL, "EXCEPT set operation")
def q_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    viewers = ev.where(F.col("event_type") == "view").select(
        "user_id", F.to_date("ts").alias("day")
    )
    erroring = ev.where(F.col("event_type") == "error").select(
        "user_id", F.to_date("ts").alias("day")
    )
    return viewers.subtract(erroring)  # EXCEPT (distinct) semantics


# ---------------------------------------------------------------------------
# String predicates + JSON extraction (F: schema-on-read surface)
# ---------------------------------------------------------------------------

_STRING_PRED_SQL = """
SELECT doc_id, source FROM documents
WHERE source LIKE 'src1%' AND text LIKE '%the%' AND NOT source LIKE '%9'
"""


@register("string_predicates", _STRING_PRED_SQL, "LIKE / prefix / negation predicates")
def q_string_preds(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.where(
        F.col("source").like("src1%")
        & F.col("text").like("%the%")
        & ~F.col("source").like("%9")
    ).select("doc_id", "source")


_JSON_SQL = """
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
       COUNT(*) OVER (PARTITION BY CAST(json_extract_string(props, '$.k') AS BIGINT) % 10)
           AS k_mod_bucket_size
FROM events
"""


@register("json_extract_props", _JSON_SQL, "schema-on-read JSON extraction (from_json twin)")
def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    parsed = ev.select("event_id", k.alias("k"))
    w = Window.partitionBy(F.col("k") % 10)
    return parsed.withColumn("k_mod_bucket_size", F.count(F.lit(1)).over(w))


# ---------------------------------------------------------------------------
# Window analytics: lead/lag deltas, ntile, percent_rank
# ---------------------------------------------------------------------------

_LEADLAG_SQL = """
SELECT user_id, event_id,
       epoch_us(ts) - lag(epoch_us(ts)) OVER w AS gap_us,
       lead(event_id) OVER w AS next_event_id
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


@register("leadlag_gaps", _LEADLAG_SQL, "lag/lead inter-event deltas")
def q_leadlag(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.expr("ts_ns div 1000")
    return ev.select(
        "user_id",
        "event_id",
        (us - F.lag(us).over(w)).alias("gap_us"),
        F.lead("event_id").over(w).alias("next_event_id"),
    )


#: Below this on-disk size the global-rank entries use plain global
#: windows (one single-partition sort stage is cheaper than the
#: distributed ranker's fixed jobs); at/above it they switch to the
#: bucketed ranker.  Module-level so tests can force the large path.
_NTILE_DISTRIBUTED_MIN_BYTES = 256 * 1024 * 1024

_NTILE_SQL = """
SELECT o_orderkey, o_totalprice,
       ntile(4) OVER (ORDER BY o_totalprice DESC, o_orderkey ASC) AS price_quartile,
       round(percent_rank() OVER (ORDER BY o_totalprice ASC, o_orderkey ASC), 9) AS pr
FROM orders
"""


# Not eager (left the class in round 10): the size-adaptive plan's
# io.table_bytes probe runs zero Spark jobs and picks the lazy native
# window below 256 MiB, which is what the fixture-scale integrity scan
# observes; above it the entry runs the same eager bucketed ranker as
# gini_coefficient.
@register("ntile_percent_rank", _NTILE_SQL, "ntile + percent_rank analytics")
def q_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global NTILE/PERCENT_RANK, plan chosen by INPUT SIZE (round 10):

    - **small** (on-disk parquet < 256 MiB ≈ one executor-core sort
      territory): native ``F.ntile``/``F.percent_rank`` over global
      windows — two sorts in one single-partition stage, none of the
      bucketed ranker's fixed costs (split-sample job, checkpoint,
      counts collect).  A ≤256 MiB sort is sub-second on ONE core of
      any executor; forcing the distributed machinery here only adds
      latency.  Same size-keyed reasoning as
      ``autoBroadcastJoinThreshold``, decided by a zero-job file-size
      probe (``io.table_bytes``), so the decision itself costs nothing.
    - **large** (the 100 TB posture — the round-5 single-partition
      scale-killer fix): both functions reduce to arithmetic on a
      global row_number, which ``with_global_ranks`` computes
      distributed (range-bucket → partitioned window → broadcast
      offsets).  The two rank orders differ beyond reversal (DESC
      price but ASC key tiebreak) but share the leading column, so
      BOTH ranks come off ONE bucketing pass — two sorts over the same
      bucket partitioning, no re-join on the primary key.
      ``cache=True`` checkpoints the bucketed frame so the window and
      bucket-count branches share one materialization.

    Both plans implement identical semantics (unique total order ⇒
    row_number arithmetic ≡ native ntile/percent_rank), pinned by the
    shared DuckDB oracle; tests/test_ranking.py exercises the large
    path explicitly via the threshold override."""
    from datalakehouse_spark.io import table_bytes

    if table_bytes(sf_dir, "orders") < _NTILE_DISTRIBUTED_MIN_BYTES:
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_totalprice"
        )
        w_desc = Window.orderBy(
            F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
        )
        w_asc = Window.orderBy(
            F.col("o_totalprice").asc(), F.col("o_orderkey").asc()
        )
        return orders.select(
            "o_orderkey",
            "o_totalprice",
            F.ntile(4).over(w_desc).alias("price_quartile"),
            F.round(F.percent_rank().over(w_asc), 9).alias("pr"),
        )
    from datalakehouse_spark.operators.ranking import (
        ntile_from_rank,
        percent_rank_from_rank,
        with_global_ranks,
    )

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    n_df = orders.agg(F.count(F.lit(1)).cast("long").alias("__n"))
    ranked = with_global_ranks(
        orders,
        {
            "__rd": [("o_totalprice", False), ("o_orderkey", True)],
            "__ra": [("o_totalprice", True), ("o_orderkey", True)],
        },
        cache=True,
    )
    return (
        ranked.crossJoin(F.broadcast(n_df))
        .select(
            "o_orderkey",
            "o_totalprice",
            ntile_from_rank(F.col("__rd"), F.col("__n"), 4).alias("price_quartile"),
            F.round(percent_rank_from_rank(F.col("__ra"), F.col("__n")), 9).alias("pr"),
        )
    )


# ---------------------------------------------------------------------------
# Remaining dedup tiers: char-n-gram Jaccard + embedding-cosine near-dup
# ---------------------------------------------------------------------------

_CHAR_NGRAM_SQL = """
WITH g AS (
    SELECT doc_id,
           list_distinct([substr(t, i, 5)
                          FOR i IN range(1, greatest(length(t) - 4, 1) + 1)]) AS grams
    FROM (SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
          FROM documents WHERE doc_id % 25 = 0)
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       round(len(list_intersect(a.grams, b.grams))
             / greatest(len(a.grams) + len(b.grams)
                        - len(list_intersect(a.grams, b.grams)), 1),
             6) AS jaccard
FROM g a JOIN g b ON a.doc_id < b.doc_id
WHERE len(list_intersect(a.grams, b.grams)) * 1.0
      / greatest(len(a.grams) + len(b.grams)
                 - len(list_intersect(a.grams, b.grams)), 1) >= 0.2
"""


@register(
    "char_ngram_jaccard",
    _CHAR_NGRAM_SQL,
    "character-5-gram Jaccard near-dup (subsampled all-pairs verify tier)",
)
def q_char_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs on a 4% id-sample — the exact-verify tier; candidate
    generation at scale comes from MinHash-LSH (near_dup_pairs)."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 25 == 0)
        .repartition(spark.sparkContext.defaultParallelism)
    )
    norm = F.regexp_replace(F.lower(F.trim("text")), r"\s+", " ")
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(norm) - 4, F.lit(1))),
            lambda i: norm.substr(i, F.lit(5)),
        )
    )
    g = docs.select("doc_id", grams.alias("grams"))
    a = g.select(F.col("doc_id").alias("id_a"), F.col("grams").alias("ga"))
    b = g.select(F.col("doc_id").alias("id_b"), F.col("grams").alias("gb"))
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    inter = F.size(F.array_intersect("ga", "gb"))
    union = F.greatest(F.size("ga") + F.size("gb") - inter, F.lit(1))
    jac = inter / union
    return pairs.where(jac >= 0.2).select(
        "id_a", "id_b", F.round(jac, 6).alias("jaccard")
    )


_EMB_NEAR_DUP_SQL = """
WITH s AS (SELECT vec_id, label, embedding FROM embeddings WHERE vec_id % 5 = 0)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(
         list_reduce(list_prepend(CAST(0 AS DOUBLE),
             [CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)
              FOR i IN range(1, 65)]), (x, y) -> x + y)
         / (sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
             [CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)
              FOR i IN range(1, 65)]), (x, y) -> x + y))
          * sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
             [CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)
              FOR i IN range(1, 65)]), (x, y) -> x + y))), 9) AS cosine_sim
FROM s a JOIN s b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE round(
         list_reduce(list_prepend(CAST(0 AS DOUBLE),
             [CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)
              FOR i IN range(1, 65)]), (x, y) -> x + y)
         / (sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
             [CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)
              FOR i IN range(1, 65)]), (x, y) -> x + y))
          * sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
             [CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)
              FOR i IN range(1, 65)]), (x, y) -> x + y))), 9) >= 0.1
"""


@register(
    "embedding_near_dup",
    _EMB_NEAR_DUP_SQL,
    "embedding-cosine near-dup: label-blocked pairwise on an id-sample",
)
def q_emb_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") % 5 == 0)
    a = emb.select(
        F.col("vec_id").alias("id_a"), F.col("label").alias("blk"), S._dvec("embedding").alias("va")
    )
    b = emb.select(
        F.col("vec_id").alias("id_b"), F.col("label").alias("blk"), S._dvec("embedding").alias("vb")
    )
    pairs = a.join(b, ["blk"]).where(F.col("id_a") < F.col("id_b"))
    sim = F.round(S.cosine(F.col("va"), F.col("vb")), 9)
    return pairs.select("id_a", "id_b", sim.alias("cosine_sim")).where(
        F.col("cosine_sim") >= 0.1
    )


# ---------------------------------------------------------------------------
# ANN via random-hyperplane LSH (oracle-matched) + stateful streaming
# ---------------------------------------------------------------------------


def _plane_sql(w: list[float]) -> str:
    lits = ", ".join(repr(x) for x in w)
    return (
        "list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        f"[CAST(e.embedding[i] AS DOUBLE) * ([{lits}])[i] "
        "FOR i IN range(1, 65)]), (x, y) -> x + y)"
    )


def _ann_lsh_sql(multiprobe: bool = False) -> str:
    from datalakehouse_spark.operators.similarity import _plane_weights

    planes = _plane_weights(8, 64)
    bucket = " + ".join(
        f"(CASE WHEN {_plane_sql(w)} > 0 THEN {1 << p} ELSE 0 END)"
        for p, w in enumerate(planes)
    )
    dot = (
        "list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        "[CAST(e.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE) "
        "FOR i IN range(1, 65)]), (x, y) -> x + y)"
    )
    norm_e = (
        "sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        "[CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE) "
        "FOR i IN range(1, 65)]), (x, y) -> x + y))"
    )
    norm_q = (
        "sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        "[CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE) "
        "FOR i IN range(1, 65)]), (x, y) -> x + y))"
    )
    if multiprobe:
        # Hamming-ball radius 1: the bucket plus each single-plane flip
        flips = ", ".join(f"xor(qbucket, {1 << p})" for p in range(8))
        probes_cte = f",\nprobes AS (SELECT [qbucket, {flips}] AS pbs FROM qb)"
        where = "list_contains((SELECT pbs FROM probes), e.bucket)"
    else:
        probes_cte = ""
        where = "e.bucket = (SELECT qbucket FROM qb)"
    return f"""
WITH b AS (SELECT e.vec_id, e.embedding, {bucket} AS bucket FROM embeddings e),
qb AS (SELECT bucket AS qbucket, embedding FROM b WHERE vec_id = 0){probes_cte}
SELECT e.vec_id, round({dot} / ({norm_e} * {norm_q}), 9) AS cosine_sim
FROM b e CROSS JOIN (SELECT embedding FROM qb) q
WHERE {where} AND e.vec_id <> 0
ORDER BY cosine_sim DESC, e.vec_id ASC
LIMIT 5
"""


@register(
    "ann_lsh_search",
    _ann_lsh_sql(),
    "ANN: random-hyperplane LSH bucket probe -> exact rank within bucket",
    eager=True,  # build/serve split
)
def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datalakehouse_spark.operators.similarity import (
        _darray_lit,
        _dvec,
        cosine,
        hyperplane_lsh_bucket,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    b = emb.withColumn("bucket", hyperplane_lsh_bucket("embedding"))
    qrow = b.where(F.col("vec_id") == 0).select("bucket", "embedding").first()
    qvec = _darray_lit(qrow.embedding)
    return (
        b.where((F.col("bucket") == qrow.bucket) & (F.col("vec_id") != 0))
        .select(
            "vec_id",
            F.round(cosine(_dvec("embedding"), qvec), 9).alias("cosine_sim"),
        )
        .orderBy(F.col("cosine_sim").desc(), F.col("vec_id").asc())
        .limit(5)
    )


@register(
    "ann_multiprobe_search",
    _ann_lsh_sql(multiprobe=True),
    "ANN LSH with Hamming-ball(1) multi-probe: 9 buckets, recall >= single-probe",
    eager=True,  # build/serve split
)
def q_ann_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe ANN: probe the query's hyperplane-LSH bucket plus
    every Hamming-distance-1 neighbor (each single plane-sign flip) —
    the fix for single-probe's recall cliff when a true neighbor sits
    on the other side of ONE hyperplane.  The probe set is a fixed,
    deterministic function of the query bucket, so the oracle
    enumerates the same XOR flips.  Cost: 9/256 of the corpus instead
    of 1/256 — still a bucket-pruned scan, never a full one."""
    from datalakehouse_spark.operators.similarity import (
        _darray_lit,
        _dvec,
        cosine,
        hamming_ball_probes,
        hyperplane_lsh_bucket,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    b = emb.withColumn("bucket", hyperplane_lsh_bucket("embedding"))
    qrow = b.where(F.col("vec_id") == 0).select("bucket", "embedding").first()
    probes = hamming_ball_probes(qrow.bucket, n_planes=8, radius=1)
    qvec = _darray_lit(qrow.embedding)
    return (
        b.where(F.col("bucket").isin(probes) & (F.col("vec_id") != 0))
        .select(
            "vec_id",
            F.round(cosine(_dvec("embedding"), qvec), 9).alias("cosine_sim"),
        )
        .orderBy(F.col("cosine_sim").desc(), F.col("vec_id").asc())
        .limit(5)
    )


# the drained final state is deterministic because the stateful operator
# accumulates integer cents (order/batching-independent) — so the oracle
# is simply the batch per-user count + decimal sum.
_STATEFUL_SQL = """
SELECT user_id,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events GROUP BY user_id
"""


@register(
    "stateful_running_totals",
    _STATEFUL_SQL,
    "applyInPandasWithState per-key running totals (custom stateful op)",
    eager=True,  # materializing surface: drains a streaming query on the stream thread
)
def q_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from datalakehouse_spark.streaming.jobs import drain_confs, events_stream
    from datalakehouse_spark.streaming.reliability import running_totals_stateful

    name = "rt_" + uuid.uuid4().hex[:10]
    with drain_confs(spark):
        q = (
            running_totals_stateful(events_stream(spark, sf_dir).select("user_id", "value"))
            .writeStream.outputMode("update")
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    # update mode emits one row per key per micro-batch; the FINAL state
    # per key is the row with the highest n_events (monotonic per key)
    updates = spark.table(name)
    final = F.max(F.struct("n_events", "total_value")).alias("s")
    return (
        updates.groupBy("user_id")
        .agg(final)
        .select("user_id", F.col("s.n_events"), F.col("s.total_value"))
    )


# ---------------------------------------------------------------------------
# Lateral/explode surface, histograms, calendar rollups, array aggregation,
# salted skew-resistant aggregation
# ---------------------------------------------------------------------------

_WORDCOUNT_SQL = """
SELECT t AS token, COUNT(*) AS n
FROM (SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS t FROM documents)
GROUP BY t
ORDER BY n DESC, token ASC
LIMIT 25
"""


@register("explode_wordcount_topk", _WORDCOUNT_SQL, "explode (lateral view) + count + top-k")
def q_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.trim("text")), r"\s+")
    return (
        docs.select(F.explode(toks).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("token").asc())
        .limit(25)
    )


_HISTOGRAM_SQL = """
SELECT event_type, CAST(floor(value / 25.0) AS BIGINT) AS bucket, COUNT(*) AS n
FROM events GROUP BY event_type, CAST(floor(value / 25.0) AS BIGINT)
"""


@register("value_histogram", _HISTOGRAM_SQL, "fixed-width histogram buckets")
def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    bucket = F.floor(F.col("value") / 25.0).cast("bigint")
    return ev.groupBy("event_type", bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n")
    )


_MONTHLY_SQL = f"""
SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
       o_orderstatus,
       COUNT(*) AS n_orders,
       {dsum_duckdb("o_totalprice")} AS revenue
FROM orders GROUP BY 1, 2
"""


@register("monthly_revenue", _MONTHLY_SQL, "calendar (month) rollup")
def q_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.trunc(F.col("o_orderdate").cast("date"), "month").alias("month"),
            "o_orderstatus",
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("revenue"),
        )
    )


# the aggregated array is serialized to a CSV string for the output:
# list-valued cells crash the driver's pandas canonicalizer, and the
# joined form is equally discriminating (sorted, comma-separated).
_ARRAY_AGG_SQL = """
SELECT user_id,
       array_to_string(list_sort(list_distinct(list(event_type))), ',') AS types_seen,
       COUNT(DISTINCT event_type) AS n_types
FROM events GROUP BY user_id
"""


@register("array_agg_types", _ARRAY_AGG_SQL, "collect_set -> sorted array aggregation")
def q_array_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.array_join(F.array_sort(F.collect_set("event_type")), ",").alias("types_seen"),
        F.countDistinct("event_type").alias("n_types"),
    )


_SALTED_SQL = """
SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type
"""


@register(
    "salted_agg_counts",
    _SALTED_SQL,
    "skew-resistant two-stage salted aggregation == plain groupBy result",
)
def q_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datalakehouse_spark.operators.relational import salted_count

    ev = load_table(spark, sf_dir, "events")
    return salted_count(ev, ["event_type"])


# the quantized vector is reported as scalar digests (L1 norm, sum, and
# md5 of the CSV form) — list-valued cells crash the driver's pandas
# canonicalizer, and the md5 pins every element exactly.
_QUANT_SQL = """
WITH m AS (
    SELECT vec_id,
           list_reduce(list_prepend(CAST(0 AS DOUBLE),
               [abs(CAST(embedding[i] AS DOUBLE)) FOR i IN range(1, 65)]),
               (a, b) -> greatest(a, b)) AS max_abs,
           embedding
    FROM embeddings
), qq AS (
    SELECT vec_id,
           round(127.0 / greatest(max_abs, 1e-30), 9) AS scale,
           [CAST(round(CAST(embedding[i] AS DOUBLE) * (127.0 / greatest(max_abs, 1e-30)), 0) AS INT)
            FOR i IN range(1, 65)] AS q
    FROM m
)
SELECT vec_id, scale,
       CAST(list_reduce(list_prepend(0, [abs(x) FOR x IN q]), (a, b) -> a + b) AS BIGINT) AS q_l1,
       CAST(list_reduce(list_prepend(0, q), (a, b) -> a + b) AS BIGINT) AS q_sum,
       md5(array_to_string(q, ',')) AS q_md5
FROM qq
"""


@register(
    "quantize_embeddings_int8",
    _QUANT_SQL,
    "int8 scalar quantization of embedding vectors (4x storage cut)",
)
def q_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datalakehouse_spark.operators.similarity import quantize_int8_df

    emb = load_table(spark, sf_dir, "embeddings")
    staged = quantize_int8_df(emb)  # q materialized once, reused 3x below
    zero = F.lit(0).cast("bigint")
    return staged.select(
        "vec_id",
        F.round("scale", 9).alias("scale"),
        F.aggregate("q", zero, lambda a, x: a + F.abs(x)).alias("q_l1"),
        F.aggregate("q", zero, lambda a, x: a + x).alias("q_sum"),
        F.md5(F.array_join(F.transform("q", lambda x: x.cast("string")), ",")).alias("q_md5"),
    )


# ---------------------------------------------------------------------------
# Deterministic statistics: exact percentiles, exact-sum stddev, z-score
# feature normalization (ML data-prep surface)
# ---------------------------------------------------------------------------

_MEDIAN_SQL = """
SELECT event_type,
       round(quantile_cont(value, 0.5), 9) AS p50,
       round(quantile_cont(value, 0.9), 9) AS p90,
       round(quantile_cont(value, 0.99), 9) AS p99
FROM events GROUP BY event_type
"""


@register("exact_percentiles", _MEDIAN_SQL, "exact interpolated percentiles per group")
def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 9).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 9).alias("p90"),
        F.round(F.expr("percentile(value, 0.99)"), 9).alias("p99"),
    )


# Deterministic stddev: value has 2 decimals -> value^2 has exactly 4;
# sum both in DECIMAL (exact, order-free), then one double formula.
# Same construction on both engines => bit-identical statistics.
_STATS_SQL = """
WITH s AS (
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sx,
           CAST(SUM(CAST(value * value AS DECIMAL(18,4))) AS DOUBLE) AS sx2
    FROM events GROUP BY event_type
)
SELECT event_type, n,
       round(sx / n, 9) AS mean,
       round(sqrt((sx2 - sx * sx / n) / (n - 1)), 9) AS stddev
FROM s
"""


@register("value_stats_exact", _STATS_SQL, "order-independent mean/stddev via exact sums")
def q_value_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    s = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sx"),
        F.sum((F.col("value") * F.col("value")).cast("decimal(18,4)")).cast("double").alias("sx2"),
    )
    return s.select(
        "event_type",
        "n",
        F.round(F.col("sx") / F.col("n"), 9).alias("mean"),
        F.round(
            F.sqrt((F.col("sx2") - F.col("sx") * F.col("sx") / F.col("n")) / (F.col("n") - 1)),
            9,
        ).alias("stddev"),
    )


_ZSCORE_SQL = """
WITH s AS (
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sx,
           CAST(SUM(CAST(value * value AS DECIMAL(18,4))) AS DOUBLE) AS sx2
    FROM events GROUP BY event_type
)
SELECT e.event_id,
       round((e.value - s.sx / s.n)
             / sqrt((s.sx2 - s.sx * s.sx / s.n) / (s.n - 1)), 6) AS z
FROM events e JOIN s ON e.event_type = s.event_type
"""


@register(
    "zscore_normalize",
    _ZSCORE_SQL,
    "per-group z-score feature normalization (broadcast group stats)",
)
def q_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    s = ev.groupBy(F.col("event_type").alias("et")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sx"),
        F.sum((F.col("value") * F.col("value")).cast("decimal(18,4)")).cast("double").alias("sx2"),
    )
    mean = F.col("sx") / F.col("n")
    std = F.sqrt((F.col("sx2") - F.col("sx") * F.col("sx") / F.col("n")) / (F.col("n") - 1))
    return (
        ev.join(F.broadcast(s), ev.event_type == s.et)
        .select("event_id", F.round((F.col("value") - mean) / std, 6).alias("z"))
    )


# ---------------------------------------------------------------------------
# Disjunctive predicate pushdown (Q19 shape) + min-per-group join-back (Q2)
# ---------------------------------------------------------------------------

_DISJUNCTIVE_SQL = f"""
SELECT COUNT(*) AS n, {dsum_duckdb("l_extendedprice * (1 - l_discount)", 4)} AS revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity >= 10)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30 AND l_quantity >= 20)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50 AND l_quantity >= 30)
"""


@register("disjunctive_predicates", _DISJUNCTIVE_SQL, "TPC-H Q19 shape: OR-of-ANDs join filter")
def q_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15) & (F.col("l_quantity") >= 10))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(10, 30) & (F.col("l_quantity") >= 20))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(20, 50) & (F.col("l_quantity") >= 30))
    )
    return j.where(cond).agg(
        F.count(F.lit(1)).alias("n"),
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("revenue"),
    )


_MIN_JOINBACK_SQL = """
WITH mn AS (
    SELECT l_partkey AS pk, MIN(l_extendedprice) AS min_price
    FROM lineitem GROUP BY l_partkey
)
SELECT l_partkey, l_suppkey, l_extendedprice AS min_price_row
FROM lineitem JOIN mn ON l_partkey = mn.pk AND l_extendedprice = mn.min_price
"""


@register(
    "min_per_group_joinback",
    _MIN_JOINBACK_SQL,
    "TPC-H Q2 shape: per-group MIN joined back to recover the full row",
)
def q_min_joinback(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    mn = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.min("l_extendedprice").alias("min_price")
    )
    return (
        li.join(
            mn,
            (F.col("l_partkey") == F.col("pk"))
            & (F.col("l_extendedprice") == F.col("min_price")),
        )
        .select("l_partkey", "l_suppkey", F.col("l_extendedprice").alias("min_price_row"))
    )


# ---------------------------------------------------------------------------
# Risk-table serving endpoint (main.py:311-374: the second REST endpoint)
# ---------------------------------------------------------------------------

_RISK_PAGE_SQL = None  # assembled below from the risk CTE


def _risk_page_sql() -> str:
    from datalakehouse_spark.pipelines.risk_score import risk_score_daily_oracle_sql

    return f"""
WITH risk AS ({risk_score_daily_oracle_sql()})
SELECT device_id, report_date, score, level, total_reports
FROM risk
WHERE device_id = '7'
ORDER BY device_id ASC, report_date DESC
LIMIT 10
"""


@register(
    "risk_serving_page",
    _risk_page_sql(),
    "GET /risk_score_daily page: filter + sort + limit over the risk table",
)
def q_risk_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serving page over the risk aggregate for one device.

    Round 11 (VERDICT r10 #3): the device lookup is TRANSPOSED through
    the derived-column mapping onto the source — device_id is
    CAST(user_id AS STRING), an injective map, so `device_id = '7'`
    becomes the typed `user_id = 7` BELOW the aggregate and reaches the
    parquet scan as a pushed filter (PushedFilters: EqualTo(user_id,7),
    row-group pruning), where the string form stayed a post-scan cast
    compare over every row group.  The string filter is kept above the
    aggregate as the literal serving contract (free: it sees only the
    one device's rows).  Plan asserted in tests/test_plans.py."""
    from datalakehouse_spark.pipelines.risk_score import (
        device_source_predicate,
        risk_score_daily,
    )

    events = load_table(spark, sf_dir, "events").where(
        device_source_predicate("7")
    )
    risk = risk_score_daily(events)
    return (
        risk.where(F.col("device_id") == "7")
        .orderBy(F.col("device_id").asc(), F.col("report_date").desc())
        .select("device_id", "report_date", "score", "level", "total_reports")
        .limit(10)
    )


_Q4_SQL = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate)
GROUP BY o_orderpriority
"""


@register("q4_order_priority", _Q4_SQL, "TPC-H Q4 shape: EXISTS with correlated condition")
def q_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    # orders with >=1 lineitem shipped after the order date (EXISTS)
    has_late = orders.join(
        li,
        (li.l_orderkey == orders.o_orderkey) & (li.l_shipdate > orders.o_orderdate),
        "left_semi",
    )
    return has_late.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("order_count"))


_Q12_SQL = """
SELECT l_linestatus,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT)
           AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT)
           AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY l_linestatus
"""


@register("q12_shipmode_priority", _Q12_SQL, "TPC-H Q12 shape: two-way conditional counts")
def q_shipmode(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


# ---------------------------------------------------------------------------
# Time-series gap filling (sequence explode + zero-fill) and UNPIVOT
# ---------------------------------------------------------------------------

_GAPFILL_SQL = """
WITH bounds AS (
    SELECT user_id, CAST(min(ts) AS DATE) AS d0, CAST(max(ts) AS DATE) AS d1
    FROM events WHERE user_id < 5 GROUP BY user_id
),
calendar AS (
    SELECT user_id, unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
    FROM bounds
),
daily AS (
    SELECT user_id, CAST(ts AS DATE) AS day, COUNT(*) AS n
    FROM events WHERE user_id < 5 GROUP BY 1, 2
)
SELECT c.user_id, c.day, COALESCE(d.n, 0) AS n_events
FROM calendar c LEFT JOIN daily d ON c.user_id = d.user_id AND c.day = d.day
"""


@register(
    "gapfill_daily_counts",
    _GAPFILL_SQL,
    "time-series gap fill: per-key calendar spine (sequence+explode) left-joined to facts",
)
def q_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") < 5)
    bounds = ev.groupBy("user_id").agg(
        F.to_date(F.min("ts")).alias("d0"), F.to_date(F.max("ts")).alias("d1")
    )
    calendar = bounds.select(
        "user_id", F.explode(F.sequence("d0", "d1")).alias("day")
    )
    daily = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )
    return (
        calendar.join(daily, ["user_id", "day"], "left")
        .select("user_id", "day", F.coalesce("n", F.lit(0)).alias("n_events"))
    )


_UNPIVOT_SQL = """
WITH p AS (
    SELECT CAST(ts AS DATE) AS day,
           COUNT(*) FILTER (WHERE event_type = 'click') AS click,
           COUNT(*) FILTER (WHERE event_type = 'view') AS view
    FROM events GROUP BY 1
)
SELECT day, 'click' AS metric, click AS n FROM p
UNION ALL
SELECT day, 'view' AS metric, view AS n FROM p
"""


@register("unpivot_daily", _UNPIVOT_SQL, "UNPIVOT (wide -> long) via the melt API")
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    wide = (
        ev.groupBy(F.to_date("ts").alias("day"))
        .pivot("event_type", ["click", "view"])
        .agg(F.count(F.lit(1)))
        .select("day", F.coalesce("click", F.lit(0)).alias("click"),
                F.coalesce("view", F.lit(0)).alias("view"))
    )
    return wide.unpivot("day", ["click", "view"], "metric", "n")


_HEATMAP_SQL = """
SELECT isodow(ts) - 1 AS weekday, EXTRACT(hour FROM ts) AS hour,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2
"""


@register("hourly_heatmap", _HEATMAP_SQL, "weekday x hour activity heatmap (calendar funcs)")
def q_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # Spark weekday(): 0=Monday == DuckDB isodow-1
    return ev.groupBy(
        F.weekday("ts").cast("bigint").alias("weekday"),
        F.hour("ts").cast("bigint").alias("hour"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
    )


_NULL_AGG_SQL = """
SELECT event_type,
       COUNT(*) AS n_rows,
       COUNT(NULLIF(value, 0.0)) AS n_nonzero,
       CAST(COALESCE(SUM(CAST(NULLIF(value, 0.0) AS DECIMAL(18,2))), 0) AS DOUBLE)
           AS sum_nonzero,
       CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null
FROM events GROUP BY event_type
"""


@register("null_semantics_agg", _NULL_AGG_SQL, "NULL-skipping aggregate semantics (NULLIF/COALESCE)")
def q_null_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    nz = F.nullif(F.col("value"), F.lit(0.0))
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(nz).alias("n_nonzero"),
        F.coalesce(F.sum(nz.cast("decimal(18,2)")), F.lit(0)).cast("double").alias("sum_nonzero"),
        F.sum(F.when(F.col("value").isNull(), 1).otherwise(0)).alias("n_null"),
    )


# ---------------------------------------------------------------------------
# Versioned table: time travel (the Nessie/Iceberg snapshot capability,
# reference create.sql:1-13 — parquet-backend analog in versioned.py)
# ---------------------------------------------------------------------------

_TT_SQL = f"""
SELECT user_id, CAST(ts AS DATE) AS day,
       COUNT(*) AS n,
       {dsum_duckdb("value")} AS sum_value
FROM events
WHERE CAST(ts AS DATE) <= DATE '2024-01-15'
GROUP BY 1, 2
"""


@register(
    "time_travel_read",
    _TT_SQL,
    "versioned table: commit v1, upsert v2, read the v1 snapshot back",
    eager=True,  # materializing surface
)
def q_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write a per-(user, day) aggregate as commit v1, MERGE a
    recomputed overlap (doubled metric, days 10-20) as commit v2, then
    time-travel-read version 1 — which must equal the original
    aggregate even though the CURRENT version differs on days 10-15.
    The oracle recomputes v1 directly, so a broken snapshot (v2 data
    leaking into the v1 read) hash-mismatches."""

    from datalakehouse_spark.versioned import VersionedTable

    ev = load_table(spark, sf_dir, "events")
    day = F.to_date("ts")
    v1 = (
        ev.where(day <= F.lit("2024-01-15"))
        .groupBy("user_id", day.alias("day"))
        .agg(F.count(F.lit(1)).alias("n"), dsum("value").alias("sum_value"))
    )
    v2_overlap = (
        ev.where(day.between(F.lit("2024-01-10"), F.lit("2024-01-20")))
        .groupBy("user_id", day.alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum(F.col("value") * 2).alias("sum_value"),
        )
    )
    path = fresh_scratch("time_travel")
    t = VersionedTable(spark, path + "/t", partition_by=["day"])
    t.create(v1)
    t.merge_upsert(v2_overlap, keys=["user_id", "day"])
    return t.read(version=1).select("user_id", "day", "n", "sum_value")


_INCR_SQL = f"""
SELECT user_id, CAST(ts AS DATE) AS day,
       COUNT(*) AS n,
       {dsum_duckdb("value")} AS sum_value
FROM events
WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-16' AND DATE '2024-01-25'
GROUP BY 1, 2
"""


@register(
    "version_incremental_read",
    _INCR_SQL,
    "versioned table: CDC-style incremental scan of files added between commits",
    eager=True,  # materializing surface
)
def q_version_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Commit days <=15 as v1, append days 16-25 as v2, incrementally
    read v1->v2: only the appended files are scanned (file-level
    manifest diff, the Iceberg incremental append scan), so the result
    is exactly the day-16..25 delta."""

    from datalakehouse_spark.versioned import VersionedTable

    ev = load_table(spark, sf_dir, "events")
    day = F.to_date("ts")
    agg = lambda df: df.groupBy("user_id", day.alias("day")).agg(  # noqa: E731
        F.count(F.lit(1)).alias("n"), dsum("value").alias("sum_value")
    )
    path = fresh_scratch("version_incr")
    t = VersionedTable(spark, path + "/t", partition_by=["day"])
    v1 = t.create(agg(ev.where(day <= F.lit("2024-01-15"))))
    v2 = t.append(agg(ev.where(day.between(F.lit("2024-01-16"), F.lit("2024-01-25")))))
    return t.incremental_read(v1, v2).select("user_id", "day", "n", "sum_value")


_STREAM_DEDUP_SQL = """
SELECT user_id, event_type, COUNT(*) AS n_first
FROM (SELECT DISTINCT user_id, event_type FROM events)
GROUP BY user_id, event_type
"""


@register(
    "streaming_dedup",
    _STREAM_DEDUP_SQL,
    "streaming dropDuplicates: first occurrence per key across micro-batches",
    eager=True,  # materializing surface: drains a streaming query on the stream thread
)
def q_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exactly-once dedup surface: dropDuplicates on
    (user_id, event_type) across the whole stream (state carries the
    seen-key set; production bounds it with
    dropDuplicatesWithinWatermark, tested in test_dedup_edge).  Emitting
    only the key columns makes the drained result independent of WHICH
    physical row arrived first — each distinct key appears exactly
    once."""
    import uuid

    from datalakehouse_spark.streaming.jobs import drain_confs, events_stream

    name = "sdedup_" + uuid.uuid4().hex[:10]
    with drain_confs(spark):
        q = (
            events_stream(spark, sf_dir)
            .select("user_id", "event_type")
            .dropDuplicates(["user_id", "event_type"])
            .writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return (
        spark.table(name)
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("n_first"))
    )


# ---------------------------------------------------------------------------
# TPC-H shapes q6/q10/q14/q18 (engine SQL surface breadth) + blocked
# pairwise top-k neighbors (the all-pairs similarity operator, registry-
# exposed; SURVEY.md §2.3 note on Trino/Spark SQL users)
# ---------------------------------------------------------------------------

_Q6_SQL = """
SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
"""


@register("q6_forecast_revenue", _Q6_SQL, "TPC-H Q6: filter + single conditional revenue sum")
def q_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(dsum(F.col("l_extendedprice") * F.col("l_discount"), scale=4).alias("revenue"))
    )


_Q10_SQL = """
SELECT c_custkey, c_name, n_name, c_acctbal,
       COUNT(*) AS n_items,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
           AS revenue
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN orders ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1996-04-01'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name, c_acctbal
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""


@register("q10_returned_items", _Q10_SQL, "TPC-H Q10: 4-way join, agg, top-20 by revenue")
def q_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        cust.join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(
            orders.where(
                (F.col("o_orderdate") >= F.lit("1996-01-01"))
                & (F.col("o_orderdate") < F.lit("1996-04-01"))
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            li.where(F.col("l_returnflag") == "R"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("c_custkey", "c_name", "n_name", "c_acctbal")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), scale=4).alias(
                "revenue"
            ),
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


_Q14_SQL = """
SELECT round(
    100.0 * CAST(SUM(CAST(CASE WHEN p_type LIKE 'PROMO%'
                               THEN l_extendedprice * (1 - l_discount)
                               ELSE 0 END AS DECIMAL(18,4))) AS DOUBLE)
          / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE),
    6) AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1996-02-01'
"""


@register("q14_promo_effect", _Q14_SQL, "TPC-H Q14: conditional ratio over a join")
def q_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type").like("PROMO%"), rev).otherwise(F.lit(0.0))
    joined = li.where(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1996-02-01"))
    ).join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
    return joined.agg(
        F.round(100.0 * dsum(promo, scale=4) / dsum(rev, scale=4), 6).alias(
            "promo_revenue_pct"
        )
    )


_Q18_SQL = """
WITH big AS (
    SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
    HAVING SUM(l_quantity) > 300
)
SELECT c_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS order_day, o_totalprice,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
FROM customer
JOIN orders ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE o_orderkey IN (SELECT l_orderkey FROM big)
GROUP BY c_custkey, o_orderkey, order_day, o_totalprice
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 100
"""


@register("q18_large_orders", _Q18_SQL, "TPC-H Q18: HAVING subquery semi-join + re-aggregate")
def q_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("_q"))
        .where(F.col("_q") > 300)
        .select("l_orderkey")
    )
    return (
        cust.join(orders, F.col("o_custkey") == F.col("c_custkey"))
        .join(li.join(big, "l_orderkey", "left_semi"), F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            "c_custkey",
            "o_orderkey",
            F.to_date("o_orderdate").alias("order_day"),
            "o_totalprice",
        )
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("total_qty"))
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(100)
    )


def _pairwise_sql() -> str:
    dot = (
        "list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        "[CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE) "
        "FOR i IN range(1, 65)]), (x, y) -> x + y)"
    )
    norm = lambda t: (  # noqa: E731
        "sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        f"[CAST({t}.embedding[i] AS DOUBLE) * CAST({t}.embedding[i] AS DOUBLE) "
        "FOR i IN range(1, 65)]), (x, y) -> x + y))"
    )
    return f"""
WITH p AS (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round({dot} / ({norm('a')} * {norm('b')}), 9) AS cosine_sim
    FROM embeddings a JOIN embeddings b
      ON a.label = b.label AND a.vec_id < b.vec_id
)
SELECT id_a, id_b, cosine_sim FROM p
QUALIFY row_number() OVER (PARTITION BY id_a ORDER BY cosine_sim DESC, id_b ASC) <= 3
"""


@register(
    "pairwise_topk_blocked",
    _pairwise_sql(),
    "blocked all-pairs top-k neighbors (equi-join on block key, never O(n^2) global)",
)
def q_pairwise_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return S.pairwise_topk(emb, k=3)


_SCD2_SQL = """
WITH upd AS (
    SELECT o_custkey AS c_custkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS attr
    FROM orders
    WHERE o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1996-07-01'
    GROUP BY o_custkey
)
SELECT c.c_custkey, c.c_acctbal AS attr,
       DATE '1995-01-01' AS valid_from, DATE '1996-07-01' AS valid_to,
       FALSE AS is_current
FROM customer c JOIN upd u ON c.c_custkey = u.c_custkey
UNION ALL
SELECT c.c_custkey, c.c_acctbal, DATE '1995-01-01', CAST(NULL AS DATE), TRUE
FROM customer c WHERE c.c_custkey NOT IN (SELECT c_custkey FROM upd)
UNION ALL
SELECT c_custkey, attr, DATE '1996-07-01', CAST(NULL AS DATE), TRUE FROM upd
"""


@register(
    "scd2_customer_history",
    _SCD2_SQL,
    "SCD type-2 apply: close out changed keys, append new current versions",
)
def q_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension versioning without MERGE (operators/relational.scd2_apply):
    v0 = every customer current since 1995-01-01; updates = customers
    with 1996-H1 orders get a recomputed attribute effective
    1996-07-01.  Emits closed-out rows, untouched current rows, and the
    fresh versions — the reference's upsert-history pattern on a
    catalog-free backend."""
    from datalakehouse_spark.operators.relational import scd2_apply

    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    dim = cust.select(
        "c_custkey",
        F.col("c_acctbal").alias("attr"),
        F.lit("1995-01-01").cast("date").alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    updates = (
        orders.where(
            (F.col("o_orderdate") >= F.lit("1996-01-01"))
            & (F.col("o_orderdate") < F.lit("1996-07-01"))
        )
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(dsum("o_totalprice").alias("attr"))
        .withColumn("valid_from", F.lit("1996-07-01").cast("date"))
    )
    return scd2_apply(dim, updates, key="c_custkey", ts_col="valid_from")


# ---------------------------------------------------------------------------
# Reproducible sampling / dataset splits (training-data ops): hash-based,
# so the sample is deterministic across engines, reruns, partitionings,
# and cluster sizes — never rand()/sample(), which no oracle can match
# ---------------------------------------------------------------------------

_SAMPLE_HASH = (
    "('0x' || substr(md5(source || ':' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100"
)

_STRAT_SAMPLE_SQL = f"""
SELECT doc_id, source FROM documents
WHERE {_SAMPLE_HASH} < 20
"""


def _sample_bucket() -> F.Column:
    from datalakehouse_spark.operators.dedup import md5_hash60

    key = F.concat_ws(":", F.col("source"), F.col("doc_id").cast("string"))
    return md5_hash60(key) % 100


@register(
    "stratified_sample",
    _STRAT_SAMPLE_SQL,
    "deterministic 20% hash-sample per stratum (reproducible, engine-independent)",
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.where(_sample_bucket() < 20).select("doc_id", "source")


from datalakehouse_spark.operators.textstats import TOKEN_PATTERN as _TOKEN_PATTERN

_SPLIT_SQL = f"""
WITH b AS (SELECT doc_id, source, text, {_SAMPLE_HASH} AS bucket FROM documents)
SELECT source,
       CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val' ELSE 'test' END
           AS split,
       COUNT(*) AS n_docs,
       CAST(SUM(len(regexp_extract_all(text, '{_TOKEN_PATTERN}'))) AS BIGINT)
           AS total_tokens
FROM b GROUP BY source, split
"""


@register(
    "dataset_split_counts",
    _SPLIT_SQL,
    "deterministic train/val/test split (80/10/10 hash buckets) with token accounting",
)
def q_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datalakehouse_spark.operators import textstats as TS

    docs = load_table(spark, sf_dir, "documents")
    bucket = _sample_bucket()
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return docs.groupBy("source", split.alias("split")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(TS.token_count("text").cast("bigint")).cast("bigint").alias("total_tokens"),
    )


_JSONL_SQL = """
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
       CAST(SUM(ts_ns // 1000000000) AS BIGINT) AS sum_epoch_s
FROM (SELECT event_type, value, epoch_ns(ts) AS ts_ns FROM events WHERE event_id % 7 = 0)
GROUP BY event_type
"""


@register(
    "jsonl_ingest_roundtrip",
    _JSONL_SQL,
    "JSON-lines source: serialize -> schema-on-read ingest == parquet-path result",
    eager=True,  # materializing surface
)
def q_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's wire format is JSON (Kafka payloads,
    create.sql:72-121).  Exercise the JSON file source end-to-end:
    serialize a deterministic events subset to JSON lines, read it back
    through an explicit schema (schema-on-read, no inference job), and
    aggregate — must equal the parquet-path computation exactly.
    Timestamps travel as int64 ns (no tz formatting ambiguity)."""

    from pyspark.sql import types as T

    ev = load_table(spark, sf_dir, "events").where(F.col("event_id") % 7 == 0)
    path = fresh_scratch("jsonl_src") + "/events"
    ev.select(
        F.to_json(F.struct("event_id", "event_type", "value", "ts_ns")).alias("j")
    ).write.mode("overwrite").text(path)
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("ts_ns", T.LongType()),
        ]
    )
    back = spark.read.schema(schema).json(path)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("value").alias("sum_value"),
        F.sum(F.expr("ts_ns div 1000000000")).cast("bigint").alias("sum_epoch_s"),
    )


_COORD_SQL = """
SELECT event_id,
       CAST(printf('%.4f', value / 5 - 20) AS DOUBLE)  AS latitude,
       CAST(printf('%.4f', value - 120) AS DOUBLE)     AS longitude
FROM events
WHERE event_type = 'click'
"""


@register(
    "coordinate_parse_swap",
    _COORD_SQL,
    "postgres-point '(lon,lat)' parse with component swap (F15/F16)",
)
def q_coordinate_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference backfill parses a Postgres point serialized as
    '(lon,lat)' and swaps components (backfill_telematics.py:117-128).
    Synthesize the wire string from the fixture deterministically, run
    the engine's parse+swap, and let the oracle compute the parsed
    doubles directly — a broken swap (lat/lon transposed) hash-fails."""
    from datalakehouse_spark.functions.geo import parse_coordinates

    ev = load_table(spark, sf_dir, "events").where(F.col("event_type") == "click")
    wire = F.format_string(
        "(%.4f,%.4f)", F.col("value") - 120, F.col("value") / 5 - 20
    )
    tagged = ev.select("event_id", wire.alias("_pt"))
    lat, lon = parse_coordinates("_pt")
    return tagged.select(
        "event_id", lat.alias("latitude"), lon.alias("longitude")
    )


_NULL_SAFE_JOIN_SQL = """
WITH k AS (
    SELECT CASE WHEN value < 25 THEN NULL ELSE user_id END AS join_key,
           event_type, value
    FROM events
),
agg AS (
    SELECT join_key, COUNT(*) AS n_left,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_left
    FROM k GROUP BY join_key
),
dim AS (SELECT join_key, COUNT(*) AS n_right FROM k WHERE event_type = 'click' GROUP BY join_key)
SELECT a.join_key, a.n_left, a.sum_left, d.n_right
FROM agg a JOIN dim d ON a.join_key IS NOT DISTINCT FROM d.join_key
"""


@register(
    "null_safe_join",
    _NULL_SAFE_JOIN_SQL,
    "null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL keys match NULL",
)
def q_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plain equi-joins DROP null-key rows; the null-safe operator keeps
    the NULL group as a joinable key — the semantics difference that
    silently loses data in fact-to-dim joins over nullable keys."""
    ev = load_table(spark, sf_dir, "events")
    k = ev.select(
        F.when(F.col("value") < 25, None).otherwise(F.col("user_id")).alias("join_key"),
        "event_type",
        "value",
    )
    agg = k.groupBy("join_key").agg(
        F.count(F.lit(1)).alias("n_left"), dsum("value").alias("sum_left")
    )
    dim = (
        k.where(F.col("event_type") == "click")
        .groupBy(F.col("join_key").alias("_rk"))
        .agg(F.count(F.lit(1)).alias("n_right"))
    )
    return agg.join(dim, F.col("join_key").eqNullSafe(F.col("_rk"))).select(
        "join_key", "n_left", "sum_left", "n_right"
    )


# streaming session windows (ST7): drained append output = sessions whose
# window end (last event + gap) is past the final watermark.  The oracle
# rebuilds the identical sessions with lag/cumsum islands and applies the
# same finalization cutoff.
_STREAM_SESSION_SQL = """
WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us FROM events),
brk AS (
    SELECT user_id, ts_us,
           CASE WHEN lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us) IS NULL
                  OR ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us)
                     > 1800000000 THEN 1 ELSE 0 END AS is_new
    FROM e
),
sid AS (
    SELECT user_id, ts_us,
           SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us
                             ROWS UNBOUNDED PRECEDING) AS session_id
    FROM brk
),
sess AS (
    SELECT user_id, MIN(ts_us) AS start_us, MAX(ts_us) AS last_us, COUNT(*) AS n_events
    FROM sid GROUP BY user_id, session_id
),
wm AS (SELECT ((MAX(ts_us) // 1000) - 7200000) * 1000 AS wm_us FROM e)
SELECT user_id, start_us // 1000000 AS session_start_s, n_events
FROM sess WHERE last_us + 1800000000 <= (SELECT wm_us FROM wm)
"""


@register(
    "streaming_session_windows",
    _STREAM_SESSION_SQL,
    "streaming session_window + watermark: drained finalized sessions == batch islands",
    eager=True,  # materializing surface: drains a streaming query on the stream thread
)
def q_streaming_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from datalakehouse_spark.streaming.jobs import (
        drain_confs,
        events_stream,
        session_window_stream,
    )

    name = "sess_" + uuid.uuid4().hex[:10]
    with drain_confs(spark):
        q = (
            session_window_stream(events_stream(spark, sf_dir), gap="30 minutes")
            .writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name).select(
        "user_id",
        F.unix_timestamp("session_start").cast("bigint").alias("session_start_s"),
        "n_events",
    )


_EVENT_SEQ_SQL = """
SELECT user_id,
       string_agg(event_type, '>' ORDER BY epoch_ns(ts), event_id) AS seq,
       COUNT(*) AS n_events
FROM events
WHERE user_id % 10 = 3
GROUP BY user_id
"""


@register(
    "event_sequences",
    _EVENT_SEQ_SQL,
    "ordered per-user event-type sequences (behavioral feature construction)",
)
def q_event_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ordered aggregation: collect (ts, event_id, type)
    structs, array_sort gives the total order (event_id breaks ts
    ties), then project the type sequence — the collect_list-ORDER BY
    pattern Spark lacks natively, kept shuffle-lean (one groupBy)."""
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") % 10 == 3)
    ordered = F.array_sort(
        F.collect_list(F.struct("ts_ns", "event_id", "event_type"))
    )
    return ev.groupBy("user_id").agg(
        F.array_join(
            F.transform(ordered, lambda s: s["event_type"]), ">"
        ).alias("seq"),
        F.count(F.lit(1)).alias("n_events"),
    )


# quantized search: int8 dot products are INTEGER math — exact in both
# engines — so the quantized ranking is fully oracle-able end-to-end
# (completes the quantize -> search-on-quantized story: 4x less IO and
# SIMD-int kernels at scale, with the ranking verified bit-exact)
_QKNN_SQL = """
WITH m AS (
    SELECT vec_id,
           list_reduce(list_prepend(CAST(0 AS DOUBLE),
               [abs(CAST(embedding[i] AS DOUBLE)) FOR i IN range(1, 65)]),
               (a, b) -> greatest(a, b)) AS max_abs,
           embedding
    FROM embeddings
), qq AS (
    SELECT vec_id,
           127.0 / greatest(max_abs, 1e-30) AS scale,
           [CAST(round(CAST(embedding[i] AS DOUBLE) * (127.0 / greatest(max_abs, 1e-30)), 0)
                 AS BIGINT) FOR i IN range(1, 65)] AS q
    FROM m
), qv AS (SELECT scale AS qscale, q AS qvec FROM qq WHERE vec_id = 0)
SELECT e.vec_id,
       CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
           [e.q[i] * v.qvec[i] FOR i IN range(1, 65)]), (a, b) -> a + b) AS BIGINT)
           AS q_dot,
       round(list_reduce(list_prepend(CAST(0 AS BIGINT),
           [e.q[i] * v.qvec[i] FOR i IN range(1, 65)]), (a, b) -> a + b)
           / (e.scale * v.qscale), 6) AS approx_ip
FROM qq e CROSS JOIN qv v
WHERE e.vec_id <> 0
ORDER BY q_dot DESC, e.vec_id ASC
LIMIT 10
"""


@register(
    "quantized_knn",
    _QKNN_SQL,
    "top-k search over int8-quantized vectors (integer dots: exact cross-engine)",
    eager=True,  # build/serve split
)
def q_quantized_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datalakehouse_spark.operators.similarity import quantize_int8_df

    emb = load_table(spark, sf_dir, "embeddings")
    staged = quantize_int8_df(emb).select(
        "vec_id", "scale", F.transform("q", lambda x: x.cast("bigint")).alias("q")
    )
    qrow = staged.where(F.col("vec_id") == 0).select("scale", "q").first()
    qvec = F.expr("array(" + ",".join(f"{int(x)}L" for x in qrow.q) + ")")
    zero = F.lit(0).cast("bigint")
    q_dot = F.aggregate(
        F.zip_with("q", qvec, lambda a, b: a * b), zero, lambda acc, v: acc + v
    )
    return (
        staged.where(F.col("vec_id") != 0)
        .select(
            "vec_id",
            q_dot.alias("q_dot"),
            F.round(q_dot / (F.col("scale") * F.lit(float(qrow.scale))), 6).alias(
                "approx_ip"
            ),
        )
        .orderBy(F.col("q_dot").desc(), F.col("vec_id").asc())
        .limit(10)
    )


# stream-stream inner join with watermarks + event-time range constraint
# (the state-bounded shape): drained result == the batch range join,
# because inner-join results are only ever withheld for LATE data and the
# drain delivers everything on time.
_STREAM_JOIN_SQL = """
SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id
FROM (SELECT user_id, event_id, epoch_us(ts) AS t FROM events WHERE event_type = 'click') c
JOIN (SELECT user_id, event_id, epoch_us(ts) AS t FROM events WHERE event_type = 'purchase') p
  ON c.user_id = p.user_id AND p.t >= c.t AND p.t <= c.t + 1800000000
"""


@register(
    "streaming_stream_join",
    _STREAM_JOIN_SQL,
    "stream-stream inner join (watermarks + time-range bound) == batch range join",
    eager=True,  # materializing surface: drains a streaming query on the stream thread
)
def q_streaming_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from datalakehouse_spark.streaming.jobs import drain_confs, events_stream

    src = events_stream(spark, sf_dir)
    clicks = (
        src.where(F.col("event_type") == "click")
        .select("user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", "2 hours")
    )
    purchases = (
        src.where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")),
    )
    name = "ssj_" + uuid.uuid4().hex[:10]
    with drain_confs(spark):
        q = (
            joined.select("user_id", "click_id", "purchase_id")
            .writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)


_FRAME_SQL = """
WITH a AS (
    SELECT doc_id AS asset_id, sha256(text) AS sha
    FROM (SELECT * FROM documents ORDER BY doc_id LIMIT 100)
),
d AS (
    SELECT asset_id, sha,
           1 + CAST(('0x' || substr(sha, 3, 2)) AS BIGINT) % 32 AS n_frames
    FROM a
)
SELECT asset_id,
       CAST(UNNEST(range(0, n_frames, 4)) AS INT) AS frame_idx,
       md5(sha || ':' || CAST(UNNEST(range(0, n_frames, 4)) AS VARCHAR)) AS frame_md5
FROM d
"""


@register(
    "media_frame_sample",
    _FRAME_SQL,
    "video frame sampling: 1 asset row -> N frame rows via mapInPandas (fake decoder)",
)
def q_media_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datalakehouse_spark.operators.multimodal import (
        sample_frames,
        synthesize_assets_from_documents,
    )

    docs = load_table(spark, sf_dir, "documents")
    assets = synthesize_assets_from_documents(docs, n=100)
    return sample_frames(assets, stride=4, fake=True)


_BATCH_KNN_DOT = (
    "list_reduce(list_prepend(CAST(0 AS DOUBLE), "
    "[CAST(e.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE) FOR i IN range(1, 65)]),"
    " (a, b) -> a + b)"
)
_BATCH_KNN_NE = (
    "sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), "
    "[CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE) FOR i IN range(1, 65)]),"
    " (a, b) -> a + b))"
)
_BATCH_KNN_NQ = (
    "sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), "
    "[CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE) FOR i IN range(1, 65)]),"
    " (a, b) -> a + b))"
)

_BATCH_KNN_SQL = f"""
WITH q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 5)
SELECT q.query_id, e.vec_id,
       round({_BATCH_KNN_DOT} / ({_BATCH_KNN_NE} * {_BATCH_KNN_NQ}), 9) AS cosine_sim
FROM embeddings e CROSS JOIN q
WHERE e.vec_id >= 5
QUALIFY row_number() OVER (PARTITION BY q.query_id
                           ORDER BY cosine_sim DESC, e.vec_id ASC) <= 5
"""


@register(
    "knn_batch_queries",
    _BATCH_KNN_SQL,
    "batched exact kNN: broadcast query set, per-query top-5 (the serving shape)",
)
def q_knn_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch similarity serving: a small query set is broadcast against
    the corpus scan (one pass over the corpus regardless of query
    count), scored with the deterministic sequential-fold cosine, and
    ranked per query with a window — no per-query rescans, no driver
    loops.  Norms are hoisted per side before the cross join."""
    from pyspark.sql import Window

    from datalakehouse_spark.operators.similarity import _dvec, dot, norm

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.where(F.col("vec_id") >= 5).select(
        "vec_id", _dvec("embedding").alias("_v")
    ).select("vec_id", "_v", norm(F.col("_v")).alias("_nv"))
    qs = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), _dvec("embedding").alias("_q")
    ).select("query_id", "_q", norm(F.col("_q")).alias("_nq"))
    scored = corpus.crossJoin(F.broadcast(qs)).select(
        "query_id",
        "vec_id",
        F.round(
            dot(F.col("_v"), F.col("_q")) / (F.col("_nv") * F.col("_nq")), 9
        ).alias("cosine_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= 5)
        .drop("_rn")
    )
