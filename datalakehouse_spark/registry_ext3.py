"""Registry part 4: table-lifecycle entries — schema evolution and
partition-scoped compaction exercised end-to-end through the driver's
oracle gate.

Both entries build a throwaway ManagedTable from the events fixture,
run the lifecycle operation, and return an AGGREGATE of the table's
contents, so the oracle (plain SQL over the same fixture) verifies that
the operation preserved/evolved the data exactly.  The file-level
assertions (untouched partitions byte-identical, file counts reduced,
NULL back-fill) live in tests/test_tables.py; the driver rows verify
the data side cross-engine.

Determinism contract: same as registry.py part 1 (dsum for double
sums, stable column aliases both sides).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datalakehouse_spark.functions.numeric import (
    davg,
    davg_duckdb,
    dsum,
    dsum_duckdb,
)
from datalakehouse_spark.io import load_table
from datalakehouse_spark.registry import register
from datalakehouse_spark.scratch import fresh_scratch
from datalakehouse_spark.tables import ManagedTable

# ---------------------------------------------------------------------------
# Schema evolution: write v1 schema, append evolved schema, merged read
# ---------------------------------------------------------------------------

_SCHEMA_EVO_SQL = f"""
WITH v1 AS (
    SELECT event_id, event_type, CAST(value AS DOUBLE) AS value,
           CAST(NULL AS DOUBLE) AS quality
    FROM events WHERE event_id % 2 = 0
),
v2 AS (
    SELECT event_id, event_type, CAST(value AS DOUBLE) AS value,
           CAST(value AS DOUBLE) / 2 AS quality
    FROM events WHERE event_id % 2 = 1
),
unioned AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
SELECT event_type,
       COUNT(*) AS n,
       COUNT(quality) AS n_quality,
       {dsum_duckdb("value")} AS sum_value,
       {dsum_duckdb("quality")} AS sum_quality
FROM unioned GROUP BY event_type
"""


@register(
    "schema_evolution_read",
    _SCHEMA_EVO_SQL,
    "add-column schema evolution: v1 files + evolved appends, mergeSchema read",
    eager=True,  # materializing surface
)
def q_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg-v2-style add-column evolution on the parquet backend
    (reference README.md:13 'Schema evolution'): create the table under
    the v1 schema, append rows carrying a NEW ``quality`` column, then
    read with schema merging — v1 files surface NULL for the added
    column, appended files carry values, and the aggregate must equal
    the oracle's explicit two-version union.  The split is
    deterministic (event_id parity), so reruns rebuild the same table.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", F.col("value").cast("double")
    )
    path = fresh_scratch("schema_evo") + "/t"
    t = ManagedTable(spark, path, partition_by=["event_type"])
    t.create(ev.where(F.col("event_id") % 2 == 0))
    t.append(
        ev.where(F.col("event_id") % 2 == 1).withColumn(
            "quality", F.col("value") / 2
        )
    )
    return (
        t.read(merge_schema=True)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count("quality").alias("n_quality"),
            dsum("value").alias("sum_value"),
            dsum("quality").alias("sum_quality"),
        )
    )


# ---------------------------------------------------------------------------
# Partition-scoped compaction: append small files, sweep, data unchanged
# ---------------------------------------------------------------------------

_COMPACT_SQL = f"""
SELECT event_type,
       COUNT(*) * (CASE WHEN event_type = 'click' THEN 2 ELSE 1 END) AS n,
       {dsum_duckdb("value")}
           * (CASE WHEN event_type = 'click' THEN 2 ELSE 1 END) AS sum_value
FROM events GROUP BY event_type
"""


@register(
    "compaction_partition_sweep",
    _COMPACT_SQL,
    "partition-scoped small-file compaction preserves data exactly",
    eager=True,  # materializing surface
)
def q_compaction_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's per-day compaction sweep (cleanup.sql:12-17)
    as a driver-checked roundtrip: build an event_type-partitioned
    table, append the 'click' slice AGAIN (that partition now has 2
    files and duplicate rows by construction), run the threshold sweep
    — only the breaching partition is rewritten (file-level assertions
    in tests/test_tables.py) — and aggregate the table, which must
    show every partition's rows intact, clicks doubled."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", F.col("value").cast("double")
    )
    path = fresh_scratch("compact_sweep") + "/t"
    t = ManagedTable(spark, path, partition_by=["event_type"])
    t.create(ev)
    t.append(ev.where(F.col("event_type") == "click"))
    report = t.compact(min_files=2)
    assert [p["event_type"] for p in report["compacted"]] == ["click"]
    return (
        t.read()
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum("value").alias("sum_value"))
    )


# ---------------------------------------------------------------------------
# Round-4 LLM-pipeline text ops: chunking, repetition filters, TF-IDF
# ---------------------------------------------------------------------------

from datalakehouse_spark.operators import textstats as TS  # noqa: E402

#: DuckDB twin of textstats.tokens(): whitespace-normalize then split.
_TOKS = "string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')"

_CHUNK_W, _CHUNK_S = 32, 24

_DOC_CHUNKS_SQL = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
n AS (
    SELECT doc_id, toks,
           1 + (greatest(len(toks) - {_CHUNK_W}, 0) + {_CHUNK_S - 1}) // {_CHUNK_S}
               AS n_chunks
    FROM t
),
c AS (SELECT doc_id, toks, unnest(range(n_chunks)) AS chunk_idx FROM n)
SELECT doc_id,
       CAST(chunk_idx AS BIGINT) AS chunk_idx,
       CAST(len(list_slice(toks, chunk_idx * {_CHUNK_S} + 1,
                           chunk_idx * {_CHUNK_S} + {_CHUNK_W})) AS INT)
           AS n_chunk_tokens,
       CAST(length(array_to_string(
                list_slice(toks, chunk_idx * {_CHUNK_S} + 1,
                           chunk_idx * {_CHUNK_S} + {_CHUNK_W}), ' ')) AS INT)
           AS chunk_chars
FROM c
"""


@register(
    "doc_chunks",
    _DOC_CHUNKS_SQL,
    "context-window chunking: overlapping token windows per doc",
)
def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return TS.chunk_token_windows(docs, window=_CHUNK_W, stride=_CHUNK_S)


_REPETITION_SQL = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
b AS (
    SELECT doc_id,
           len(toks) AS n_tokens,
           1.0 - len(list_distinct(toks)) / len(toks) AS dup_token_frac,
           list_transform(range(2, len(toks) + 1),
                          i -> toks[i-1] || ' ' || toks[i]) AS bigrams
    FROM t
),
e AS (SELECT doc_id, n_tokens, dup_token_frac, unnest(bigrams) AS bg FROM b),
pb AS (
    SELECT doc_id, n_tokens, dup_token_frac, bg, COUNT(*) AS c
    FROM e GROUP BY doc_id, n_tokens, dup_token_frac, bg
),
pd AS (
    SELECT doc_id, n_tokens, dup_token_frac,
           MAX(c) AS top_bigram_n, CAST(SUM(c) AS BIGINT) AS n_bigrams
    FROM pb GROUP BY doc_id, n_tokens, dup_token_frac
)
SELECT doc_id, n_tokens, dup_token_frac, top_bigram_n, n_bigrams,
       top_bigram_n / n_bigrams AS top_bigram_frac,
       dup_token_frac <= 0.30 AND top_bigram_n / n_bigrams <= 0.18 AS keep
FROM pd
"""


@register(
    "repetition_quality",
    _REPETITION_SQL,
    "Gopher-style repetition filter: dup-token + top-bigram fractions",
)
def q_repetition_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return TS.repetition_features(docs)


_TFIDF_SQL = f"""
WITH ex AS (SELECT doc_id, unnest({_TOKS}) AS term FROM documents),
tf AS (
    SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
    FROM ex GROUP BY doc_id, term
),
dfq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df_docs FROM tf GROUP BY term),
sc AS (
    SELECT tf.doc_id, tf.term, tf.tf, dfq.df_docs,
           tf.tf * (((SELECT COUNT(*) FROM documents) + 1.0) / (dfq.df_docs + 1))
               AS tfidf
    FROM tf JOIN dfq USING (term)
),
rk AS (
    SELECT *, CAST(row_number() OVER (
        PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS INT) AS rnk
    FROM sc
)
SELECT doc_id, term, tf, df_docs, tfidf, rnk FROM rk WHERE rnk <= 3
"""


@register(
    "tfidf_top_terms",
    _TFIDF_SQL,
    "top-3 characteristic terms per doc by (rational-idf) TF-IDF",
    eager=True,  # iterative / diagnostic
)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return TS.tfidf_top_terms(docs, n_docs=docs.count(), k=3)


# ---------------------------------------------------------------------------
# Round-4 part 2: sequence packing + near-dup dedup clustering
# ---------------------------------------------------------------------------

from datalakehouse_spark.operators import dedup as D  # noqa: E402
from datalakehouse_spark.registry_ext import _near_dup_sql  # noqa: E402

_SEQ_LEN = 512

_SEQ_PACK_SQL = f"""
WITH t AS (
    SELECT source, doc_id, CAST(len({_TOKS}) AS INT) AS n_tokens FROM documents
),
c AS (
    SELECT source, doc_id, n_tokens,
           CAST(SUM(n_tokens) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
    FROM t
)
SELECT source, doc_id, n_tokens,
       CAST(cum - n_tokens AS BIGINT) AS tok_offset,
       (cum - n_tokens) // {_SEQ_LEN} AS first_seq,
       (cum - 1) // {_SEQ_LEN} AS last_seq,
       (cum - 1) // {_SEQ_LEN} - (cum - n_tokens) // {_SEQ_LEN} + 1 AS n_seqs
FROM c
"""


@register(
    "sequence_packing",
    _SEQ_PACK_SQL,
    "pre-training sequence packing: per-stream token tape -> 512-token spans",
)
def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return TS.sequence_pack_assignments(docs, seq_len=_SEQ_LEN)


def _dedup_clusters_sql() -> str:
    """Transitive closure of the near-dup pair graph, as a recursive CTE.

    The closure is O(sum of component size^2) rows — exact and fine at
    oracle scale; the Spark side uses label propagation instead (linear
    state), which converges to the same unique min-label fixpoint.
    """
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
)
SELECT id AS doc_id,
       CAST(MIN(r) AS BIGINT) AS cluster,
       MIN(r) = id AS is_canonical
FROM reach GROUP BY id
"""


@register(
    "dedup_clusters",
    _dedup_clusters_sql(),
    "near-dup dedup groups: LSH pairs -> connected components (min-label)",
    eager=True,  # iterative / diagnostic
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.dedup_clusters(docs)


# ---------------------------------------------------------------------------
# Round-4 part 3: ANN recall accounting (single-probe vs multi-probe)
# ---------------------------------------------------------------------------

def _ann_recall_sql() -> str:
    from datalakehouse_spark.registry_ext2 import _ann_lsh_sql

    # exact baseline: identical cosine expression/tiebreak as the ANN
    # entries, over the corpus minus the query vector
    exact = """
SELECT e.vec_id,
       round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
           [CAST(e.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE)
            FOR i IN range(1, 65)]), (x, y) -> x + y)
         / (sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
           [CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)
            FOR i IN range(1, 65)]), (x, y) -> x + y))
          * sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
           [CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE)
            FOR i IN range(1, 65)]), (x, y) -> x + y))), 9) AS cosine_sim
FROM embeddings e
CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q
WHERE e.vec_id <> 0
ORDER BY cosine_sim DESC, e.vec_id ASC
LIMIT 5
"""
    return f"""
WITH exact AS ({exact}),
single AS ({_ann_lsh_sql()}),
multi AS ({_ann_lsh_sql(multiprobe=True)})
SELECT 5 AS k,
       CAST((SELECT COUNT(*) FROM single s JOIN exact x USING (vec_id)) AS BIGINT)
           AS single_probe_hits,
       CAST((SELECT COUNT(*) FROM multi m JOIN exact x USING (vec_id)) AS BIGINT)
           AS multi_probe_hits
"""


@register(
    "ann_recall_accounting",
    _ann_recall_sql(),
    "recall@5 of single- vs multi-probe LSH against the exact top-5",
    eager=True,  # iterative / diagnostic
)
def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantifies the multi-probe recall win cross-engine: how many of
    the exact top-5 neighbors each probe strategy retrieves.  The probe
    sets and rankings are the same deterministic constructions as the
    `ann_lsh_search` / `ann_multiprobe_search` entries, so this is the
    recall ledger for the ANN surface, verified by the oracle."""
    from pyspark.sql import functions as F

    from datalakehouse_spark.operators.similarity import (
        _darray_lit,
        _dvec,
        cosine,
        hamming_ball_probes,
        hyperplane_lsh_bucket,
        knn_brute_force,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    b = emb.withColumn("bucket", hyperplane_lsh_bucket("embedding"))
    qrow = b.where(F.col("vec_id") == 0).select("bucket", "embedding").first()
    corpus = b.where(F.col("vec_id") != 0)
    qvec = _darray_lit(qrow.embedding)

    def _top5(df: DataFrame) -> DataFrame:
        return (
            df.select(
                "vec_id",
                F.round(cosine(_dvec("embedding"), qvec), 9).alias("cosine_sim"),
            )
            .orderBy(F.col("cosine_sim").desc(), F.col("vec_id").asc())
            .limit(5)
            .select("vec_id")
        )

    exact = _top5(corpus)
    single = _top5(corpus.where(F.col("bucket") == qrow.bucket))
    probes = hamming_ball_probes(qrow.bucket, n_planes=8, radius=1)
    multi = _top5(corpus.where(F.col("bucket").isin(probes)))
    sh = single.join(exact, "vec_id").agg(
        F.count(F.lit(1)).alias("single_probe_hits")
    )
    mh = multi.join(exact, "vec_id").agg(F.count(F.lit(1)).alias("multi_probe_hits"))
    return sh.crossJoin(mh).select(
        F.lit(5).alias("k"), "single_probe_hits", "multi_probe_hits"
    )


# ---------------------------------------------------------------------------
# Round-4 part 4: wider TPC-H coverage (q7/q8/q13/q17/q19/q22 shapes).
# The fixtures trim some classic columns (no partsupp, l_commitdate,
# c_phone, p_container) so predicates are adapted to the available
# schema; each query keeps its canonical plan SHAPE, which is the point.
# ---------------------------------------------------------------------------

_Q7_SQL = f"""
SELECT supp_nation, cust_nation, l_year,
       {dsum_duckdb("volume", 6)} AS revenue
FROM (
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           year(l_shipdate) AS l_year,
           l_extendedprice * (1 - l_discount) AS volume
    FROM supplier
    JOIN lineitem ON s_suppkey = l_suppkey
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      AND l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
)
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""


@register("q7_volume_shipping", _Q7_SQL, "two-nation volume shipping (6-way join)")
def q_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = {n: load_table(spark, sf_dir, n)
         for n in ("supplier", "lineitem", "orders", "customer", "nation")}
    n1 = t["nation"].select(F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation"))
    n2 = t["nation"].select(F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation"))
    li = t["lineitem"].where(
        (F.col("l_shipdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
    )
    joined = (
        li.join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .where(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
    )
    return (
        joined.select(
            "supp_nation", "cust_nation",
            F.year("l_shipdate").alias("l_year"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"),
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(dsum("volume", 6).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


_Q8_SQL = f"""
SELECT o_year,
       {dsum_duckdb("CASE WHEN nation = 'NATION_5' THEN volume ELSE 0 END", 6)}
         / {dsum_duckdb("volume", 6)} AS mkt_share
FROM (
    SELECT year(o_orderdate) AS o_year,
           l_extendedprice * (1 - l_discount) AS volume,
           n2.n_name AS nation
    FROM part
    JOIN lineitem ON p_partkey = l_partkey
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation n1 ON c_nationkey = n1.n_nationkey
    JOIN region   ON n1.n_regionkey = r_regionkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation n2 ON s_nationkey = n2.n_nationkey
    WHERE r_name = 'EUROPE' AND p_type = 'STANDARD'
)
GROUP BY o_year
ORDER BY o_year
"""


@register("q8_market_share", _Q8_SQL, "national market share within a region (8-way)")
def q_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = {n: load_table(spark, sf_dir, n)
         for n in ("part", "lineitem", "orders", "customer", "nation", "region", "supplier")}
    n1 = t["nation"].select(F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region"))
    n2 = t["nation"].select(F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("nation"))
    joined = (
        t["lineitem"]
        .join(F.broadcast(t["part"].where(F.col("p_type") == "STANDARD")),
              F.col("l_partkey") == F.col("p_partkey"))
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .join(F.broadcast(t["region"].where(F.col("r_name") == "EUROPE")),
              F.col("n1_region") == F.col("r_regionkey"))
        .join(F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
    )
    vol = joined.select(
        F.year("o_orderdate").alias("o_year"),
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"),
        "nation",
    )
    return (
        vol.groupBy("o_year")
        .agg(
            (
                dsum(F.when(F.col("nation") == "NATION_5", F.col("volume")).otherwise(0.0), 6)
                / dsum("volume", 6)
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


_Q13_SQL = """
SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
FROM (
    SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
    FROM customer LEFT JOIN orders
      ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
    GROUP BY c_custkey
)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


@register("q13_customer_distribution", _Q13_SQL, "order-count distribution (outer join + double agg)")
def q_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


_Q17_SQL = f"""
WITH pa AS (
    SELECT l_partkey, {davg_duckdb("l_quantity")} AS avg_qty
    FROM lineitem GROUP BY l_partkey
)
SELECT {dsum_duckdb("l_extendedprice", 6)} / 7.0 AS avg_yearly
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN pa   ON pa.l_partkey = part.p_partkey
WHERE p_brand = 'Brand#23' AND l_quantity < 0.2 * avg_qty
"""


@register("q17_small_quantity_revenue", _Q17_SQL, "correlated per-part avg filter (decorrelated)")
def q_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#23")
    # decorrelation: per-part avg once over the fact table, broadcast
    # back — the plan Catalyst produces for the correlated subquery too
    pa = li.groupBy(F.col("l_partkey").alias("pa_key")).agg(
        davg("l_quantity").alias("avg_qty")
    )
    joined = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(pa, F.col("l_partkey") == F.col("pa_key"))
        .where(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
    )
    return joined.agg((dsum("l_extendedprice", 6) / 7.0).alias("avg_yearly"))


_Q19_SQL = f"""
SELECT {dsum_duckdb("l_extendedprice * (1 - l_discount)", 6)} AS revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#12' AND l_quantity BETWEEN 1 AND 11 AND p_size BETWEEN 1 AND 5)
   OR (p_brand = 'Brand#23' AND l_quantity BETWEEN 10 AND 20 AND p_size BETWEEN 1 AND 10)
   OR (p_brand = 'Brand#34' AND l_quantity BETWEEN 20 AND 30 AND p_size BETWEEN 1 AND 15)
"""


@register("q19_disjunctive_revenue", _Q19_SQL, "disjunctive brand/qty/size predicate join")
def q_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
    cond = (
        ((F.col("p_brand") == "Brand#12") & F.col("l_quantity").between(1, 11) & F.col("p_size").between(1, 5))
        | ((F.col("p_brand") == "Brand#23") & F.col("l_quantity").between(10, 20) & F.col("p_size").between(1, 10))
        | ((F.col("p_brand") == "Brand#34") & F.col("l_quantity").between(20, 30) & F.col("p_size").between(1, 15))
    )
    return j.where(cond).agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 6).alias("revenue")
    )


_Q22_SQL = f"""
SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS numcust,
       {dsum_duckdb("c_acctbal")} AS totacctbal
FROM customer
WHERE c_acctbal > (SELECT {davg_duckdb("c_acctbal")} FROM customer WHERE c_acctbal > 0.0)
  AND NOT EXISTS (
      SELECT 1 FROM orders
      WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
GROUP BY c_nationkey
ORDER BY c_nationkey
"""


@register("q22_idle_balance", _Q22_SQL, "scalar-avg subquery + anti join (q22 shape)")
def q_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    urgent = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") == "1-URGENT"
    )
    avg_bal = cust.where(F.col("c_acctbal") > 0.0).agg(
        davg("c_acctbal").alias("avg_bal")
    )
    rich = cust.crossJoin(F.broadcast(avg_bal)).where(
        F.col("c_acctbal") > F.col("avg_bal")
    )
    idle = rich.join(
        urgent, rich.c_custkey == urgent.o_custkey, "left_anti"
    )
    return (
        idle.groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            dsum("c_acctbal").alias("totacctbal"),
        )
        .orderBy("c_nationkey")
    )


# ---------------------------------------------------------------------------
# Round-4 part 5: stream-static broadcast enrichment (dimension join in
# a streaming pipeline — stateless, append-mode; the production shape
# for enriching an event stream with a slowly-changing dimension)
# ---------------------------------------------------------------------------

_STREAM_ENRICH_SQL = """
SELECT event_id, user_id, c_mktsegment, value
FROM events JOIN customer ON user_id = c_custkey
WHERE event_type = 'purchase'
"""


@register(
    "streaming_static_enrich",
    _STREAM_ENRICH_SQL,
    "stream-static broadcast dimension join == batch join",
    eager=True,  # materializing surface: drains a streaming query on the stream thread
)
def q_streaming_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static inner join: the static side is planned as a
    broadcast per micro-batch (re-read each trigger, so dimension
    updates are picked up), the stream side never buffers state — no
    watermark needed, append-safe.  At 100 TB of stream this is the
    enrichment shape: dimension broadcast, fact untouched, zero
    shuffle on the stream."""
    import uuid

    from datalakehouse_spark.streaming.jobs import drain_confs, events_stream

    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    enriched = (
        events_stream(spark, sf_dir)
        .where(F.col("event_type") == "purchase")
        .join(F.broadcast(cust), F.col("user_id") == F.col("c_custkey"))
        .select("event_id", "user_id", "c_mktsegment", "value")
    )
    name = "sse_" + uuid.uuid4().hex[:10]
    with drain_confs(spark):
        q = (
            enriched.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)


# ---------------------------------------------------------------------------
# Round-4 part 6: source-format breadth — CSV and ORC roundtrips.
# Same contract as jsonl_ingest_roundtrip: serialize a deterministic
# events subset through the format, read back with an explicit schema
# (schema-on-read, no inference job), aggregate — must equal the
# parquet-path computation the oracle runs.
# ---------------------------------------------------------------------------

_FMT_ROUNDTRIP_SQL = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       {sum_expr} AS sum_value,
       CAST(SUM(ts_ns // 1000000000) AS BIGINT) AS sum_epoch_s
FROM (SELECT event_type, value, epoch_ns(ts) AS ts_ns FROM events
      WHERE event_id % 5 = {rem})
GROUP BY event_type
"""


def _fmt_subset(spark: SparkSession, sf_dir: str, rem: int) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(F.col("event_id") % 5 == rem)
    return ev.select("event_id", "event_type", "value", "ts_ns")


def _fmt_agg(df: DataFrame) -> DataFrame:
    return df.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("value").alias("sum_value"),
        F.sum(F.expr("ts_ns div 1000000000")).cast("bigint").alias("sum_epoch_s"),
    )


@register(
    "csv_ingest_roundtrip",
    _FMT_ROUNDTRIP_SQL.format(sum_expr=dsum_duckdb("value"), rem=1),
    "CSV source: serialize -> declared-schema ingest == parquet-path result",
    eager=True,  # materializing surface
)
def q_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV leg of the format matrix.  ``value`` doubles travel as
    shortest-round-trip strings (Spark's CSV writer), which parse back
    bit-identically; timestamps travel as int64 ns — no tz/format
    ambiguity in either direction."""

    from pyspark.sql import types as T

    path = fresh_scratch("csv_src") + "/events"
    _fmt_subset(spark, sf_dir, 1).write.mode("overwrite").option(
        "header", "true"
    ).csv(path)
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("ts_ns", T.LongType()),
        ]
    )
    back = spark.read.schema(schema).option("header", "true").csv(path)
    return _fmt_agg(back)


@register(
    "orc_ingest_roundtrip",
    _FMT_ROUNDTRIP_SQL.format(sum_expr=dsum_duckdb("value"), rem=2),
    "ORC source/sink roundtrip == parquet-path result",
    eager=True,  # materializing surface
)
def q_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC leg: columnar alternative with native Spark support (typed,
    no serialization ambiguity at all).  DuckDB has no ORC reader, so
    the oracle verifies the AGGREGATE from the parquet view — what the
    roundtrip must preserve."""

    path = fresh_scratch("orc_src") + "/events"
    _fmt_subset(spark, sf_dir, 2).write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    return _fmt_agg(back)


# ---------------------------------------------------------------------------
# Round-4 part 7: Z-order (Morton) key — cross-engine exact bit math
# ---------------------------------------------------------------------------

from datalakehouse_spark.functions.zorder import morton32, morton32_duckdb  # noqa: E402

_ZORDER_SQL = f"""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       MIN(zkey) AS min_zkey,
       MAX(zkey) AS max_zkey,
       CAST(SUM(zkey) AS BIGINT) AS sum_zkey
FROM (
    SELECT event_type,
           {morton32_duckdb("user_id % 1024", "event_id % 1024", 10)} AS zkey
    FROM events
)
GROUP BY event_type
"""


@register(
    "zorder_key_accounting",
    _ZORDER_SQL,
    "Morton Z-order key bit math, aggregated per event_type",
)
def q_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Z-ORDER clustering key as a verifiable computation: the
    min/max/sum ledger over all rows proves both engines interleave
    bits identically.  `ManagedTable(zorder_by=...)` uses the same
    expression as its write-time sort key (see tests/test_tables.py
    for the file-extent pruning effect)."""
    ev = load_table(spark, sf_dir, "events")
    keyed = ev.select(
        "event_type",
        morton32(F.col("user_id") % 1024, F.col("event_id") % 1024, bits=10).alias("zkey"),
    )
    return keyed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("zkey").alias("min_zkey"),
        F.max("zkey").alias("max_zkey"),
        F.sum("zkey").cast("bigint").alias("sum_zkey"),
    )


# ---------------------------------------------------------------------------
# Round-4 part 8: PageRank over the near-dup graph (fixed iterations)
# ---------------------------------------------------------------------------

_PR_ITERS, _PR_DAMPING = 3, 0.85


def _pagerank_sql() -> str:
    """Iterated-CTE twin of operators.graph.pagerank: same float
    literals (repr of the SAME python doubles the operator embeds),
    same decimal contribution sum, same fixed iteration count."""
    base = repr(float(1.0 - _PR_DAMPING))
    damping = repr(float(_PR_DAMPING))
    ctes = [
        f"nd AS ({_near_dup_sql()})",
        "edges AS (SELECT id_a AS s, id_b AS d FROM nd"
        " UNION ALL SELECT id_b, id_a FROM nd)",
        "degree AS (SELECT s, COUNT(*) AS deg FROM edges GROUP BY s)",
        "base_nodes AS (SELECT doc_id AS nid FROM documents)",
        "r0 AS (SELECT nid, CAST(1.0 AS DOUBLE) AS rank FROM base_nodes)",
    ]
    for k in range(1, _PR_ITERS + 1):
        ctes.append(
            f"""r{k} AS (
    SELECT b.nid, {base} + {damping} * COALESCE(s.csum, 0.0) AS rank
    FROM base_nodes b
    LEFT JOIN (
        SELECT e.d AS nid,
               CAST(SUM(CAST(p.rank / dg.deg AS DECIMAL(35,15))) AS DOUBLE) AS csum
        FROM edges e
        JOIN r{k - 1} p ON e.s = p.nid
        JOIN degree dg ON dg.s = e.s
        GROUP BY e.d
    ) s ON s.nid = b.nid
)"""
        )
    return (
        "WITH " + ",\n".join(ctes) + f"\nSELECT nid AS doc_id, rank FROM r{_PR_ITERS}"
    )


@register(
    "graph_pagerank",
    _pagerank_sql(),
    "fixed-iteration PageRank over the near-dup graph (decimal-exact sums)",
    eager=True,  # iterative / diagnostic
    min_of_3=True,
)
def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datalakehouse_spark.operators.graph import pagerank

    docs = load_table(spark, sf_dir, "documents")
    prs = D.near_dup_pairs(docs)
    ranks = pagerank(
        docs.select("doc_id"),
        prs,
        id_col="doc_id",
        src_col="id_a",
        dst_col="id_b",
        iters=_PR_ITERS,
        damping=_PR_DAMPING,
    )
    return ranks.select("doc_id", "rank")


# ---------------------------------------------------------------------------
# Round-4 part 9: product-analytics shapes — funnel + cohort retention
# ---------------------------------------------------------------------------

_FUNNEL_SQL = """
WITH per_user AS (
    SELECT user_id,
           MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
           MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
           MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
    FROM events GROUP BY user_id
)
SELECT CAST(COUNT(t_view) AS BIGINT) AS n_view,
       CAST(SUM(CASE WHEN t_click >= t_view THEN 1 ELSE 0 END) AS BIGINT) AS n_view_click,
       CAST(SUM(CASE WHEN t_click >= t_view AND t_purchase >= t_click
                THEN 1 ELSE 0 END) AS BIGINT) AS n_view_click_purchase
FROM per_user
"""


@register(
    "funnel_conversion",
    _FUNNEL_SQL,
    "ordered view->click->purchase funnel via per-user first-touch times",
)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel step counts from each user's FIRST occurrence of each
    step (one hash aggregate — no sessionization state, no self-join;
    NULL comparisons drop non-completers in both engines identically).

    Scale: a single groupBy(user_id) with conditional-min partials,
    then one global roll-up row — the cheapest correct funnel."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("t_purchase"),
    )
    step2 = F.col("t_click") >= F.col("t_view")
    step3 = step2 & (F.col("t_purchase") >= F.col("t_click"))
    return per_user.agg(
        F.count("t_view").alias("n_view"),
        F.sum(F.when(step2, 1).otherwise(0)).alias("n_view_click"),
        F.sum(F.when(step3, 1).otherwise(0)).alias("n_view_click_purchase"),
    )


_COHORT_SQL = """
WITH firsts AS (
    SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day FROM events GROUP BY user_id
),
activity AS (
    SELECT e.user_id,
           date_trunc('week', f.first_day) AS cohort_week,
           CAST(floor(date_diff('day', f.first_day, CAST(e.ts AS DATE)) / 7.0)
                AS BIGINT) AS week_offset
    FROM events e JOIN firsts f ON e.user_id = f.user_id
)
SELECT CAST(cohort_week AS DATE) AS cohort_week, week_offset,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS active_users
FROM activity
GROUP BY cohort_week, week_offset
ORDER BY cohort_week, week_offset
"""


@register(
    "cohort_retention",
    _COHORT_SQL,
    "weekly cohort retention: first-seen week x week-offset active users",
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort analysis: each user's first-seen day defines the cohort
    week; activity is bucketed by whole weeks since that first day.
    Two aggregates + one equi join on user_id (the firsts side is
    per-user — broadcastable at dimension scale, shuffle join at 100 TB
    where it is fact-sized)."""
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("first_day"))
    activity = ev.join(firsts, "user_id").select(
        "user_id",
        F.date_trunc("week", F.col("first_day")).cast("date").alias("cohort_week"),
        F.floor(F.datediff(F.to_date("ts"), F.col("first_day")) / 7.0)
        .cast("bigint")
        .alias("week_offset"),
    )
    return (
        activity.groupBy("cohort_week", "week_offset")
        .agg(F.count_distinct("user_id").alias("active_users"))
        .orderBy("cohort_week", "week_offset")
    )


# ---------------------------------------------------------------------------
# Round-4 part 10: data profiling (pipeline observability)
# ---------------------------------------------------------------------------

_PROFILE_SQL = """
SELECT 'event_id' AS column_name,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(event_id) AS BIGINT) AS n_non_null,
       CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_distinct,
       CAST(MIN(event_id) AS DOUBLE) AS min_val,
       CAST(MAX(event_id) AS DOUBLE) AS max_val
FROM events
UNION ALL
SELECT 'user_id', CAST(COUNT(*) AS BIGINT), CAST(COUNT(user_id) AS BIGINT),
       CAST(COUNT(DISTINCT user_id) AS BIGINT),
       CAST(MIN(user_id) AS DOUBLE), CAST(MAX(user_id) AS DOUBLE)
FROM events
UNION ALL
SELECT 'value', CAST(COUNT(*) AS BIGINT), CAST(COUNT(value) AS BIGINT),
       CAST(COUNT(DISTINCT value) AS BIGINT),
       MIN(value), MAX(value)
FROM events
"""


@register(
    "profile_table",
    _PROFILE_SQL,
    "per-column profile: rows / non-null / distinct / min / max",
)
def q_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling for pipeline observability (the exact twin of
    what ANALYZE collects, surfaced as a query).  One pass per column
    batch; at 100 TB swap COUNT(DISTINCT) for approx_count_distinct and
    drop the union into a single multi-aggregate pass — here the exact
    forms keep the oracle bit-for-bit."""
    ev = load_table(spark, sf_dir, "events")

    # Round 17 negative result (kept for the record): folding the three
    # per-column profiles into ONE multi-COUNT(DISTINCT) aggregate +
    # unpivot cuts 3 scans to 1 but plans an Expand (3× rows into the
    # distinct shuffle) — paired A/B measured 0.41 → 1.72 s min-of-5
    # (ambient control improved in the same window).  The three
    # codegen'd scans are the faster shape at this fact size; revisit
    # only past the point where scan cost dominates the Expand.
    def prof(col: str):
        return ev.agg(
            F.lit(col).alias("column_name"),
            F.count(F.lit(1)).alias("n_rows"),
            F.count(col).alias("n_non_null"),
            F.count_distinct(F.col(col)).alias("n_distinct"),
            F.min(col).cast("double").alias("min_val"),
            F.max(col).cast("double").alias("max_val"),
        )

    return prof("event_id").unionByName(prof("user_id")).unionByName(prof("value"))


# ---------------------------------------------------------------------------
# Round-4 part 11: IVF build/serve split — persisted cluster-partitioned
# index, query = partition pruning (identical results to ivf_search)
# ---------------------------------------------------------------------------

from datalakehouse_spark.registry_ext import (  # noqa: E402
    _ivf_kmeans_sql,
    _query_vec,
    ivf_index_for,
)


@register(
    "ivf_search_indexed",
    _ivf_kmeans_sql(n_probe=3),
    "IVF over a persisted cluster-partitioned index: probe 3 = partition pruning",
    eager=True,  # build/serve split
)
def q_ivf_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serve-many IVF over the session-built cluster-partitioned index
    (built once in `ivf_build_stats` / `ivf_index_for`): answer the
    query by scanning only the n_probe nearest clusters' partitions —
    the cluster IN-list is a partition filter, so the other clusters'
    files are never opened (plan-asserted in tests/test_plans.py).
    Probes 3 clusters (vs ivf_search's 2) so the two serve entries
    exercise different pruning fractions against distinct oracles."""
    from datalakehouse_spark.operators.similarity import ivf_search_indexed

    path, cent_rows = ivf_index_for(spark, sf_dir)
    return ivf_search_indexed(
        spark, path, cent_rows, _query_vec(spark, sf_dir), k=10, n_probe=3
    )


# ---------------------------------------------------------------------------
# Round-4 part 12: quality-weighted deterministic sampling
# ---------------------------------------------------------------------------

_TWO_POW_60 = float(1 << 60)

_WEIGHTED_SAMPLE_SQL = f"""
WITH w AS (
    SELECT doc_id, source,
           least(n_chars / 400.0, 1.0) AS wgt,
           CAST(('0x' || substr(md5('ws:' || CAST(doc_id AS VARCHAR)), 1, 15))
                AS BIGINT) / {_TWO_POW_60!r} AS u
    FROM documents
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN u < wgt THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM w GROUP BY source ORDER BY source
"""


@register(
    "weighted_sample_counts",
    _WEIGHTED_SAMPLE_SQL,
    "deterministic quality-weighted Bernoulli sampling per source",
)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix downsampling: keep a doc with probability equal to
    its weight (here a length-based quality proxy, capped at 1), using
    a salted md5 hash as the uniform variate — deterministic across
    engines, reruns, and partitionings, unlike rand()-based sampleBy.
    At 100 TB this is a narrow scan-fused filter; changing the salt
    redraws the sample without touching the data."""
    from datalakehouse_spark.operators.dedup import md5_hash60

    docs = load_table(spark, sf_dir, "documents")
    w = docs.select(
        "source",
        F.least(F.col("n_chars") / 400.0, F.lit(1.0)).alias("wgt"),
        (
            md5_hash60(F.concat(F.lit("ws:"), F.col("doc_id").cast("string")))
            / F.lit(_TWO_POW_60)
        ).alias("u"),
    )
    return (
        w.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("u") < F.col("wgt"), 1).otherwise(0)).alias("n_kept"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Round-5: schema evolution on a VersionedTable BRANCH (M8 + round-4
# schema_evolution_read combined): evolve on an experiment branch,
# fast-forward merge, read the pre-merge and post-merge snapshots.
# ---------------------------------------------------------------------------

_BRANCH_EVO_SQL = f"""
WITH base AS (
    SELECT event_id, event_type, CAST(value AS DOUBLE) AS value FROM events
),
v1 AS (SELECT * FROM base WHERE event_id % 2 = 0),
v2 AS (
    SELECT event_id, event_type, value, value / 2 AS quality
    FROM base WHERE event_id % 2 = 1
),
merged AS (
    SELECT event_id, event_type, value, CAST(NULL AS DOUBLE) AS quality FROM v1
    UNION ALL SELECT * FROM v2
),
pre AS (
    SELECT 'main_pre_merge' AS snapshot, event_type,
           COUNT(*) AS n, CAST(0 AS BIGINT) AS n_quality,
           {dsum_duckdb("value")} AS sum_value,
           CAST(NULL AS DOUBLE) AS sum_quality
    FROM v1 GROUP BY event_type
),
post AS (
    SELECT 'main_post_merge' AS snapshot, event_type,
           COUNT(*) AS n, COUNT(quality) AS n_quality,
           {dsum_duckdb("value")} AS sum_value,
           {dsum_duckdb("quality")} AS sum_quality
    FROM merged GROUP BY event_type
)
SELECT * FROM pre UNION ALL SELECT * FROM post
"""


@register(
    "versioned_branch_evolution",
    _BRANCH_EVO_SQL,
    "schema evolution on a branch: evolve, FF-merge, read both snapshots",
    eager=True,  # materializing surface
)
def q_versioned_branch_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nessie-style branch workflow (reference: catalog branching,
    SURVEY.md M8) combined with add-column evolution: commit the v1
    schema on main, branch `evolve`, append rows carrying a NEW
    ``quality`` column ON THE BRANCH (main's head is untouched — branch
    isolation), then fast-forward merge and read main's head under the
    merged schema.  The output aggregates BOTH snapshots: main before
    the merge (v1 rows only, no quality column) and after (v1 files
    surface NULL quality via mergeSchema; branch files carry values).
    Zero data is copied at any step — branches and merges move refs
    over the same immutable commit DAG, which is exactly the posture
    that scales: a 100 TB experiment branch costs one manifest write.
    """
    from datalakehouse_spark.versioned import VersionedTable

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", F.col("value").cast("double")
    )
    path = fresh_scratch("versioned_branch_evo") + "/t"
    t = VersionedTable(spark, path, partition_by=["event_type"])
    t.create(ev.where(F.col("event_id") % 2 == 0))
    t.create_branch("evolve")
    t.append(
        ev.where(F.col("event_id") % 2 == 1).withColumn(
            "quality", F.col("value") / 2
        ),
        branch="evolve",
    )
    pre = (
        t.read()  # main head BEFORE the merge: v1 files, v1 schema
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.lit(0).cast("bigint").alias("n_quality"),
            dsum("value").alias("sum_value"),
            F.lit(None).cast("double").alias("sum_quality"),
        )
        .select(F.lit("main_pre_merge").alias("snapshot"), "*")
    )
    t.merge_branch("evolve")  # fast-forward main -> branch head
    post = (
        t.read(merge_schema=True)  # main head AFTER: evolved union
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count("quality").alias("n_quality"),
            dsum("value").alias("sum_value"),
            dsum("quality").alias("sum_quality"),
        )
        .select(F.lit("main_post_merge").alias("snapshot"), "*")
    )
    return pre.unionByName(post)
