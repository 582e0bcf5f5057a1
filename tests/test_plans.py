"""Physical-plan assertions — the 100 TB posture, regression-guarded.

These tests pin the plan *shape*, not timings: filters reach the parquet
scan (row-group skipping at scale), scans prune columns, dimension joins
broadcast, global top-k compiles to TakeOrderedAndProject (per-partition
heaps, no full sort), and aggregates keep a single shuffle with map-side
partials.
"""

import io
import re
from contextlib import redirect_stdout

import pytest

from datalakehouse_spark.registry import REGISTRY, _load_extensions

_load_extensions()

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_serving_page_pushdown_and_pruning(spark):
    plan = plan_of(REGISTRY["serving_page"].fn(spark, SF))
    assert "EqualTo(user_id,7)" in plan, "device predicate must reach the scan"
    assert re.search(r"GreaterThanOrEqual\(ts,", plan), "ts range must reach the scan"
    assert "TakeOrderedAndProject" in plan, "page query must not global-sort"
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and "props" not in m.group(1), "unprojected columns must be pruned"


def test_q1_single_shuffle_pushdown(spark):
    plan = plan_of(REGISTRY["q1_pricing_summary"].fn(spark, SF))
    assert "LessThanOrEqual(l_shipdate" in plan
    assert plan.count("Exchange") <= 2  # one shuffle (+AQE read)
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and "l_comment" not in m.group(1)
    assert "l_orderkey" not in m.group(1), "column pruning: only agg inputs read"


def test_q3_broadcasts_dimensions(spark):
    plan = plan_of(REGISTRY["q3_shipping_priority"].fn(spark, SF))
    assert plan.count("BroadcastHashJoin") >= 2, "customer+orders must broadcast"
    assert "SortMergeJoin" not in plan
    assert "TakeOrderedAndProject" in plan


def test_q5_star_join_broadcasts(spark):
    plan = plan_of(REGISTRY["q5_regional_revenue"].fn(spark, SF))
    assert plan.count("BroadcastHashJoin") >= 4, "all dims must broadcast"


def test_topk_global_is_take_ordered(spark):
    plan = plan_of(REGISTRY["topk_global"].fn(spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan or "TakeOrdered" in plan


def test_risk_pushes_in_list(spark):
    plan = plan_of(REGISTRY["risk_score_daily"].fn(spark, SF))
    assert "In(event_type" in plan, "IN-list must reach the scan"
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and "props" not in m.group(1) and "event_id" not in m.group(1)


def test_risk_serving_page_pushes_typed_device_lookup(spark):
    """VERDICT r10 #3: the serving page's device lookup must reach the
    parquet scan as a TYPED pushed filter (EqualTo on the source long
    column -> row-group pruning), not remain a post-scan
    cast(user_id as string) compare over every row group."""
    plan = plan_of(REGISTRY["risk_serving_page"].fn(spark, SF))
    assert "EqualTo(user_id,7)" in plan, "typed lookup must be pushed"
    assert "TakeOrderedAndProject" in plan  # top-10 page, no full sort


def test_device_source_predicate_transposition(spark):
    """The string->typed transposition is exact: canonical longs map to
    a typed equality, everything CAST(user_id AS STRING) can never
    produce yields constant false (empty page), matching the string
    filter's semantics."""
    from pyspark.sql import functions as F

    from datalakehouse_spark.pipelines.risk_score import device_source_predicate

    assert "=(user_id, 7)" in str(device_source_predicate("7"))
    assert "=(user_id, -42)" in str(device_source_predicate("-42"))
    for bad in ("07", "7.0", "x", "", " 7", "+7", "99999999999999999999"):
        assert str(device_source_predicate(bad)) == str(F.lit(False)), bad


def test_minhash_partial_aggregation(spark):
    """The signature aggregate must have map-side partials (two
    HashAggregate nodes around one Exchange)."""
    plan = plan_of(REGISTRY["minhash_signatures"].fn(spark, SF))
    assert plan.count("HashAggregate") >= 2
    assert "partial_min" in plan


def test_minhash_no_shuffle_when_partitioning_suffices(spark):
    """Scale-safety: the dedup input spread must be conditional — when
    the scan already has >= defaultParallelism splits, no
    RoundRobinPartitioning exchange may be inserted (at 100 TB an
    unconditional repartition is a full corpus shuffle)."""
    from datalakehouse_spark.io import load_table
    from datalakehouse_spark.operators.dedup import minhash_signatures_df, simhash_df

    p = spark.sparkContext.defaultParallelism
    docs = load_table(spark, SF, "documents")

    wide = docs.repartition(p * 2)  # simulate a many-split scan
    for op in (minhash_signatures_df, simhash_df):
        plan = plan_of(op(wide))
        # exactly one RoundRobin exchange: the explicit test one; the
        # operator must not add a second
        assert plan.count("RoundRobinPartitioning") == 1, op.__name__

    narrow = docs.coalesce(1)  # one-file fixture shape: spread is right
    plan = plan_of(minhash_signatures_df(narrow))
    assert "RoundRobinPartitioning" in plan


def test_near_dup_bucket_cap_default_on(spark):
    """The LSH hot-bucket guard must be active in the default path (a
    degenerate boilerplate corpus otherwise goes quadratic)."""
    import inspect

    from datalakehouse_spark.operators.dedup import near_dup_pairs

    assert inspect.signature(near_dup_pairs).parameters["max_bucket_size"].default == 1000
    from datalakehouse_spark.io import load_table

    docs = load_table(spark, SF, "documents")
    # capped vs uncapped agree on the fixture (buckets are small here)
    capped = {tuple(r) for r in near_dup_pairs(docs).collect()}
    uncapped = {tuple(r) for r in near_dup_pairs(docs, max_bucket_size=None).collect()}
    assert capped == uncapped


def test_range_join_is_hash_join_not_bnlj(spark):
    plan = plan_of(REGISTRY["range_join_window"].fn(spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan, "equi conjunct must keep a hash join"
    assert ("SortMergeJoin" in plan) or ("BroadcastHashJoin" in plan) or (
        "ShuffledHashJoin" in plan
    )


def test_no_python_udfs_in_core_queries(spark):
    """Hot-path queries stay JVM-side (no BatchEvalPython/ArrowEvalPython)."""
    for name in (
        "risk_score_daily",
        "ingest_normalize",
        "q1_pricing_summary",
        "minhash_signatures",
        "simhash_docs",
        "simhash_near_dup_pairs",
        "knn_brute_force",
        "ivf_search",
        "ann_multiprobe_search",
        "text_stats",
        "corpus_prep_pipeline",
        "stratified_sample",
        "dataset_split_counts",
        "pairwise_topk_blocked",
        "scd2_customer_history",
    ):
        plan = plan_of(REGISTRY[name].fn(spark, SF))
        assert "EvalPython" not in plan, f"{name} fell off the JVM path"


def test_simhash_pairs_is_bucket_equi_join(spark):
    """The pairing self-join must shuffle on the (block, key) bucket —
    an equi hash/merge join, never a nested-loop over the pair space."""
    from datalakehouse_spark.io import load_table
    from datalakehouse_spark.operators.dedup import simhash_near_dup_pairs

    plan = plan_of(simhash_near_dup_pairs(load_table(spark, SF, "documents")))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert ("SortMergeJoin" in plan) or ("BroadcastHashJoin" in plan) or (
        "ShuffledHashJoin" in plan
    )


def test_ivf_prune_is_narrow_filter(spark):
    """The ivf_search SERVE path (round 5: no per-query k-means) scans
    the prebuilt cluster-partitioned index with the probe IN-list as a
    PARTITION filter — no join, no row-level argmin over the corpus,
    straight to top-k."""
    import re as _re

    plan = plan_of(REGISTRY["ivf_search"].fn(spark, SF))
    assert "Join" not in plan, "cluster pruning must not join the corpus"
    assert "TakeOrderedAndProject" in plan
    m = _re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "cluster" in m.group(1), f"probe must be a partition filter: {m}"


def test_bucketed_join_no_shuffle(spark):
    """Co-located join (100 TB posture): two tables bucketed by the join
    key into the same bucket count join WITHOUT any Exchange — the
    pre-partitioning that replaces the per-query fact-to-fact shuffle
    at scale (SURVEY/SCALE bucketing story)."""
    from pyspark.sql import functions as F

    a, b = "bucketed_join_a", "bucketed_join_b"
    try:
        for t in (a, b):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
            (
                spark.range(20000)
                .select(F.col("id"), (F.col("id") % 512).alias("key"))
                .write.bucketBy(8, "key")
                .saveAsTable(t)
            )
        joined = (
            spark.table(a)
            .hint("merge")  # force SMJ so tiny test tables don't broadcast
            .join(spark.table(b), "key")
        )
        plan = plan_of(joined)
        assert "Exchange" not in plan, "bucketed join must not shuffle either side"
        assert "SortMergeJoin" in plan
    finally:
        for t in (a, b):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_default_bucket_count_is_the_capacity_rule(spark):
    """Round 13 (VERDICT r12 #3): the API default derives from the
    session's task parallelism — the round-12 ladder proved a constant
    8 silently caps read parallelism and LOSES to a plain shuffle join
    once data outgrows it (docs/SCALING_RESULTS.md)."""
    from types import SimpleNamespace

    from datalakehouse_spark.operators.colocate import default_bucket_count

    assert default_bucket_count(spark) == spark.sparkContext.defaultParallelism
    # host-independent: the rule follows the context's parallelism, so
    # no constant default can pass both
    for cores in (4, 32):
        stand_in = SimpleNamespace(sparkContext=SimpleNamespace(defaultParallelism=cores))
        assert default_bucket_count(stand_in) == cores


def test_q10_broadcast_and_topk(spark):
    plan = plan_of(REGISTRY["q10_returned_items"].fn(spark, SF))
    assert "BroadcastHashJoin" in plan, "nation (at least) must broadcast"
    assert "BroadcastNestedLoopJoin" not in plan
    assert "TakeOrderedAndProject" in plan, "top-20 must not global-sort"


def test_q18_having_subquery_is_semi_join(spark):
    plan = plan_of(REGISTRY["q18_large_orders"].fn(spark, SF))
    assert "LeftSemi" in plan, "HAVING-subquery filter must stay a semi-join"


def test_doc_chunks_is_narrow(spark):
    """Chunking must stay a scan-fused projection + explode: zero
    shuffles, so output partitioning inherits the scan's."""
    plan = plan_of(REGISTRY["doc_chunks"].fn(spark, SF))
    assert "Exchange" not in plan
    assert "Generate" in plan  # the bounded explode fan-out
    assert "EvalPython" not in plan


def test_sequence_packing_single_stream_shuffle(spark):
    """Packing shuffles once on the stream key (window partitioning) —
    no global sort/total order."""
    plan = plan_of(REGISTRY["sequence_packing"].fn(spark, SF))
    assert plan.count("Exchange") <= 2  # one shuffle (+AQE read)
    assert "rangepartitioning" not in plan.lower(), "no global total order"
    assert "EvalPython" not in plan


def test_repetition_quality_doc_keyed_aggs(spark):
    """Both aggregates key on doc_id first: map-side partials, no
    self-join of the corpus."""
    plan = plan_of(REGISTRY["repetition_quality"].fn(spark, SF))
    assert "Join" not in plan
    assert "partial" in plan.lower()
    assert "EvalPython" not in plan


def test_tfidf_no_cartesian_and_bounded_topk(spark):
    plan = plan_of(REGISTRY["tfidf_top_terms"].fn(spark, SF))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "EvalPython" not in plan


def test_runtime_bloom_filter_join(spark):
    """100 TB posture: a selective filter on one side of a fact-fact
    shuffle join injects a runtime bloom filter on the other side's
    scan (row-level skipping before the shuffle). The size thresholds
    are tuned for real scans — at fixture scale they must be relaxed to
    observe the mechanism (application side >= 10 GB by default, and
    without ANALYZE column stats the creation side's size estimate is
    conservative)."""
    import tempfile

    from pyspark.sql import functions as F

    d = tempfile.mkdtemp(prefix="bloom_join_")
    spark.range(200_000).select(
        F.col("id").alias("k"), (F.col("id") % 1000).alias("v")
    ).write.mode("overwrite").parquet(d + "/a")
    spark.range(200_000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("w")
    ).write.mode("overwrite").parquet(d + "/b")
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "1g",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, val in confs.items():
            spark.conf.set(k, val)
        a = spark.read.parquet(d + "/a")
        b = spark.read.parquet(d + "/b")
        plan = plan_of(a.join(b.where(F.col("w") == 3), "k"))
        assert "might_contain" in plan, "runtime bloom filter must inject"
    finally:
        for k, val in saved.items():
            spark.conf.set(k, val)


def test_q8_star_broadcasts_all_dims(spark):
    plan = plan_of(REGISTRY["q8_market_share"].fn(spark, SF))
    assert plan.count("BroadcastHashJoin") >= 5, "dims must broadcast"
    assert "CartesianProduct" not in plan


def test_q13_outer_join_preserved(spark):
    """The priority filter sits in the LEFT join's ON clause — it must
    not collapse the outer join into an inner one (customers with zero
    qualifying orders must survive with count 0)."""
    from pyspark.sql import functions as F

    df = REGISTRY["q13_customer_distribution"].fn(spark, SF)
    total_customers = df.agg(F.sum("custdist")).first()[0]
    from datalakehouse_spark.io import load_table

    assert total_customers == load_table(spark, SF, "customer").count()


def test_q17_decorrelated_no_cartesian(spark):
    plan = plan_of(REGISTRY["q17_small_quantity_revenue"].fn(spark, SF))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan, "brand-filtered part side must broadcast"


def test_q22_anti_join_shape(spark):
    plan = plan_of(REGISTRY["q22_idle_balance"].fn(spark, SF))
    assert "LeftAnti" in plan, "NOT EXISTS must stay an anti join"


def test_ivf_indexed_partition_pruning(spark, tmp_path):
    """The build/serve split's payoff: the probe IN-list must land in
    PartitionFilters (only n_probe cluster directories are even
    listed), not a row-level Filter over the whole index."""
    import re as _re

    from datalakehouse_spark.io import load_table
    from datalakehouse_spark.operators.similarity import (
        build_ivf_index,
        ivf_search_indexed,
        rank_probes,
    )

    emb = load_table(spark, SF, "embeddings")
    path = str(tmp_path / "ivf_index")
    cent_rows = build_ivf_index(emb, path)
    q = list(emb.where("vec_id = 0").select("embedding").first()[0])
    plan = plan_of(ivf_search_indexed(spark, path, cent_rows, q, n_probe=2))
    m = _re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "cluster" in m.group(1), f"probe must be a partition filter: {m}"
    probes = rank_probes(cent_rows, q, 2)
    assert len(probes) == 2


def test_q2_correlated_min_is_window_not_rescan(spark):
    """The correlated MIN subquery must decorrelate into one window
    over the eligible offers — a single shuffle on the part key and no
    cartesian/BNLJ re-scan of offers per outer row."""
    plan = plan_of(REGISTRY["q2_min_cost_supplier"].fn(spark, SF))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "Window" in plan, "per-part MIN must be a window, not a re-aggregate join"
    assert "BroadcastHashJoin" in plan, "dim chain must broadcast"


def test_q9_fact_never_shuffles_for_dims(spark):
    """part/supplier/nation all broadcast; the only shuffle-joined side
    is orders on the fact's own key."""
    plan = plan_of(REGISTRY["q9_product_profit"].fn(spark, SF))
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan


def test_q15_scalar_max_broadcasts(spark):
    """The MAX(total_revenue) scalar must come back as a broadcast
    (BNLJ of a 1-row side or a scalar subquery reuse), never a shuffle
    of the revenue view against itself."""
    plan = plan_of(REGISTRY["q15_top_supplier"].fn(spark, SF))
    assert "SortMergeJoin" not in plan, "1-row scalar side must not SMJ"


def test_q16_not_in_is_anti_join(spark):
    plan = plan_of(REGISTRY["q16_supplier_counts"].fn(spark, SF))
    assert "LeftAnti" in plan, "NOT IN exclusion must stay an anti join"
    assert "BroadcastHashJoin" in plan


def test_q20_nested_in_is_semi_chain(spark):
    plan = plan_of(REGISTRY["q20_surplus_suppliers"].fn(spark, SF))
    assert "LeftSemi" in plan, "IN subqueries must stay semi joins"
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_q21_exists_chain_hash_joins_only(spark):
    """EXISTS/NOT EXISTS self-joins must hash on the l_orderkey equi
    key (supplier inequality as residual) — no nested loop over the
    fact table."""
    plan = plan_of(REGISTRY["q21_sole_blame"].fn(spark, SF))
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_aqe_skew_join_split(spark):
    """100 TB posture: AQE must detect a skewed shuffle-join partition
    at runtime and split it (OptimizeSkewedJoin), so one hot key costs
    extra parallel tasks instead of one straggler executor. Thresholds
    are shrunk to observe the mechanism at fixture scale; the final
    adaptive plan (post-execution) must carry the skew=true marker."""
    import tempfile

    from pyspark.sql import functions as F

    d = tempfile.mkdtemp(prefix="skew_join_")
    # left: 100k rows, 95% on key 0; right: uniform over 10k keys.
    # Payloads are xxhash64 noise: skew detection reads COMPRESSED map
    # output sizes, and a constant-key partition of pruned-to-nothing
    # rows compresses below any threshold (observed: no split without
    # the entropy columns).
    spark.range(100_000).select(
        F.when(F.col("id") % 20 != 0, F.lit(0)).otherwise(F.col("id") % 10_000).alias("k"),
        F.xxhash64("id").alias("v"),
    ).write.mode("overwrite").parquet(d + "/l")
    spark.range(10_000).select(
        F.col("id").alias("k"), F.xxhash64("id", "id").alias("w")
    ).write.mode("overwrite").parquet(d + "/r")
    confs = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {key: spark.conf.get(key, None) for key in confs}
    try:
        for key, val in confs.items():
            spark.conf.set(key, val)
        # aggregate to keep the collect tiny; the sum keeps the payload
        # columns alive through pruning (mod-bounded: ANSI mode rejects
        # overflowing raw-hash sums), and the join underneath still
        # shuffles and is what AQE re-plans
        j = (
            spark.read.parquet(d + "/l")
            .join(spark.read.parquet(d + "/r"), "k")
            .agg(
                F.sum(F.col("v") % 100_000 + F.col("w") % 100_000).alias("s"),
                F.count(F.lit(1)).alias("c"),
            )
        )
        # collect() executes THIS Dataset's QueryExecution — only after
        # execution does the adaptive plan become final and carry the
        # skew markers (a write would execute a fresh copy of the plan)
        assert j.collect()[0]["c"] > 0
        final = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in final
        assert "skew=true" in final, "AQE did not split the skewed partition"
    finally:
        for key, val in saved.items():
            if val is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, val)


def test_pq_serve_is_narrow_code_scan(spark):
    """PQ serving must read the ENCODED corpus only: no join, no
    shuffle beyond top-k, distance = literal-table lookups (JVM
    expressions), into TakeOrderedAndProject."""
    plan = plan_of(REGISTRY["pq_search"].fn(spark, SF))
    assert "Join" not in plan, "ADC must not join the corpus"
    assert "TakeOrderedAndProject" in plan
    assert "EvalPython" not in plan
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and "embedding" not in m.group(1), "serve path must not read raw vectors"


def test_ivfpq_serve_prunes_partitions_and_reads_codes_only(spark):
    """IVF-PQ serving composes both accelerations: the probe IN-list
    must be a PARTITION filter (n_probe of n_clusters directories
    listed) and the scan must read code columns, never raw vectors."""
    plan = plan_of(REGISTRY["ivf_pq_search"].fn(spark, SF))
    assert "Join" not in plan
    assert "TakeOrderedAndProject" in plan
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "cluster" in m.group(1), f"probe must be a partition filter: {m}"
    rs = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert rs and "embedding" not in rs.group(1), "must read codes, not vectors"


# ---------------------------------------------------------------------------
# Round-5 continuation (registry_ext5) plan shapes
# ---------------------------------------------------------------------------


def test_fuzzy_blocking_is_hash_join(spark):
    """The blocked pair join must be a plain equi hash/merge join on the
    prefix key — a nested-loop or cartesian plan means blocking broke."""
    plan = plan_of(REGISTRY["fuzzy_dup_candidates"].fn(spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    )


def test_purchase_attribution_single_user_shuffle(spark):
    """Attribution is one window over user_id — no self-join of
    purchases against clicks may appear."""
    plan = plan_of(REGISTRY["purchase_attribution"].fn(spark, SF))
    assert "Join" not in plan, "conditional running MAX must replace the self-join"
    assert "hashpartitioning(user_id" in plan


def test_hierarchy_rollup_one_shuffle_no_join(spark):
    plan = plan_of(REGISTRY["hierarchy_rollup"].fn(spark, SF))
    assert "Join" not in plan
    # explode + partial agg + one exchange on node (AQE may add reads)
    assert plan.count("Exchange hashpartitioning") <= 2


def test_max_concurrency_windows_are_day_partitioned(spark):
    """The running sum over the fact-sized sweep series must be
    PARTITIONED BY day; only the O(days) carry may single-partition."""
    plan = plan_of(REGISTRY["max_concurrency"].fn(spark, SF))
    # the fact-sized running sum shuffles on day (parallel), never on ()
    assert "hashpartitioning(day" in plan
    # the carry join must broadcast (carry side is O(days))
    assert "BroadcastHashJoin" in plan


def test_dq_expectations_broadcasts_fk_probe(spark):
    plan = plan_of(REGISTRY["dq_expectations"].fn(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_kmv_no_python_and_grouped_window(spark):
    plan = plan_of(REGISTRY["kmv_distinct_sketch"].fn(spark, SF))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "row_number" in plan


def test_round5_entries_stay_jvm_side(spark):
    for name in (
        "token_entropy",
        "pii_redaction",
        "engagement_bitmap",
        "grid_density",
        "prefix_dedup_stats",
        "shingle_novelty_daily",
        "distribution_rebalance",
        "markov_transitions",
        "ewma_daily",
        "debounce_events",
        "mad_outliers",
        "growth_rates",
    ):
        plan = plan_of(REGISTRY[name].fn(spark, SF))
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_spatial_knn_is_take_ordered(spark):
    plan = plan_of(REGISTRY["spatial_knn"].fn(spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "Join" not in plan


def test_late_round5_entries_no_cartesian_no_python(spark):
    for name in (
        "association_rules",
        "source_vocab_overlap",
        "zipf_token_ranks",
        "cusum_changepoint",
        "trend_slopes",
        "gini_coefficient",
        "weekly_autocorrelation",
        "benford_first_digit",
        "basket_size_distribution",
        "repeat_purchase_intervals",
        "skyline_2d",
        "ltv_deciles_pareto",
        "revenue_reconciliation",
        "conversion_wilson_ci",
        "time_to_convert",
        "ab_test_ttest",
        "session_landing_exit",
        "chi_square_independence",
        "mutual_information",
    ):
        plan = plan_of(REGISTRY[name].fn(spark, SF))
        assert "CartesianProduct" not in plan, name
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name


def test_kmv_rolling_has_no_nested_loop(spark):
    """The target-day explode must keep the sketch merge an equi hash
    join (the range-condition form compiled to BNLJ)."""
    plan = plan_of(REGISTRY["kmv_rolling_distinct"].fn(spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_point_in_time_join_no_nested_loop(spark):
    plan = plan_of(REGISTRY["point_in_time_join"].fn(spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan


# ---------------------------------------------------------------------------
# Unpartitioned-window sweep: the registry-wide scale invariant
# ---------------------------------------------------------------------------

#: Entries ALLOWED an unpartitioned window: their window runs over a
#: calendar-bounded frame (O(days)/O(weeks) rows at ANY corpus size), so
#: a single task holding it is a constant, not a scale risk.
_GLOBAL_WINDOW_OK = {
    "running_distinct_users",  # registry_ext4: cumulative over O(days)
    "max_concurrency",  # registry_ext5: day-level carry prefix sum
    "growth_rates",  # registry_ext5: week-over-week lag over O(weeks)
    # registry_ext6: rank over two LIMIT-50 candidate frames — bounded
    # by the literal candidate depth at ANY corpus size
    "hybrid_rrf_fusion",
    # registry_ext2 + operators/ranking.py: SIZE-ADAPTIVE — a zero-job
    # on-disk size probe (io.table_bytes) picks the native global
    # window only below 256 MiB (what this fixture-scale sweep
    # observes); above the threshold the same entry builds the
    # distributed range-bucketed ranker with no global window.  The
    # threshold contract is pinned by
    # test_ntile_entry_small_and_large_paths_agree in tests/test_ranking.py.
    "ntile_percent_rank",
}

def _iter_plan_nodes(jplan):
    stack = [jplan]
    while stack:
        node = stack.pop()
        yield node
        children = node.children()
        for i in range(children.size()):
            stack.append(children.apply(i))


def unpartitioned_windows(df) -> list:
    """Window nodes in the optimized logical plan with an EMPTY
    partition spec — each is a single-task funnel at execution time."""
    out = []
    plan = df._jdf.queryExecution().optimizedPlan()
    for node in _iter_plan_nodes(plan):
        if node.getClass().getSimpleName() == "Window" and (
            node.partitionSpec().isEmpty()
        ):
            out.append(node.toString().splitlines()[0])
    return out


def _unbounded_cross_joins(df) -> list:
    """Cross joins in the optimized logical plan where NEITHER side has
    a provable maxRows == 1 NOR an explicit broadcast hint — the
    pair-blow-up shape.  Scalar-broadcast crossJoins (splits / totals:
    one side a 1-row aggregate) and deliberately broadcast-hinted
    bounded sets (the batch-kNN query set) pass; an unhinted cross of
    two data-sized relations fails."""
    out = []
    for node in _iter_plan_nodes(df._jdf.queryExecution().optimizedPlan()):
        if node.getClass().getSimpleName() != "Join":
            continue
        if "Cross" not in node.joinType().toString():
            continue
        sides = [node.left(), node.right()]
        scalar = any(
            s.maxRows().isDefined() and int(str(s.maxRows().get())) == 1
            for s in sides
        )
        hinted = "strategy=broadcast" in node.toString().splitlines()[0]
        if not (scalar or hinted):
            out.append(node.toString().splitlines()[0])
    return out


def test_registry_sweep_no_unpartitioned_windows(spark):
    """Every registry entry's optimized plan must be free of BOTH
    registry-wide scale-killer shapes: single-partition windows on
    data-sized keys (calendar-bounded exceptions allowlisted, so a new
    global window can never slip in silently) and cross joins without a
    provable 1-row side (the pair blow-up; scalar broadcasts pass)."""
    _load_extensions()
    offenders = {}
    for name, spec in REGISTRY.items():
        # eager entries execute actions at BUILD time (QuerySpec.eager,
        # pinned both ways by tests/test_registry_integrity.py); skipping
        # them keeps the sweep a plan-only pass
        if spec.eager:
            continue
        try:
            df = spec.fn(spark, SF)
        except Exception as exc:  # pragma: no cover - build must not fail
            offenders[name] = f"build failed: {exc}"
            continue
        wins = unpartitioned_windows(df)
        if wins and name not in _GLOBAL_WINDOW_OK:
            offenders[name] = wins
        crosses = _unbounded_cross_joins(df)
        if crosses:
            offenders.setdefault(name, []).extend(crosses)
    assert not offenders, f"scale-killer plan shapes: {offenders}"


def test_global_window_allowlist_is_tight(spark):
    """The allowlisted entries must actually still HAVE the global
    window (otherwise the allowlist is stale and should shrink)."""
    for name in sorted(_GLOBAL_WINDOW_OK):
        df = REGISTRY[name].fn(spark, SF)
        assert unpartitioned_windows(df), f"{name}: allowlist entry no longer needed"


def test_scalar_crossjoins_broadcast_the_scalar(spark):
    """Every cross join in the distributed-ranking plans must have a
    provably-1-row side (the percentile-splits / total-count aggregate)
    — i.e. the BroadcastNestedLoopJoin the audit shows is a scalar
    broadcast, never a pair blow-up."""
    for name in ("ntile_percent_rank", "gini_coefficient", "skyline_2d",
                 "ltv_deciles_pareto", "repeat_purchase_intervals"):
        df = REGISTRY[name].fn(spark, SF)
        plan = df._jdf.queryExecution().optimizedPlan()
        for node in _iter_plan_nodes(plan):
            if node.getClass().getSimpleName() != "Join":
                continue
            if "Cross" not in node.joinType().toString():
                continue
            sides = [node.left(), node.right()]
            one_row = any(
                s.maxRows().isDefined() and int(str(s.maxRows().get())) == 1
                for s in sides
            )
            assert one_row, (
                f"{name}: cross join without a provable 1-row side:\n"
                + node.toString()[:500]
            )


def test_semantic_dedup_pairwise_is_cluster_equi_join(spark):
    """SemDeDup's pairwise phase must be a plain equi join on the
    (cluster, salt) key — a nested-loop/cartesian plan means the
    cluster blocking broke and the pair space went corpus-squared."""
    plan = plan_of(REGISTRY["semantic_dedup"].fn(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_incremental_dedup_is_digest_keyed(spark):
    """The ingest check is digest-keyed equi joins plus a skew-immune
    min(doc_id) keep-first aggregate — no nested loop, no per-digest
    sort window (a boilerplate digest must not funnel one task)."""
    plan = plan_of(REGISTRY["incremental_dedup_ingest"].fn(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "hashpartitioning(digest" in plan


def test_serving_page_seek_stays_takeordered_with_pushed_cursor(spark):
    """Keyset pagination's whole point at scale: the cursor compiles to
    scan-pushed range predicates + TakeOrderedAndProject — no offset
    node, no global sort, constant cost at any page depth."""
    plan = plan_of(REGISTRY["serving_page_seek"].fn(spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "GlobalLimit" not in plan  # no offset/skip stage
    assert "EqualTo(user_id,7)" in plan, "device predicate must reach the scan"
    # the cursor's ts < bound is a plain pushed range predicate
    assert re.search(r"LessThan\(ts,2024-01-15", plan), "seek bound must reach the scan"
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and "props" not in m.group(1), "unprojected columns must be pruned"


def test_page_after_helper_compiles_same_shape(spark):
    """The serving-layer helper (pipelines/serving.page_after) — not just
    the registry twin — must produce the TakeOrderedAndProject shape."""
    import datetime as dt

    from datalakehouse_spark.io import load_table
    from datalakehouse_spark.pipelines.serving import page_after

    ev = load_table(spark, SF, "events")
    df = page_after(
        ev,
        device_id=7,
        ts_start=dt.datetime(2024, 1, 5),
        ts_end=dt.datetime(2024, 1, 20),
        last_ts=dt.datetime(2024, 1, 15, 12, 0, 0),
        last_key=0,
        limit=50,
    )
    plan = plan_of(df)
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan  # no standalone global sort node


def test_bucketed_join_has_no_exchange_under_the_join(spark):
    """Round 12 — the scale mandate's "bucketing for co-located joins":
    both fact tables bucketed on orderkey with the same bucket count
    must join WITHOUT a shuffle on either side (broadcast disabled so
    AQE can't sidestep the property); the only Exchanges left are the
    aggregate and the final sort."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = REGISTRY["bucketed_colocated_join"].fn(spark, SF)
        # tree-form plan (explain("formatted") appends node DETAIL
        # blocks after the tree, so textual slicing there lies about
        # what sits below the join)
        tree = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    assert "Bucketed: true" in tree, "scans must read the bucketed layout"
    assert "SelectedBucketsCount: 8 out of 8" in tree
    assert "SortMergeJoin" in tree
    below_join = tree[tree.index("SortMergeJoin") :]
    assert "Exchange" not in below_join, "join sides must be co-located"
    shuffles = tree.count("Exchange") - tree.count("BroadcastExchange")
    assert shuffles == 2, f"only agg + sort may shuffle, saw {shuffles}"


def test_bucketed_agg_has_no_exchange_below_the_key_agg(spark):
    """Round 13 (VERDICT r12 #4): the same bucketed layout serves
    aggregation — groupBy on the bucket key runs partial+final
    HashAggregate directly on the co-located scan, no Exchange below;
    only the tiny histogram rollup and its sort shuffle."""
    df = REGISTRY["bucketed_colocated_agg"].fn(spark, SF)
    tree = df._jdf.queryExecution().executedPlan().toString()
    assert "Bucketed: true" in tree, "scan must read the bucketed layout"
    # the per-orderkey aggregate is the LAST HashAggregate pair in the
    # tree (closest to the scan); nothing below it may shuffle
    key_agg = tree.rindex("HashAggregate(keys=[l_orderkey")
    assert "Exchange" not in tree[key_agg:], "key agg must ride the buckets"
    shuffles = tree.count("Exchange") - tree.count("BroadcastExchange")
    assert shuffles == 2, f"only histogram agg + sort may shuffle, saw {shuffles}"
