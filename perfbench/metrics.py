"""The benchmark's metric catalogue: one place for every name, unit and
direction; ``BENCHMARK.json`` must list exactly these."""

from __future__ import annotations

#: (name, unit, better, bound).  Every workload reports every metric;
#: what the unit operation is differs per workload (see README.md).
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("heap_live_mb", "MB", "lower", 0.25),
    ("latency_ms", "ms", "lower", 0.25),
    ("freshness_p50_s", "s", "lower", 0.25),
]

#: layers whose Spark jobs are attributed through a job group
SPARK_LAYERS = ["tables", "versioned", "streaming", "http_api", "dedup", "textstats",
                "similarity", "registry"]
SPARK_COUNTERS = [("jobs", "count"), ("tasks", "count"), ("cpu_s", "s"),
                  ("shuffle_write_mb", "MB"), ("spill_mb", "MB")]

#: (name, unit) of the per-layer metrics other than the Spark counters
LAYER = [
    ("process.rss_peak_mb", "MB"),
    ("session.get_spark_s", "s"),
    ("io.ship_package_s", "s"),
    ("ingest.dlq_split_s", "s"),
    ("ingest.normalize_s", "s"),
    ("ingest.dlq_rows", "count"),
    ("tables.append_s", "s"),
    ("tables.merge_upsert_s", "s"),
    ("tables.delete_where_s", "s"),
    ("tables.compact_s", "s"),
    ("tables.vacuum_s", "s"),
    ("tables.analyze_s", "s"),
    ("tables.write_amp", "ratio"),
    ("tables.files_end", "count"),
    ("risk_score.daily_s", "s"),
    ("ivm.additive_merge_s", "s"),
    ("versioned.append_p50_s", "s"),
    ("versioned.append_p90_s", "s"),
    ("versioned.append_q1_s", "s"),
    ("versioned.append_q4_s", "s"),
    ("versioned.commits", "count"),
    ("versioned.read_s", "s"),
    ("versioned.files_at_head", "count"),
    ("filebus.latest_offset_ms", "ms"),
    ("filebus.backlog_max_events", "count"),
    ("filebus.send_ms", "ms"),
    ("generator.late_ms", "ms"),
    ("streaming.trigger_p50_s", "s"),
    ("streaming.trigger_p90_s", "s"),
    ("streaming.trigger_q1_s", "s"),
    ("streaming.trigger_q4_s", "s"),
    ("streaming.add_batch_ms", "ms"),
    ("streaming.query_planning_ms", "ms"),
    ("streaming.wal_commit_ms", "ms"),
    ("streaming.commit_offsets_ms", "ms"),
    ("streaming.triggers", "count"),
    ("streaming.rows_per_trigger", "count"),
    ("http_api.handle_ms", "ms"),
    ("http_api.handle_q1_ms", "ms"),
    ("http_api.handle_q4_ms", "ms"),
    ("api.compile_ms", "ms"),
    ("auth.ms", "ms"),
    ("serving.collect_ms", "ms"),
    ("dedup.exact_normalized_s", "s"),
    ("dedup.near_dup_pairs_s", "s"),
    ("dedup.connected_components_s", "s"),
    ("dedup.canonical_s", "s"),
    ("dedup.candidate_pairs", "count"),
    ("dedup.verify_yield", "ratio"),
    ("dedup.index_stage_s", "s"),
    ("dedup.drain_s", "s"),
    ("textstats.quality_score_s", "s"),
    ("similarity.kmeans_s", "s"),
    ("registry.char_ngram_jaccard_s", "s"),
    ("registry.char_ngram_yield", "ratio"),
    ("executor.busy_frac", "ratio"),
    ("trace.overhead_pct", "%"),
]


def per_layer() -> list[tuple[str, str]]:
    out = list(LAYER)
    for layer in SPARK_LAYERS:
        out.extend((f"{layer}.{c}", u) for c, u in SPARK_COUNTERS)
    return out


#: summed span wall time: metric -> (span name, scale)
SPAN_SUMS = {
    "ingest.dlq_split_s": ("ingest.dlq_split", 1.0),
    "ingest.normalize_s": ("ingest.normalize", 1.0),
    "tables.append_s": ("tables.append", 1.0),
    "tables.merge_upsert_s": ("tables.merge_upsert", 1.0),
    "tables.delete_where_s": ("tables.delete_where", 1.0),
    "tables.compact_s": ("tables.compact", 1.0),
    "tables.vacuum_s": ("tables.vacuum", 1.0),
    "tables.analyze_s": ("tables.analyze", 1.0),
    "risk_score.daily_s": ("risk_score.daily", 1.0),
    "ivm.additive_merge_s": ("ivm.additive_merge", 1.0),
    "versioned.read_s": ("versioned.read", 1.0),
    "filebus.send_ms": ("filebus.send", 1000.0),
    "http_api.handle_ms": ("http_api.handle", 1000.0),
    "api.compile_ms": ("api.compile", 1000.0),
    "auth.ms": ("auth", 1000.0),
    "dedup.exact_normalized_s": ("dedup.exact_normalized", 1.0),
    "dedup.near_dup_pairs_s": ("dedup.near_dup_pairs", 1.0),
    "dedup.connected_components_s": ("dedup.connected_components", 1.0),
    "dedup.canonical_s": ("dedup.canonical", 1.0),
    "dedup.index_stage_s": ("dedup.index_stage", 1.0),
    "dedup.drain_s": ("dedup.drain", 1.0),
    "textstats.quality_score_s": ("textstats.quality_score", 1.0),
    "similarity.kmeans_s": ("similarity.kmeans", 1.0),
    "registry.char_ngram_jaccard_s": ("registry.char_ngram_jaccard", 1.0),
}

#: streaming listener phase -> metric (per-trigger median)
TRIGGER_PHASES = {
    "streaming.add_batch_ms": "addBatch",
    "streaming.query_planning_ms": "queryPlanning",
    "streaming.wal_commit_ms": "walCommit",
    "streaming.commit_offsets_ms": "commitOffsets",
    "filebus.latest_offset_ms": "latestOffset",
}
