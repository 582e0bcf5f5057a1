#!/usr/bin/env python
"""Physical-plan audit: dump `explain("formatted")` for the headline
queries with the scale-relevant markers summarized per plan —
PushedFilters / partition pruning, broadcast vs shuffle joins,
TakeOrderedAndProject, WholeStageCodegen spans, and any Python
evaluation nodes (there must be none outside the multimodal stubs).

Writes docs/PLANS.md.  Run: python tools/plan_audit.py
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF = "/root/testdata/sf0.001"

#: query -> one-line intent note (what the plan is supposed to show)
AUDITED = {
    "serving_page": "predicates + ts range reach the scan; TakeOrderedAndProject, no global sort",
    "q1_pricing_summary": "single shuffle; pruned ReadSchema (no l_comment/l_orderkey)",
    "q5_regional_revenue": "all four dims broadcast; fact never shuffled for dim joins",
    "q21_sole_blame": "EXISTS/NOT EXISTS as semi/anti self-joins on l_orderkey",
    "latest_per_key": "window on (user) partition, one shuffle",
    "near_dup_pairs": "LSH band-bucket equi self-join, no cartesian",
    "ivf_search_indexed": "hive-partition pruning on cluster ids (serve = pruned scan)",
    "pq_search": "codes-only ReadSchema; literal ADC tables, TakeOrderedAndProject",
    "max_concurrency": "running sum partitioned by day; O(days) carry broadcast",
    "purchase_attribution": "conditional running MAX replaces purchases x clicks self-join",
    "hierarchy_rollup": "ancestor explode + one hash aggregate, no join",
    "bloom_membership_accounting": "bitmap relation broadcast to probes",
    "bigram_logprob_quality": "fact-sized equi joins on bigram keys, no BNLJ",
    "kmv_rolling_distinct": "sketch merge over k×days rows; exact twin re-joins the fact 7x",
    "point_in_time_join": "SCD2 as-of: equi join on user with validity residual, no BNLJ",
    "revenue_reconciliation": "orderkey join (bucketable); decimal line rollup",
    "ntile_percent_rank": "distributed global rank: ONE bucket shuffle, both rank orders "
    "as windows over it, literal splits/offsets (round 8), no unpartitioned window",
    "gini_coefficient": "range-bucketed global rank over per-user revenue, scalar rollup",
    "skyline_2d": "bucketed prefix-max sweep, literal prior-bucket maxima",
    "semantic_dedup": "SemDeDup pairwise = (cluster, salt) equi self-join, "
    "literal centroids for assignment, never cartesian",
    "incremental_dedup_ingest": "digest-keyed equi joins vs historical index + "
    "skew-immune min(doc_id) keep-first aggregate (no per-digest window)",
    "decontamination_report": "single-scan tagged gram frame; bench digests broadcast "
    "semi-join; totals from a column-pruned re-scan",
    "dup_span_coverage": "span stream collapsed to (digest, doc, n_occ) before the "
    "dup-digest join; digest-keyed equi, never pair space",
    "dup_span_excision_stats": "duplicated spans only reach the per-doc window; "
    "interval union = lead() over doc partition, no merge loop",
    "near_dup_decontamination": "bench band keys broadcast onto the corpus bands; "
    "verify joins shingle sets for candidate pairs only",
    "bm25_topk": "postings filtered to query terms pre-aggregate; df/scalars "
    "broadcast; TakeOrderedAndProject, no global sort",
    "hybrid_rrf_fusion": "two k-row TakeOrderedAndProject lists; rank windows and "
    "full join bounded by the literal candidate depth",
    "quality_threshold_sweep": "one scored scan + bounded 9-threshold fan-out; "
    "rate denominators broadcast",
    "cross_source_dup_matrix": "digest-keyed self-join; fan bounded by "
    "sources-per-digest, never document pairs",
    "cross_format_image_dedup": "two chained mapInPandas passes (synthesize -> "
    "fingerprint, no shuffle between); ONE digest-sized dedup groupBy — "
    "pixels never shuffle",
    "zorder_key_accounting": "scan -> magic-number bit-spread projection (pure "
    "JVM codegen, round 12) -> partial+final hash aggregate, one shuffle",
    "bucketed_colocated_join": "both sides Bucketed: true, SortMergeJoin with "
    "NO Exchange below it — the only shuffles are the 5-group aggregate and "
    "the final sort (round 12)",
}

MARKERS = [
    ("PushedFilters", r"PushedFilters: \[[^\]]+\]"),
    ("PartitionFilters", r"PartitionFilters: \[[^\]]*[a-z][^\]]*\]"),
    ("BroadcastHashJoin", r"BroadcastHashJoin"),
    ("SortMergeJoin", r"SortMergeJoin"),
    ("ShuffledHashJoin", r"ShuffledHashJoin"),
    ("BroadcastNestedLoopJoin", r"BroadcastNestedLoopJoin"),
    ("CartesianProduct", r"CartesianProduct"),
    ("TakeOrderedAndProject", r"TakeOrderedAndProject"),
    ("ShuffleExchange", r"(?<!Broadcast)Exchange"),
    ("BroadcastExchange", r"BroadcastExchange"),
    # formatted mode marks codegen'd operators with a "* " prefix
    ("CodegenOps", r"[+:]- \* |^\* ", ),
    ("PythonEval", r"(BatchEvalPython|ArrowEvalPython)"),
]


def main() -> None:
    from bench import plan_text
    from datalakehouse_spark.registry import REGISTRY, _load_extensions
    from datalakehouse_spark.session import get_spark

    _load_extensions()
    spark = get_spark("plan_audit")
    spark.sparkContext.setLogLevel("ERROR")

    lines = [
        "# PLANS — physical-plan audit of headline queries",
        "",
        "Generated by tools/plan_audit.py (`explain(\"formatted\")` at sf0.001;",
        "plan SHAPE is scale-independent, only statistics change).  The",
        "marker table counts occurrences; the excerpt shows the operator",
        "tree.  Invariants asserted in tests/test_plans.py.",
        "",
        "Reading BroadcastNestedLoopJoin here: every occurrence in these",
        "plans is a crossJoin whose broadcast side is a 1-row aggregate",
        "(percentile split points, total counts) — the standard scalar-",
        "subquery broadcast, O(1) bytes to every task, not a pair blow-up.",
        "tests/test_plans.py pins that the 1-row side is always the",
        "broadcast side (test_scalar_crossjoins_broadcast_the_scalar).",
        "",
    ]
    for name, note in AUDITED.items():
        plan = plan_text(REGISTRY[name].fn(spark, SF), "formatted")
        tree = plan.split("\n\n")[0]  # operator tree only, not detail blocks
        counts = []
        for label, pat in MARKERS:
            n = len(re.findall(pat, plan, re.M))
            if n:
                counts.append(f"{label}×{n}")
        lines += [
            f"## {name}",
            "",
            f"*{note}*",
            "",
            f"Markers: {', '.join(counts) if counts else '(none)'}",
            "",
            "```",
            tree.strip(),
            "```",
            "",
        ]
    out = os.path.join(REPO, "docs", "PLANS.md")
    # preserve hand-written adjudications: everything at/after the
    # marker survives regeneration (plan dumps above it are replaced)
    marker = "<!-- MANUAL ADJUDICATIONS -->"
    manual = ""
    try:
        with open(out) as f:
            prev = f.read()
        if marker in prev:
            manual = prev[prev.index(marker) :]
    except OSError:
        pass
    with open(out, "w") as f:
        f.write("\n".join(lines))
        if manual:
            f.write("\n" + manual)
    print(f"wrote {out}" + (" (manual section preserved)" if manual else ""))


if __name__ == "__main__":
    main()
