#!/usr/bin/env python
"""Round-9 heavy-tier scale ladder (VERDICT r8 #5): the top-of-bench
entries at up to ~sf1-equivalent volume — ~1 M documents / ~200 k
embedding vectors, synthesized as shifted copies of the sf0.1 fixtures.

Measured entries (the expensive tier of BENCH_r08):

- ``pq_build_stats`` / ``ivf_build_stats`` / ``kmeans_inertia_sweep``
  (embedding-backed: fused Lloyd training, one tagged corpus pass per
  iteration)
- ``semantic_dedup`` (cluster-scoped cosine, salted hot clusters)
- ``dedup_canonical`` / ``dedup_clusters`` (MinHash-LSH +
  pointer-jumping/contraction CC)
- ``fuzzy_dup_candidates`` (prefix-blocked edit-distance candidates)

Two invariants per entry, per ladder step:

1. **throughput holds or rises** — rows/s at step N >= ~0.7x rows/s at
   step 1 (parallelism should absorb volume; a collapse means a hidden
   driver-side or single-task stage);
2. **plan fingerprint is stable** — the SET of physical node types at
   the largest step equals step 1's (no AQE surprise, no new exchange,
   no BroadcastNestedLoopJoin sneaking in at volume).

Copies shift ids/labels so a growing corpus grows the NUMBER of
blocks/clusters, not each block's size — the realistic growth mode for
blocked/bucketed operators.

Usage: python tools/scale_smoke_r9.py [mults...]   (default 1 10 100)
Prints one JSON line per (mult); paste results into
docs/SCALING_RESULTS.md.  ~20-40 min at the default ladder.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from datalakehouse_spark.io import load_table  # noqa: E402
from datalakehouse_spark.registry import REGISTRY, _load_extensions, clear_memos  # noqa: E402
from datalakehouse_spark.session import get_spark  # noqa: E402

_load_extensions()

BASE_SF = "/root/testdata/sf0.1"
WORK = "/tmp/scale_smoke_r9"

DOC_ENTRIES = [
    "dedup_clusters",
    "dedup_canonical",
    # round-9 late additions (doc-backed; hybrid_rrf_fusion also reads
    # embeddings, but its volume driver is the BM25 corpus side)
    "dup_span_coverage",
    "dup_span_excision_stats",
    "near_dup_decontamination",
    "split_leakage_audit",
    "bm25_topk",
    "hybrid_rrf_fusion",
]
CUST_ENTRIES = ["fuzzy_dup_candidates"]
EMB_ENTRIES = [
    "ivf_build_stats",
    "pq_build_stats",
    "kmeans_inertia_sweep",
    "semantic_dedup",
]


def synthesize(spark, mult: int) -> str:
    """mult x documents+embeddings via one crossJoin with a copy-index
    range (a single plan — no mult-deep union)."""
    out = f"{WORK}/x{mult}"
    done = os.path.exists(os.path.join(out, "_DONE"))
    # _CUST_v2: the customer renumbering fix below — rebuild just the
    # customer table in dirs synthesized before it
    if done and not os.path.exists(os.path.join(out, "_CUST_v2")):
        _synth_customer(spark, mult, out)
    if done:
        return out
    shutil.rmtree(out, ignore_errors=True)

    docs = load_table(spark, BASE_SF, "documents")
    n_d = docs.count()
    copies = spark.range(mult).select(F.col("id").alias("__copy"))
    (
        docs.crossJoin(copies)
        .select(
            (F.col("doc_id") + F.col("__copy") * n_d).alias("doc_id"),
            # vary the tail so copies aren't trivial exact dups
            F.concat(F.col("text"), F.lit(" v"), F.col("__copy")).alias("text"),
            "lang",
            "source",
            "n_chars",
        )
        .repartition(32)
        .write.mode("overwrite")
        .parquet(f"{out}/documents.parquet")
    )

    emb = load_table(spark, BASE_SF, "embeddings")
    n_e = emb.count()
    (
        emb.crossJoin(copies)
        .select(
            (F.col("vec_id") + F.col("__copy") * n_e).alias("vec_id"),
            # rotate one coordinate per copy so copies aren't identical
            F.concat(
                F.slice(F.col("embedding"), 2, 63),
                F.slice(F.col("embedding"), 1, 1),
            ).alias("embedding"),
            # shifted labels: more clusters, not bigger ones
            (F.col("label") + F.col("__copy") * 1000).alias("label"),
        )
        .repartition(32)
        .write.mode("overwrite")
        .parquet(f"{out}/embeddings.parquet")
    )
    _synth_customer(spark, mult, out)
    open(os.path.join(out, "_DONE"), "w").close()
    return out


def _synth_customer(spark, mult: int, out: str) -> None:
    cust = load_table(spark, BASE_SF, "customer")
    n_c = cust.count()
    copies = spark.range(mult).select(F.col("id").alias("__copy"))
    (
        cust.crossJoin(copies)
        .select(
            (F.col("c_custkey") + F.col("__copy") * n_c).alias("c_custkey"),
            # renumber INSIDE the name format (Customer#%09d) so the
            # 16-char prefix-block profile is preserved exactly: block
            # COUNT grows with mult, block SIZE stays <=100 (the
            # last-2-digit variants).  A first cut spliced the copy
            # index into the middle of the string, which shifted the
            # low-order digits past position 16 and silently grew
            # blocks to ~10k rows (~10,000x the pair work) — a fixture
            # bug masquerading as an operator scale failure.
            F.format_string(
                "Customer#%09d", F.col("c_custkey") + F.col("__copy") * n_c
            ).alias("c_name"),
            "c_nationkey",
            "c_acctbal",
            "c_mktsegment",
        )
        .repartition(32)
        .write.mode("overwrite")
        .parquet(f"{out}/customer.parquet")
    )
    open(os.path.join(out, "_CUST_v2"), "w").close()


def fingerprint(df) -> frozenset:
    """Set of physical node types (ids/exprs stripped)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    nodes = set()
    for line in plan.splitlines():
        m = re.match(r"[\s:+\-*>\(\)\d]*([A-Za-z][A-Za-z0-9]+)", line)
        if m:
            nodes.add(m.group(1))
    return frozenset(nodes)


def run_entry(spark, name: str, sf_dir: str) -> tuple[float, frozenset]:
    clear_memos()  # every step times a cold build
    t0 = time.perf_counter()
    df = REGISTRY[name].fn(spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    elapsed = time.perf_counter() - t0
    fp = fingerprint(df)
    # heavy entries localCheckpoint intermediates whose executor blocks
    # are freed by the ContextCleaner only after GC notices the dropped
    # references — at 100x volume, back-to-back entries in one JVM can
    # otherwise OOM on blocks the PREVIOUS entry no longer needs
    # (observed: dedup_canonical stage failure right after the
    # dedup_clusters run).  Nudge both collectors and give the cleaner
    # a beat to drain.
    del df
    import gc

    gc.collect()
    spark.sparkContext._jvm.System.gc()
    time.sleep(2)
    return elapsed, fp


def main() -> None:
    only = os.environ.get("SMOKE_ENTRIES")  # comma-separated filter
    mults = [int(a) for a in sys.argv[1:]] or [1, 10, 100]
    spark = get_spark("scale_smoke_r9")
    spark.sparkContext.setLogLevel("ERROR")

    base_fp: dict[str, frozenset] = {}
    base_rate: dict[str, float] = {}
    for mult in mults:
        sf_dir = synthesize(spark, mult)
        n_docs = load_table(spark, sf_dir, "documents").count()
        n_vecs = load_table(spark, sf_dir, "embeddings").count()
        n_cust = load_table(spark, sf_dir, "customer").count()
        row: dict = {"mult": mult, "docs": n_docs, "vecs": n_vecs, "cust": n_cust}
        for name in DOC_ENTRIES + CUST_ENTRIES + EMB_ENTRIES:
            if only and name not in only.split(","):
                continue
            n = (
                n_docs
                if name in DOC_ENTRIES
                else n_cust if name in CUST_ENTRIES else n_vecs
            )
            try:
                t, fp = run_entry(spark, name, sf_dir)
            except Exception as exc:  # keep the ladder going
                row[name] = {"error": str(exc)[:120]}
                continue
            rate = n / t
            entry = {"s": round(t, 2), "rows_per_s": int(rate)}
            if mult == mults[0]:
                base_fp[name], base_rate[name] = fp, rate
            else:
                entry["plan_stable"] = fp == base_fp.get(name)
                entry["rate_vs_x1"] = round(rate / base_rate[name], 2)
            row[name] = entry
        print(json.dumps(row), flush=True)


if __name__ == "__main__":
    main()
