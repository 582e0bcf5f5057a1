#!/usr/bin/env python
"""Scale ladder: time registry entries over N× copies of the fixtures.

The signal is each entry's throughput relative to its own base step.
Per-job fixed cost dominates at fixture scale, so absolute seconds say
little; what a ladder can show is whether a plan's rows/s holds as the
input multiplies (a collapse means a hidden driver-side, single-task or
quadratic stage) and whether its physical plan keeps the same shape.

Every step, the first one included, reads tables this script wrote with
the same synthesizer, so all steps share one read path.  For each
(entry, mult) it prints one JSON line::

    {"entry", "mult", "s", "rate_vs_base", "holds", "plan_stable"}

where ``rate_vs_base = (mult / m0) * t(m0) / t(mult)`` against the first
multiple ``m0``, ``holds`` is ``rate_vs_base >= 0.7`` and ``plan_stable``
says the set of physical node types equals the base step's.  A failing
run prints ``{"entry", "mult", "error"}`` and the ladder carries on.

Usage: python tools/scale_ladder.py [NAME ...] [--mults 1 4 16] [--sf-dir DIR]
(no names: the entries below; --sf-dir defaults to $SPARK_GRAFT_SF_DIR,
else the sf0.1 fixtures)
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import re
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from bench import WARMUP_DIR, plan_text, time_entry, warm_up  # noqa: E402
from datalakehouse_spark.io import load_table  # noqa: E402
from datalakehouse_spark.registry import REGISTRY, clear_memos  # noqa: E402
from datalakehouse_spark.session import get_spark  # noqa: E402

#: the entries a bare run times: those whose scaling docs/SCALING_RESULTS.md
#: records — the risk batch, the corpus dedup / similarity / tokenizer /
#: index builders, and the bucketed, IVM and streaming entries
DEFAULT_ENTRIES = [
    "risk_score_daily", "minhash_signatures", "knn_brute_force",
    "near_dup_pairs", "pairwise_topk_blocked", "simhash_near_dup_pairs",
    "ivf_search", "doc_chunks", "repetition_quality", "sequence_packing",
    "dedup_clusters", "dedup_canonical", "chunk_dedup_stats",
    "decontamination_report", "pq_search", "pq_build_stats",
    "ivf_build_stats", "kmeans_inertia_sweep", "semantic_dedup",
    "max_concurrency", "hierarchy_rollup", "shingle_novelty_daily",
    "bigram_logprob_quality", "gini_coefficient", "dup_span_coverage",
    "dup_span_excision_stats", "near_dup_decontamination",
    "split_leakage_audit", "bm25_topk", "hybrid_rrf_fusion",
    "fuzzy_dup_candidates", "bucketed_colocated_join",
    "bucketed_colocated_agg", "incremental_mv_maintenance",
    "streaming_incremental_mv", "streaming_incremental_dedup",
    "merge_upsert_risk", "bpe_vocab_train", "bpe_tokenize_stats",
    "wordpiece_tokenize_stats", "unigram_tokenize_stats",
]

#: grown table -> the keys it owns; copy i adds i * stride to each
KEYS = {
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id", "label"],
    "customer": ["c_custkey"],
    "orders": ["o_orderkey"],
    "lineitem": [],
}
#: foreign key -> the key whose stride it shares, so joins stay in one copy
REFS = {"o_custkey": "c_custkey", "l_orderkey": "o_orderkey"}

HOLDS_AT = 0.7
#: the sf0.1 fixtures, beside bench's sf0.001 warm-up set
BASE_DIR = os.path.join(os.path.dirname(WARMUP_DIR), "sf0.1")


def _strides(spark, base_dir: str) -> dict[str, int]:
    """Per key column: the smallest power of ten above the base's max.

    A power of ten keeps a key's low-order digits, so every copy has the
    base's profile of digit-prefix blocks (``fuzzy_dup_candidates``
    blocks ``Customer#%09d`` names on their first 16 characters, which
    group keys by ``key // 100``); the block count grows with the copies
    and the block size does not."""
    strides = {}
    for table, keys in KEYS.items():
        if keys:
            row = spark.read.parquet(os.path.join(base_dir, f"{table}.parquet")).agg(
                *[F.max(k).alias(k) for k in keys]
            ).first()
            strides.update({k: 10 ** len(str(row[k])) for k in keys})
    return {**strides, **{fk: strides[pk] for fk, pk in REFS.items()}}


def synthesize(spark, base_dir: str, mult: int, out_root: str) -> str:
    """Write every fixture table of ``base_dir`` to ``out_root/x{mult}``.

    The tables in ``KEYS`` hold ``mult`` copies: copy 0 is the base rows
    unchanged; copy i shifts each key into its own range, renumbers
    ``c_name`` inside its ``Customer#%09d`` format, gives every document
    token a letter-only suffix unique to i (new vocabulary for the
    ``[a-z]+`` tokenizers, a new prefix digest, no near-dups across
    copies; ``n_chars`` follows the text) and rotates each embedding by
    i coordinates.  The other tables are copied unchanged.  Each table
    keeps the schema the engine reads from the base and is built as one
    plan: a crossJoin with a copy-index range."""
    out = os.path.join(out_root, f"x{mult}")
    strides = _strides(spark, base_dir)
    copy = F.col("_copy")
    suffix = F.when(copy == 0, "").otherwise(
        F.translate(copy.cast("string"), "0123456789", "abcdefghij")
    )
    text = F.regexp_replace("text", r"(\S+)", F.concat(F.lit("$1"), suffix))
    grown_cols = {
        "c_name": F.format_string("Customer#%09d", F.col("c_custkey") + copy * strides["c_custkey"]),
        "text": text,
        "n_chars": F.length(text),
        "embedding": F.expr("transform(embedding, (x, j) -> embedding[int((j + _copy) % size(embedding))])"),
        **{k: F.col(k) + copy * s for k, s in strides.items()},
    }
    # Tables are read with the engine's reader, so every column keeps the
    # type the engine sees (events' ts is a TIMESTAMP, not the NTZ a raw
    # read infers; ts_ns is derived by that reader), and timestamps are
    # written as INT64 micros like the base files, not INT96, whose
    # columns get no parquet filter pushdown.
    ts_key = "spark.sql.parquet.outputTimestampType"
    ts_type = spark.conf.get(ts_key)
    spark.conf.set(ts_key, "TIMESTAMP_MICROS")
    try:
        for fname in sorted(os.listdir(base_dir)):
            table = fname.removesuffix(".parquet")
            base = load_table(spark, base_dir, table).drop("ts_ns")
            if table in KEYS:
                df = base.crossJoin(spark.range(mult).withColumnRenamed("id", "_copy")).select(
                    *[grown_cols.get(f.name, F.col(f.name)).cast(f.dataType).alias(f.name) for f in base.schema]
                ).repartition(mult)
            else:
                df = base
            df.write.parquet(os.path.join(out, fname))
    finally:
        spark.conf.set(ts_key, ts_type)
    return out


def fingerprint(df) -> frozenset:
    """The set of physical node types (ids and expressions stripped)."""
    nodes = set()
    for line in plan_text(df, "simple").splitlines():
        m = re.match(r"[\s:+\-*>\(\)\d]*([A-Za-z][A-Za-z0-9]+)", line)
        if m:
            nodes.add(m.group(1))
    return frozenset(nodes)


def ladder(spark, names: list[str], sf_dirs: dict[int, str]):
    """Yield one row per (entry, mult); the first multiple is the base."""
    m0 = next(iter(sf_dirs))
    for name in names:
        base = None
        for mult, sf_dir in sf_dirs.items():
            clear_memos()  # every step times a cold build
            try:
                t, df = time_entry(spark, name, sf_dir)
                fp = fingerprint(df)
            except Exception as exc:  # keep the ladder going
                yield {"entry": name, "mult": mult, "error": f"{type(exc).__name__}: {exc}"[:300]}
                continue
            finally:
                # heavy entries localCheckpoint intermediates whose
                # executor blocks are freed by the ContextCleaner only
                # after GC notices the dropped references; at 100x
                # volume, back-to-back entries in one JVM otherwise OOM
                # on blocks the PREVIOUS entry no longer needs (seen as
                # a dedup_canonical stage failure right after
                # dedup_clusters).  Nudge both collectors and give the
                # cleaner a beat to drain.
                df = None
                gc.collect()
                spark.sparkContext._jvm.System.gc()
                time.sleep(2)
            if mult == m0:
                base = (t, fp)
            rate = (mult / m0) * base[0] / t if base else None
            yield {
                "entry": name,
                "mult": mult,
                "s": round(t, 3),
                "rate_vs_base": round(rate, 2) if base else None,
                "holds": rate >= HOLDS_AT if base else None,
                "plan_stable": fp == base[1] if base else None,
            }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("names", nargs="*", default=DEFAULT_ENTRIES)
    ap.add_argument("--mults", nargs="+", type=int, default=[1, 4, 16])
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", BASE_DIR))
    args = ap.parse_args()
    unknown = [n for n in args.names if n not in REGISTRY]
    if unknown:
        sys.exit(f"unknown entries: {unknown}")

    spark = get_spark("scale_ladder")
    spark.sparkContext.setLogLevel("ERROR")
    warm_up(spark, args.names)
    out_root = tempfile.mkdtemp(prefix="scale_ladder_")
    try:
        sf_dirs = {m: synthesize(spark, args.sf_dir, m, out_root) for m in args.mults}
        for row in ladder(spark, args.names, sf_dirs):
            print(json.dumps(row), flush=True)
    finally:
        shutil.rmtree(out_root, ignore_errors=True)


if __name__ == "__main__":
    main()
