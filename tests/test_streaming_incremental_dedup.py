"""Batch-split invariance of the streaming continuous-crawl dedup
(operators/dedup.streaming_incremental_dedup_drain, round 15).

The production claim the oracle can only check at ONE slicing: the
final per-source accounting is independent of HOW the crawl batch was
micro-batched.  Here the same corpus drains as 1, 3, and 5 slices and
every slicing must produce identical totals — and those totals must
equal the one-shot batch computation (the incremental_dedup_ingest
shape) on the same digests.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datalakehouse_spark.io import load_table
from datalakehouse_spark.operators.dedup import (
    prefix_digest,
    streaming_incremental_dedup_drain,
)

SF = "/root/testdata/sf0.001"


def _one_shot(digests, batch_pred):
    """The batch form (registry entry incremental_dedup_ingest's
    DataFrame shape), as the invariance reference."""
    hist = digests.where(~batch_pred).select("digest").distinct()
    batch = digests.where(batch_pred)
    keep = batch.groupBy("digest").agg(F.min("doc_id").alias("__keep_id"))
    marked = batch.join(keep, "digest").join(
        hist.withColumn("__in_corpus", F.lit(1)), "digest", "left"
    )
    in_c = F.col("__in_corpus").isNotNull()
    first = F.col("doc_id") == F.col("__keep_id")
    return (
        marked.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_new"),
            F.sum(in_c.cast("long")).alias("n_dup_corpus"),
            F.sum((~in_c & ~first).cast("long")).alias("n_dup_batch"),
            F.sum((~in_c & first).cast("long")).alias("n_ingested"),
        )
        .orderBy("source")
    )


@pytest.mark.parametrize("n_slices", [1, 3, 5])
def test_drain_totals_are_slice_invariant(spark, tmp_path, n_slices):
    digests = load_table(spark, SF, "documents").select(
        "doc_id", "source", prefix_digest(F.col("text")).alias("digest")
    )
    pred = F.col("doc_id") % 4 == 3
    got = streaming_incremental_dedup_drain(
        spark, digests, str(tmp_path / f"d{n_slices}"), pred, n_slices=n_slices
    ).collect()
    want = _one_shot(digests, pred).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want], (
        f"n_slices={n_slices} drain diverged from the one-shot batch"
    )


def _near_dup_one_shot(spark, docs, pred):
    """One-shot bucket-membership reference for the near-dup drain."""
    from datalakehouse_spark.operators.dedup import (
        lsh_band_buckets,
        minhash_signatures_df,
    )

    base = docs.select("doc_id", "source", "text")
    buckets = lsh_band_buckets(minhash_signatures_df(base))
    ids = base.select("doc_id", "source")
    hb = (
        buckets.join(ids.where(~pred), "doc_id", "left_semi")
        .select("band", "key")
        .distinct()
    )
    bb = buckets.join(ids.where(pred), "doc_id", "left_semi")
    ch = (
        bb.join(hb, ["band", "key"], "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("__c", F.lit(1))
    )
    fb = bb.groupBy("band", "key").agg(F.min("doc_id").alias("__fid"))
    eh = (
        bb.join(fb, ["band", "key"])
        .where(F.col("__fid") < F.col("doc_id"))
        .select("doc_id")
        .distinct()
        .withColumn("__e", F.lit(1))
    )
    m = ids.where(pred).join(ch, "doc_id", "left").join(eh, "doc_id", "left")
    in_c = F.col("__c").isNotNull()
    in_e = F.col("__e").isNotNull()
    return (
        m.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_new"),
            F.sum(in_c.cast("long")).alias("n_dup_corpus"),
            F.sum((~in_c & in_e).cast("long")).alias("n_dup_batch"),
            F.sum((~in_c & ~in_e).cast("long")).alias("n_ingested"),
        )
        .orderBy("source")
    )


@pytest.mark.parametrize("n_slices", [1, 3, 5])
def test_near_dup_drain_totals_are_slice_invariant(spark, tmp_path, n_slices):
    """The seen-everything index claim: because every arrival's buckets
    are indexed (not only survivors'), the near-dup accounting is
    independent of micro-batch boundaries — which a survivor-only
    index could NOT guarantee (near-dup conflicts aren't transitive)."""
    from datalakehouse_spark.io import load_table
    from datalakehouse_spark.operators.dedup import streaming_near_dup_drain

    docs = load_table(spark, SF, "documents")
    pred = F.col("doc_id") % 4 == 3
    got = streaming_near_dup_drain(
        spark, docs, str(tmp_path / f"nd{n_slices}"), pred, n_slices=n_slices
    ).collect()
    want = _near_dup_one_shot(spark, docs, pred).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want], (
        f"n_slices={n_slices} near-dup drain diverged from one-shot"
    )


def test_near_dup_staged_serve_is_reusable(spark, tmp_path):
    """The round-16 build/serve split contract: one
    near_dup_index_stage, TWO drains from it into fresh roots — both
    must produce the one-shot totals (the staged inputs are read-only;
    all mutable state lives under the per-drain root)."""
    from datalakehouse_spark.operators.dedup import (
        near_dup_index_stage,
        streaming_near_dup_drain_staged,
    )

    docs = load_table(spark, SF, "documents")
    pred = F.col("doc_id") % 4 == 3
    hist_path, src = near_dup_index_stage(
        spark, docs, str(tmp_path / "stage"), pred, n_slices=3
    )
    want = [tuple(r) for r in _near_dup_one_shot(spark, docs, pred).collect()]
    for i in range(2):
        got = streaming_near_dup_drain_staged(
            spark, hist_path, src, str(tmp_path / f"drain{i}")
        ).collect()
        assert [tuple(r) for r in got] == want, f"drain {i} diverged"


def test_near_dup_session_index_stays_duplicate_free(spark, tmp_path):
    """ADVICE r15: bucket keys recurring across micro-batches (and keys
    already in the historical index) must not re-append — the session
    index carries each (band, key) at most once and never a key the
    historical index already covers, so per-trigger probe cost grows
    with DISTINCT new buckets, not with arrivals."""
    from datalakehouse_spark.operators.dedup import streaming_near_dup_drain
    from datalakehouse_spark.versioned import VersionedTable

    docs = load_table(spark, SF, "documents")
    pred = F.col("doc_id") % 4 == 3
    root = str(tmp_path / "ndidx")
    streaming_near_dup_drain(spark, docs, root, pred, n_slices=5)
    seen = VersionedTable(spark, root + "/seen").read()
    total = seen.count()
    assert total == seen.select("band", "key").distinct().count(), (
        "session LSH index accumulated duplicate (band, key) rows"
    )
    hist = spark.read.parquet(root + "/hist")
    overlap = seen.join(hist, ["band", "key"], "left_semi").count()
    assert overlap == 0, (
        "session index re-indexed buckets the historical index covers"
    )


def test_persist_mode_drains_release_their_per_trigger_frame(spark, tmp_path):
    """ROADMAP 6(d): under ``spark.graft.materialize=persist`` each
    trigger of both drains caches its classified frame; it is
    unpersisted once the trigger's commits land, so the cache does not
    grow with the stream (before the fix: +4 persistent RDDs per
    4-slice drain)."""
    from datalakehouse_spark.materialize import CONF_KEY
    from datalakehouse_spark.operators.dedup import streaming_near_dup_drain

    docs = load_table(spark, SF, "documents")
    digests = docs.select(
        "doc_id", "source", prefix_digest(F.col("text")).alias("digest")
    )
    pred = F.col("doc_id") % 4 == 3

    def cached() -> int:
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    spark.conf.set(CONF_KEY, "persist")
    try:
        before = cached()
        streaming_near_dup_drain(
            spark, docs, str(tmp_path / "nd"), pred, n_slices=4
        ).collect()
        assert cached() <= before, "near-dup drain left cached frames"
        streaming_incremental_dedup_drain(
            spark, digests, str(tmp_path / "ex"), pred, n_slices=4
        ).collect()
        assert cached() <= before, "exact drain left cached frames"
    finally:
        spark.conf.unset(CONF_KEY)
