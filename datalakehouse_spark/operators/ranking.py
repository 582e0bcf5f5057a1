"""Distributed global ranking — no single-partition WindowExec.

A global ``row_number()/ntile()/percent_rank()`` with an empty PARTITION BY
funnels every row through ONE task (Spark logs ``WindowExec: No Partition
Defined``) — the canonical scale-killer.  The reference sidesteps the
problem by never ranking globally (its queries are per-device,
README:160-214); the rebuild's analytics tier does rank globally, so it
needs the distributed form:

1. **Range-bucket** rows on the leading sort column using
   ``percentile_approx`` split points, sampled EAGERLY on the driver —
   the exact idiom Spark's own ``RangePartitioner`` /
   ``repartitionByRange`` uses for global sorts (a small up-front sample
   job whose result is embedded in the plan).  The splits are
   ``n_buckets - 1`` scalars; bucket id is a pure function of the VALUE
   against that literal array, so duplicate values always share a bucket
   and cross-bucket order is strict.
2. **Count buckets eagerly** — the per-bucket row counts are a
   ``<= n_buckets + 2``-row aggregate, collected in the same up-front
   phase and folded into literal offset maps.
3. **Rank locally** with a window PARTITIONED BY bucket — parallel,
   bounded partitions.  ``global_rank = literal_offset + local_rank``.

The result is identical to the single-partition window (the final order
key must be a total order — pass a unique tiebreak column) but every
stage is distributed; split-point *accuracy* only affects balance, never
correctness.  Because splits and counts are computed ONCE and embedded
as literals, correctness no longer depends on Spark's exchange reuse or
on ``percentile_approx``'s partition-order sensitivity: every consumer
of the returned plan sees byte-identical bucket boundaries and offsets.
The price is two small eager jobs at build time (sample + per-bucket
count), the same trade ``repartitionByRange`` makes — registry entries
built on this helper are therefore members of the documented eager-build
class (registered ``eager=True``, ``registry.QuerySpec``).

NULL leading values are bucketed explicitly to the window's default null
position (Spark: ASC ⇒ NULLS FIRST, DESC ⇒ NULLS LAST), so a nullable
range key ranks identically to the single-partition window instead of
silently collapsing into bucket 0 (the ``F.filter`` predicate would be
NULL for every split).

``cache=True`` materializes the bucketed frame once (eager
``localCheckpoint`` — bit-deterministic because bucket ids are a pure
function of the literal splits): the count job and the returned plan
both read the checkpoint instead of re-running the upstream
scan/aggregate, and the blocks are freed by the ContextCleaner when the
result is dropped — no caller-owned unpersist, no cache leak across
repeated builds in a long-lived driver.  At real scale prefer
``cache=False``: recomputing from the columnar scan beats materializing
the full-width frame.

Binding contract (the ``repartitionByRange`` property): the returned
plan embeds splits and counts OBSERVED AT BUILD TIME.  Consume it
against the same immutable dataset snapshot and a deterministic order
key; ranking a source that mutates between build and action — or a
non-deterministic key (``rand()``-derived) — yields offsets that no
longer describe the data (a row in an unseen bucket fails loudly via
ANSI ``element_at``).  Spark's own sampled range partitioning carries
the identical caveat.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "with_global_rank",
    "with_global_ranks",
    "with_prefix_max",
    "ntile_from_rank",
    "percent_rank_from_rank",
]


def _sample_splits(df: DataFrame, lead_col: str, n_buckets: int) -> list:
    """Driver-side split sampling (the ``repartitionByRange`` idiom).

    Returns ``<= n_buckets - 1`` ascending scalar split points for
    ``lead_col``; empty when the column is all-NULL or ``n_buckets <= 1``
    (degenerate single-bucket form — ``percentile_approx`` with an empty
    probe array returns NULL, which would NULL every bucket id).
    """
    if n_buckets <= 1:
        return []
    probs = F.array(*[F.lit(i / n_buckets) for i in range(1, n_buckets)])
    row = df.agg(
        F.percentile_approx(F.col(lead_col), probs, F.lit(10_000)).alias("s")
    ).first()
    vals = row["s"] if row is not None else None
    if vals is None:
        return []
    # percentile_approx never emits NULL elements for non-empty input,
    # but NaN can appear if the column is NaN-heavy; NaN split points
    # compare FALSE against everything and would shift real values into
    # bucket 0 — drop them (NaN rows themselves take the special branch).
    return [v for v in vals if v is not None and v == v]


def _bucket_col(lead_col: str, lead_asc: bool, splits: list, n_buckets: int) -> Column:
    """Literal-splits bucket id for ``lead_col`` (see module doc).

    Bucket id is a pure function of the value — equal values always
    co-bucket, so rows of bucket ``i`` sort strictly before every row of
    bucket ``j > i`` regardless of tiebreak columns.  Bucket ids are
    TRAVERSAL positions: bucket 0 is first in the requested order
    (smallest values for ASC, largest for DESC).  NULL leading values go
    to a dedicated bucket at the window default's null position —
    ``-1`` for ASC (NULLS FIRST), ``n_buckets`` for DESC (NULLS LAST).
    """
    if lead_asc:
        pred = lambda s: s < F.col(lead_col)  # noqa: E731
        null_bucket = F.lit(-1)  # ASC ⇒ NULLS FIRST: before bucket 0
        # Spark sorts NaN greater than every real value ⇒ last under ASC
        nan_bucket = F.lit(n_buckets)
    else:
        pred = lambda s: s > F.col(lead_col)  # noqa: E731
        null_bucket = F.lit(n_buckets)  # DESC ⇒ NULLS LAST: after the rest
        nan_bucket = F.lit(-1)  # NaN greatest ⇒ first under DESC
    # NaN comparisons are FALSE (not NULL), so without the explicit
    # branch every NaN would silently land in bucket 0 regardless of the
    # sort direction — same latent-corruption class as the NULL case
    special = F.when(F.col(lead_col).isNull(), null_bucket).when(
        # cast: isnan is only defined on float/double; integral leads
        # (e.g. microsecond keys) cast cleanly and are never NaN
        F.isnan(F.col(lead_col).cast("double")), nan_bucket
    )
    if not splits:
        return special.otherwise(F.lit(0))
    lits = F.array(*[F.lit(s) for s in splits])
    return special.otherwise(F.size(F.filter(lits, pred)))


def _offset_expr(offsets: Mapping[int, int]) -> Column:
    """``__bucket -> offset`` as a literal map lookup (≤ n_buckets + 2
    entries; every observed bucket id is a key by construction)."""
    if not offsets:
        return F.lit(0).cast("long")
    pairs = [x for k, v in offsets.items() for x in (F.lit(k), F.lit(v))]
    return F.element_at(F.create_map(*pairs), F.col("__bucket")).cast("long")


def with_global_rank(
    df: DataFrame,
    order: Sequence[tuple[str, bool]],
    rank_col: str = "global_rank",
    n_buckets: int = 64,
    cache: bool = False,
) -> DataFrame:
    """Add a 1-based global ``row_number`` over ``order`` without a
    single-partition window.

    ``order`` is ``[(column, ascending), ...]``; the full key must be a
    total order (include a unique tiebreak) and the LEADING column must
    be numeric — it is the range-bucketing key (NULLs rank at the window
    default's null position, see module doc).  Runs two small eager jobs
    at build time (split sample + bucket counts, the
    ``repartitionByRange`` trade).
    """
    return with_global_ranks(df, {rank_col: order}, n_buckets=n_buckets, cache=cache)


def with_global_ranks(
    df: DataFrame,
    orders: Mapping[str, Sequence[tuple[str, bool]]],
    n_buckets: int = 64,
    cache: bool = False,
) -> DataFrame:
    """Add several global ``row_number`` columns that share ONE
    range-bucketing pass.

    ``orders`` maps each output rank column to its order spec; every
    spec's LEADING column must be the same (directions may differ —
    e.g. rank by price DESC and price ASC off one bucketing, the
    ``ntile``+``percent_rank`` shape).  Buckets are computed once in
    ascending value order; a descending spec just traverses them in
    reverse, so its literal offsets sum the counts of HIGHER buckets.
    Each extra spec costs one partitioned sort — no new shuffle of
    ``df`` (all windows share the bucket partitioning) and no joins
    (offsets are literal map lookups).

    ``cache=True`` materializes the bucketed frame once via eager
    ``localCheckpoint`` — the count job and every per-spec window read
    the checkpoint, and its blocks are freed automatically when the
    result is dropped (no caller-owned unpersist).  Tradeoff:
    ``localCheckpoint`` TRUNCATES lineage and stores blocks only on
    executors, so an executor loss fails the job instead of
    recomputing; on a long-lived 1000-executor run prefer reliable
    ``checkpoint()`` (HDFS-backed) or plain persist-with-unpersist for
    results that must survive node churn — the same tradeoff applies
    to the other ``localCheckpoint`` sites (dedup connected
    components, decontamination gram cache).
    """
    specs = list(orders.items())
    if not specs:
        raise ValueError("orders must contain at least one rank spec")
    lead_col = specs[0][1][0][0]
    for rank_col, order in specs:
        if order[0][0] != lead_col:
            raise ValueError(
                f"every order must lead with {lead_col!r}; {rank_col!r} leads "
                f"with {order[0][0]!r}"
            )
    # Bucket in ASC value order once; per-spec traversal direction is
    # handled below when summing literal offsets.
    splits = _sample_splits(df, lead_col, n_buckets)
    bucketed = df.withColumn("__bucket", _bucket_col(lead_col, True, splits, n_buckets))
    if cache:
        # localCheckpoint, not persist: truncates lineage so the counts
        # job and each window spec read the materialized blocks, and —
        # unlike a persist whose handle callers must remember to
        # unpersist — the blocks are GC-freed with the result.  Bucket
        # ids are a pure function of the literal splits, so the
        # materialization is bit-deterministic.
        bucketed = bucketed.localCheckpoint(eager=True)
    counts = {
        r["__bucket"]: r["__n"]
        for r in bucketed.groupBy("__bucket")
        .agg(F.count(F.lit(1)).alias("__n"))
        .collect()
    }
    out = bucketed
    for i, (rank_col, order) in enumerate(specs):
        lead_asc = order[0][1]
        w = Window.partitionBy("__bucket").orderBy(*_order_cols(order))
        if lead_asc:
            offsets = {b: sum(n for bb, n in counts.items() if bb < b) for b in counts}
        else:
            # DESC traversal: higher ASC-bucket ids come first; the
            # NULL bucket (-1) is traversed last = NULLS LAST.
            offsets = {b: sum(n for bb, n in counts.items() if bb > b) for b in counts}
        out = out.withColumn(
            rank_col, (_offset_expr(offsets) + F.row_number().over(w)).cast("long")
        )
    out = out.drop("__bucket")
    return out


def _order_cols(order: Sequence[tuple[str, bool]]) -> list[Column]:
    return [F.col(c).asc() if asc else F.col(c).desc() for c, asc in order]


def with_prefix_max(
    df: DataFrame,
    order: Sequence[tuple[str, bool]],
    value_col: str,
    out_col: str = "prefix_max",
    n_buckets: int = 64,
) -> DataFrame:
    """Add ``MAX(value) OVER (ORDER BY ... ROWS UNBOUNDED PRECEDING TO 1
    PRECEDING)`` — the 2D-skyline sweep aggregate — without a
    single-partition window.

    Same eager-sampled bucketing as :func:`with_global_rank`: the
    running max splits into a bucket-local window (partitioned,
    parallel) combined with the max over all STRICTLY EARLIER buckets —
    a ``<= n_buckets + 2``-row aggregate collected eagerly and embedded
    as a literal prefix-max map.  First row globally gets NULL, matching
    the window form's empty-frame semantics.
    """
    lead_col, lead_asc = order[0]
    splits = _sample_splits(df, lead_col, n_buckets)
    bucketed = df.withColumn(
        "__bucket", _bucket_col(lead_col, lead_asc, splits, n_buckets)
    )
    w = (
        Window.partitionBy("__bucket")
        .orderBy(*_order_cols(order))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    bmax = {
        r["__bucket"]: r["__m"]
        for r in bucketed.groupBy("__bucket").agg(F.max(value_col).alias("__m")).collect()
    }

    def _spark_max(vals: list):
        """Spark's MAX over doubles ranks NaN above every real value;
        Python's max() is iteration-order-dependent with NaN — a bucket
        whose max is NaN must poison every later bucket's prefix, like
        the window form does."""
        for v in vals:
            if isinstance(v, float) and v != v:
                return v
        return max(vals)

    prev: dict[int, object] = {}
    for b in bmax:
        earlier = [bmax[bb] for bb in bmax if bb < b and bmax[bb] is not None]
        prev[b] = _spark_max(earlier) if earlier else None
    prev_lit = (
        F.element_at(
            F.create_map(*[x for k, v in prev.items() for x in (F.lit(k), F.lit(v))]),
            F.col("__bucket"),
        )
        if prev
        else F.lit(None)
    )
    return (
        bucketed.withColumn("__local_max", F.max(value_col).over(w))
        # greatest() skips NULLs: bucket-local empty frame and/or no
        # earlier bucket degrade exactly like the window's empty frame
        .withColumn(out_col, F.greatest("__local_max", prev_lit))
        .drop("__bucket", "__local_max")
    )


def ntile_from_rank(rank: Column, n: Column, k: int) -> Column:
    """SQL ``NTILE(k)`` computed arithmetically from a global rank.

    Standard NTILE semantics: with ``n`` rows, the first ``n % k`` tiles
    hold ``n div k + 1`` rows, the rest ``n div k``.  ``rank`` is the
    1-based position in the tile order; ``n`` the total row count (both
    long Columns).  ``floor(x/0)`` is NULL-safe SQL, and when
    ``n < k`` every rank lands in the first branch, so the base-0 case
    never divides.
    """
    base = F.floor(n / F.lit(k))
    rem = n % F.lit(k)
    cutoff = rem * (base + 1)
    return F.when(
        rank <= cutoff, F.floor((rank - 1) / (base + 1)) + 1
    ).otherwise(rem + F.floor((rank - 1 - cutoff) / base) + 1).cast("int")


def percent_rank_from_rank(rank: Column, n: Column) -> Column:
    """SQL ``PERCENT_RANK()`` from a global rank: ``(rank-1)/(n-1)``.

    ``rank`` must come from a TOTAL order (unique tiebreak), under which
    RANK == ROW_NUMBER.  Single-row input yields 0.0 per the SQL spec.
    """
    return F.when(n > 1, (rank - 1) / (n - 1)).otherwise(F.lit(0.0))
