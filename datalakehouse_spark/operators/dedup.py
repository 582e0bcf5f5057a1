"""Deduplication operators for LLM training-data pipelines.

Four tiers, trading recall for cost — all shuffle-lean by construction:

- exact: hash-groupBy on the raw text. One shuffle on a 64-bit-ish key.
- exact_normalized: same after whitespace/case canonicalization.
- MinHash + LSH: shingle -> K minhashes -> band buckets -> candidate
  pairs inside buckets only -> exact-Jaccard verify. The shuffle is on
  (band_id, band_hash), whose cardinality is bounded by the corpus —
  never the O(n²) pair space.
- SimHash: one 64-bit signature per doc (32-bit available for
  fixture-scale configs); near-dup PAIRING via block buckets
  (pigeonhole: distance <= n_blocks-1 implies an exact match on some
  block) + popcount verify — simhash_near_dup_pairs.

Hot buckets: both pairing tiers salt over-cap buckets by default —
members of a bucket larger than ``max_bucket_size`` are split into
ceil(size/cap) salted sub-buckets (left side hashed to one salt, right
side replicated across all salts), so every within-bucket pair is still
produced but no single join task exceeds ~size×cap pairs.  Recall
equals the uncapped join by construction; ``hot_bucket="drop"`` remains
for corpora where bounding total work matters more than recall.

Determinism: all hash functions derive from the java-hashCode
polynomial (functions/hashing.py), so every stage has a DuckDB-SQL twin
and reruns are reproducible — a requirement when a 100 TB dedup job
resumes after preemption.

MinHash math: h_i(s) = (a_i * u(s) + b_i) mod p, p = 2^31-1 (prime),
u(s) = 60-bit integer from the md5 prefix of the shingle; (a_i, b_i) are
fixed constants derived from i. Signature_i = min over shingles.

Hash-function choice: md5 — not java-hashCode — because (a) it is a
native codegen'd expression in Spark AND byte-identical in DuckDB (the
oracle twin parses the same hex prefix), and (b) the first implementation
(char-level polynomial via nested higher-order functions) was measured
at 16 ms/doc — interpreted per-char lambda evaluation re-run for each of
the 12 permutation columns.  md5 + explode + hash-aggregate keeps the
whole signature computation inside whole-stage codegen with map-side
partial MIN aggregation — the shape that scales to 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from datalakehouse_spark.functions.hashing import java_hashcode

MERSENNE_P = (1 << 31) - 1
N_PERM_DEFAULT = 12
BAND_SIZE_DEFAULT = 3  # 12 perms / 3 => 4 bands; jaccard ~0.5+ collides


def _spread(df: DataFrame) -> DataFrame:
    """Spread a small scan across cores WITHOUT forcing a full shuffle
    at scale.

    A one-file fixture corpus arrives as a single partition, serializing
    the shingle/token construction; an unconditional
    ``repartition(defaultParallelism)`` fixes that but inserts a full
    corpus shuffle even when a 100 TB scan already has thousands of
    natural splits.  Repartition ONLY when the current partitioning is
    narrower than the cluster parallelism — at real scale this is the
    identity and the scan's own splits are used."""
    p = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < p:
        return df.repartition(p)
    return df


def normalize_text(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")


def word_shingles(col: Column | str, k: int = 3) -> Column:
    """Distinct k-word shingles (array<string>) of the normalized text.

    Built-ins only: split -> transform over a sequence of start
    offsets -> slice+join -> array_distinct.
    """
    toks = F.split(normalize_text(col), " ")
    n = F.size(toks)
    starts = F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1)))
    shingle_at = lambda i: F.array_join(F.slice(toks, i, k), " ")  # noqa: E731
    return F.array_distinct(F.transform(starts, shingle_at))


def _perm_consts(i: int) -> tuple[int, int]:
    # fixed, odd, well-spread constants; same values in the SQL twin
    a = 2 * i + 1
    return (1_000_003 * a) % MERSENNE_P, (7_000_003 * (i + 1)) % MERSENNE_P


def md5_hash60(col: Column | str) -> Column:
    """60-bit bigint from the md5 hex prefix — cross-engine-identical
    (DuckDB: ('0x' || substr(md5(x), 1, 15))::BIGINT) and JVM-native."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the min-id representative of every exact-duplicate group."""
    keep = df.groupBy(F.col(text_col).alias("_t")).agg(F.min(id_col).alias(id_col))
    return df.join(keep, on=id_col, how="left_semi")


def dedup_exact_normalized(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    keyed = df.withColumn("_norm", normalize_text(text_col))
    keep = keyed.groupBy("_norm").agg(F.min(id_col).alias(id_col))
    return keyed.join(keep, on=id_col, how="left_semi").drop("_norm")


def shingle_frame(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3
) -> DataFrame:
    """One corpus scan -> ``(id, sh)``: the tokenize+shingle pass every
    MinHash consumer shares.  Null-text docs carry no signal for dedup —
    dropped instead of emitting NULL signatures that would bucket
    together."""
    return _spread(df.where(F.col(text_col).isNotNull())).select(
        F.col(id_col), word_shingles(text_col, k).alias("sh")
    )


def minhash_from_shingles(
    sh_df: DataFrame, id_col: str = "doc_id", n_perm: int = N_PERM_DEFAULT
) -> DataFrame:
    """Signatures from an already-MATERIALIZED :func:`shingle_frame`
    (a checkpoint/cached frame) — explode -> md5 -> K partial-MIN
    aggregates; the groupBy(id) shuffle carries one row per
    (doc, shingle) with map-side MIN combining, so network bytes are
    n_docs × K longs regardless of document length.

    Only for materialized inputs: on a LAZY plan the staged
    array projection + explode loses the fused-generator whole-stage
    pipeline of :func:`minhash_signatures_df` (measured ~4x slower at
    sf0.1) — call that instead when starting from text."""
    exploded = sh_df.select(
        F.col(id_col), F.explode("sh").alias("_shingle")
    ).withColumn("_h", md5_hash60("_shingle") % F.lit(MERSENNE_P))
    aggs = []
    for i in range(n_perm):
        a, b = _perm_consts(i)
        aggs.append(
            F.min((F.lit(a) * F.col("_h") + F.lit(b)) % F.lit(MERSENNE_P)).alias(f"mh{i}")
        )
    return exploded.groupBy(id_col).agg(*aggs)


def minhash_signatures_df(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n_perm: int = N_PERM_DEFAULT
) -> DataFrame:
    """(id, mh0..mh{K-1}) via explode -> md5 -> K partial-MIN aggregates.

    Everything codegen'd; the groupBy(id) shuffle carries one row per
    (doc, shingle) with map-side MIN combining, so network bytes are
    n_docs × K longs regardless of document length.  The generator
    expression stays FUSED (explode directly over the shingle
    transform): staging the array in its own projection breaks the
    whole-stage pipeline (see :func:`minhash_from_shingles`).
    """
    # null-text docs carry no signal for dedup — drop instead of
    # emitting NULL signatures that would bucket together
    df = _spread(df.where(F.col(text_col).isNotNull()))
    exploded = df.select(
        F.col(id_col), F.explode(word_shingles(text_col)).alias("_shingle")
    ).withColumn("_h", md5_hash60("_shingle") % F.lit(MERSENNE_P))
    aggs = []
    for i in range(n_perm):
        a, b = _perm_consts(i)
        aggs.append(
            F.min((F.lit(a) * F.col("_h") + F.lit(b)) % F.lit(MERSENNE_P)).alias(f"mh{i}")
        )
    return exploded.groupBy(id_col).agg(*aggs)


def _bucketed_pair_sides(
    rows: DataFrame,
    bucket_cols: list[str],
    id_col: str,
    max_bucket_size: int | None,
    hot_bucket: str,
    materialize_rows: bool = False,
) -> tuple[DataFrame, DataFrame, list[str]]:
    """Prepare (left, right, join_cols) for a within-bucket self-join
    with hot-bucket handling.

    ``hot_bucket="salt"`` (default): members of a bucket larger than
    the cap are split into m = ceil(size/cap) salted sub-buckets — the
    left side hashes each member to ONE salt, the right side replicates
    each member to ALL m salts (the standard skew-join split).  Every
    within-bucket pair is produced exactly once per bucket, so recall
    EQUALS the uncapped join; the largest single join task is ~cap×size
    pairs instead of size², and the replication factor is m on the
    over-cap buckets only (m=1 — zero overhead — below the cap).

    ``hot_bucket="drop"``: the round-3 behavior — over-cap buckets are
    removed entirely, bounding TOTAL work at a documented recall cost
    (members may still pair via their other bands/blocks).  For
    corpora where a degenerate bucket's size² pair space is itself the
    problem (100M identical boilerplate docs), drop is the right call;
    salting keeps recall but cannot shrink the inherent pair count.

    The bucket-size count is a window over the SAME partitioning the
    self-join shuffles on — one extra pass over already-shuffled rows,
    no second evaluation of the signature pipeline (a groupBy+join-back
    formulation recomputed the minhash stage per join side: measured
    2x at sf0.1).

    ``materialize_rows`` (round 17, guide §1.2): when the caller's
    ``rows`` carries an expensive upstream pipeline (the SimHash vote
    aggregate, the MinHash signature aggregate), the counted bucket
    frame is materialized ONCE so both self-join legs read it — the
    physical planner otherwise re-executes the whole upstream per leg
    (exchange reuse does not fire across the diverging salt
    projections; measured: the r17 before-plan of
    simhash_near_dup_pairs runs scan→explode→64-vote aggregate→window
    twice).  Callers that pass True run a materialization job at
    plan-build time and must be registered ``eager=True``.
    """
    from datalakehouse_spark.materialize import materialize

    if max_bucket_size is None:
        if materialize_rows:
            rows = materialize(rows)
        return rows, rows, list(bucket_cols)
    from pyspark.sql import Window

    w = Window.partitionBy(*bucket_cols)
    counted = rows.withColumn("_bs", F.count(F.lit(1)).over(w))
    if materialize_rows:
        counted = materialize(counted)
    if hot_bucket == "drop":
        kept = counted.where(F.col("_bs") <= max_bucket_size).drop("_bs")
        return kept, kept, list(bucket_cols)
    if hot_bucket != "salt":
        raise ValueError(f"hot_bucket must be 'salt' or 'drop', got {hot_bucket!r}")
    m = F.greatest(
        F.ceil(F.col("_bs") / F.lit(max_bucket_size)).cast("int"), F.lit(1)
    )
    left = counted.withColumn(
        "_salt", (md5_hash60(F.col(id_col).cast("string")) % m).cast("int")
    ).drop("_bs")
    right = counted.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), m - F.lit(1)))
    ).drop("_bs")
    return left, right, list(bucket_cols) + ["_salt"]


def lsh_band_buckets(
    sigs: DataFrame,
    id_col: str = "doc_id",
    n_perm: int = N_PERM_DEFAULT,
    band_size: int = BAND_SIZE_DEFAULT,
) -> DataFrame:
    """Signature frame -> the LSH bucket frame ``(id, band, key)``:
    one row per (doc, band), key = the band's signature slice joined
    with '_'.  The bucket frame is what every LSH consumer joins on —
    the pair finder (:func:`lsh_candidate_pairs`) self-joins it, the
    streaming ingest (:func:`streaming_near_dup_drain`) probes a
    persisted index of it."""
    n_bands = n_perm // band_size
    return sigs.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            "_", *[F.col(f"mh{b * band_size + j}") for j in range(band_size)]
                        ).alias("key"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select(id_col, "bk.band", "bk.key")


def lsh_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_perm: int = N_PERM_DEFAULT,
    band_size: int = BAND_SIZE_DEFAULT,
    max_bucket_size: int | None = None,
    hot_bucket: str = "salt",
) -> DataFrame:
    """MinHash-LSH candidate pairs (id_a < id_b), deduplicated across bands.

    Scale: explode to (doc, band, band_key) — n_docs × n_bands rows —
    then a self-equi-join on (band, band_key). The join key is the LSH
    bucket, so the shuffle moves each doc n_bands times, never the pair
    space. Hot buckets (boilerplate-heavy corpora) are the skew risk:
    over-cap buckets are salted into bounded sub-joins by default —
    see :func:`_bucketed_pair_sides` for the salt-vs-drop trade.
    """
    sigs = minhash_signatures_df(df, text_col, id_col, n_perm)
    bands = lsh_band_buckets(sigs, id_col, n_perm, band_size)
    lhs, rhs, join_cols = _bucketed_pair_sides(
        bands, ["band", "key"], id_col, max_bucket_size, hot_bucket
    )
    left = lhs.select(F.col(id_col).alias("id_a"), *join_cols)
    right = rhs.select(F.col(id_col).alias("id_b"), *join_cols)
    return (
        left.join(right, join_cols)
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def _jaccard_on_shingles(sh: DataFrame, pairs: DataFrame, id_col: str) -> DataFrame:
    """Exact Jaccard of candidate pairs against a prepared
    :func:`shingle_frame`-shaped ``(id, sh)`` frame."""
    a = sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    joined = pairs.join(a, "id_a").join(b, "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return joined.select(
        "id_a",
        "id_b",
        F.round(inter / F.greatest(union, F.lit(1)), 6).alias("jaccard"),
    )


def jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """Exact k-shingle Jaccard for candidate pairs (verify stage)."""
    sh = _spread(df).select(F.col(id_col), word_shingles(text_col, k).alias("sh"))
    return _jaccard_on_shingles(sh, pairs, id_col)


def near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.6,
    max_bucket_size: int | None = 1000,
    hot_bucket: str = "salt",
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: candidates -> verify -> filter.

    ``max_bucket_size`` is ON by default: a boilerplate-heavy corpus can
    put a huge fraction of documents into one band bucket, and the band
    self-join then goes quadratic in a SINGLE task — the one way this
    pipeline dies at 100 TB.  Over-cap buckets are salted into bounded
    sub-joins (recall == uncapped, no straggler task); pass
    ``hot_bucket="drop"`` to bound total work instead, or
    ``max_bucket_size=None`` to disable the guard.

    Round 16 (guide §1.2, §8): the tokenize+shingle corpus pass is
    computed ONCE and materialized (:func:`shingle_frame` +
    ``localCheckpoint``); signatures derive from it and BOTH verify
    legs read it, where the previous form re-tokenized the corpus for
    the candidate stage and once per verify leg — three scans of the
    heaviest projection down to one.  The checkpoint is (id, shingles):
    the same bytes the verify stage must hold anyway, spilled to local
    disk when it outgrows storage memory."""
    from datalakehouse_spark.materialize import materialize

    sh = materialize(shingle_frame(df, text_col, id_col))
    sigs = minhash_from_shingles(sh, id_col)
    bands = lsh_band_buckets(sigs, id_col)
    # Round 17: the counted band frame is materialized too — both
    # candidate legs otherwise re-run the 12-way MIN aggregate + band
    # explode + window from the shingle checkpoint (one evaluation
    # each); see _bucketed_pair_sides(materialize_rows=...).
    lhs, rhs, join_cols = _bucketed_pair_sides(
        bands, ["band", "key"], id_col, max_bucket_size, hot_bucket,
        materialize_rows=True,
    )
    cands = (
        lhs.select(F.col(id_col).alias("id_a"), *join_cols)
        .join(rhs.select(F.col(id_col).alias("id_b"), *join_cols), join_cols)
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    return _jaccard_on_shingles(sh, cands, id_col).where(
        F.col("jaccard") >= threshold
    )


MIN_LONG = -(1 << 63)


def simhash_df(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n_bits: int = 64
) -> DataFrame:
    """SimHash per document: (id, simhash), 64-bit by default.

    bit_j(sig) = 1 iff sum over tokens of (+1 if bit_j(hash(tok)) else -1)
    is positive; token bits 0-31 come from the md5-prefix integer
    (hex chars 1-15), bits 32-63 from a second disjoint md5 slice
    (hex chars 17-31) — both cross-engine-identical with DuckDB.

    The signature is a SIGNED bigint: bit 63 is encoded by adding
    MIN_LONG (two's complement), which both engines compute with plain
    integer arithmetic — no unsigned-64 type needed.  Hamming distance
    stays bit_count(xor(a, b)) and block extraction stays
    (sig >> shift) & mask; both are sign-agnostic.

    Shape: explode tokens -> one hash-aggregate with n_bits
    conditional-sum columns (all codegen'd, map-side partials) ->
    recombine bits. Same two-stage plan at any scale; the shuffle
    carries n_bits longs per doc.  ``n_bits=32`` keeps the round-4
    fixture config (bit-identical to the old default).
    """
    if n_bits not in (32, 64):
        raise ValueError(f"n_bits must be 32 or 64, got {n_bits}")
    df = _spread(df.where(F.col(text_col).isNotNull()))
    tok = df.select(
        F.col(id_col), F.explode(F.split(normalize_text(text_col), " ")).alias("_t")
    ).withColumn("_md5", F.md5("_t"))
    hcols = [
        (F.conv(F.substring("_md5", 1, 15), 16, 10).cast("bigint") % F.lit(1 << 32)).alias(
            "_h_lo"
        )
    ]
    if n_bits == 64:
        hcols.append(
            (
                F.conv(F.substring("_md5", 17, 15), 16, 10).cast("bigint")
                % F.lit(1 << 32)
            ).alias("_h_hi")
        )
    tok = tok.select(F.col(id_col), *hcols)

    def _bit(j: int) -> Column:
        src = F.col("_h_lo") if j < 32 else F.col("_h_hi")
        return F.shiftright(src, j % 32).bitwiseAND(F.lit(1))

    # Round 17 (guide §1.2 per-task work): the vote is counted as a
    # plain bit SUM per position plus one token count — votes_j =
    # sum(±1) = 2*sum(bit_j) - n, so "votes_j > 0" is exactly
    # "2*sum(bit_j) > n".  This removes 64 CASE WHEN branches per input
    # row from the hot aggregate (the widest per-row expression in the
    # corpus tier); values are bit-identical by the algebra above.
    votes = tok.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("_n"),
        *[F.sum(_bit(j)).alias(f"s{j}") for j in range(n_bits)],
    )
    sig = None
    for j in range(n_bits):
        bitval = MIN_LONG if j == 63 else (1 << j)
        term = F.when(
            F.col(f"s{j}") * 2 > F.col("_n"), F.lit(bitval).cast("bigint")
        ).otherwise(F.lit(0).cast("bigint"))
        sig = term if sig is None else sig + term
    return votes.select(F.col(id_col), sig.alias("simhash"))


def simhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_blocks: int = 4,
    max_hamming: int | None = None,
    max_bucket_size: int | None = 1000,
    n_bits: int = 64,
    hot_bucket: str = "salt",
) -> DataFrame:
    """SimHash near-dup PAIRING: (id_a, id_b, hamming) for every pair
    within ``max_hamming`` bits (default n_blocks-1 = 3).

    Mechanism (the block-bucket form of rotated-prefix probing): split
    the signature into ``n_blocks`` equal blocks.  By pigeonhole,
    any pair within Hamming distance n_blocks-1 agrees EXACTLY on at
    least one block, so candidates = pairs sharing a (block_id,
    block_value) bucket — a self-equi-join on the bucket key, never the
    O(n²) pair space — then one integer popcount on the XOR verifies
    the exact distance.  Because candidate recall is exhaustive at
    max_hamming <= n_blocks-1, the RESULT equals the full quadratic
    scan's (the oracle computes that directly).

    Defaults (round 5): 64-bit signatures with 16-bit blocks — 65 536
    bucket values per block, so bucket occupancy stays ~n/65 536 even
    on a 100 TB corpus (the round-4 32-bit/4-block config had 256
    values per block: every bucket held ~n/256 docs at scale and the
    cap degenerated into dropping MOST of the corpus).  32-bit remains
    for fixture-scale configs.  Residual over-cap buckets are salted,
    not dropped — see :func:`_bucketed_pair_sides`.
    """
    if max_hamming is None:
        max_hamming = n_blocks - 1
    if n_bits % n_blocks:
        raise ValueError(f"n_blocks {n_blocks} must divide n_bits {n_bits}")
    sigs = simhash_df(df, text_col, id_col, n_bits=n_bits)
    block_bits = n_bits // n_blocks
    mask = (1 << block_bits) - 1
    blocks = sigs.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("block"),
                        F.shiftright(F.col("simhash"), i * block_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("key"),
                    )
                    for i in range(n_blocks)
                ]
            )
        ).alias("bk"),
    ).select(id_col, "simhash", "bk.block", "bk.key")
    # Round 17 (guide §1.2): materialize the counted bucket frame so
    # both self-join legs read ONE evaluation of the vote aggregate —
    # the before-plan ran scan→token explode→64-sum aggregate→window
    # TWICE (no exchange reuse across the diverging salt projections).
    # This makes the entry an eager-build (shared-scan materialization
    # shape, registered eager=True).
    lhs, rhs, join_cols = _bucketed_pair_sides(
        blocks, ["block", "key"], id_col, max_bucket_size, hot_bucket,
        materialize_rows=True,
    )
    a = lhs.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sig_a"), *join_cols
    )
    b = rhs.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sig_b"), *join_cols
    )
    cands = (
        a.join(b, join_cols)
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sig_a", "sig_b")
        .distinct()
    )
    ham = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).cast("int")
    return (
        cands.select("id_a", "id_b", ham.alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
    )


def _star_contraction(edges: DataFrame, max_rounds: int = 60) -> DataFrame:
    """Alternating large-star/small-star connected components — the
    provably-converging escalation path for :func:`connected_components`
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14; public algorithm, also the basis of GraphFrames' CC).

    ``edges`` is a SYMMETRIC ``(s, d)`` pair frame.  Each round:

    * **large-star**: every node ``u`` links each STRICTLY LARGER
      neighbor to ``min(N(u) ∪ {u})`` — monotone, cannot create cycles;
    * **small-star**: every node ``u`` links each not-larger neighbor
      and itself to the minimum of that set — contracts chains.

    The edge set converges to a star forest whose centers are the
    component minima in O(log² n) rounds regardless of diameter (vs
    pointer-jumping's O(log diameter) WITH a correct-convergence bound
    only when iterations suffice).  Returns ``(nid, label)`` — label =
    component minimum — for every node appearing in ``edges``.
    """

    def _sym(e: DataFrame) -> DataFrame:
        return (
            e.unionByName(e.select(F.col("d").alias("s"), F.col("s").alias("d")))
            .where(F.col("s") != F.col("d"))
            .distinct()
        )

    def _fp(e: DataFrame) -> tuple:
        """Order-insensitive edge-set fingerprint (count + hash sum):
        ONE scan-side aggregate, no join.  Equal sets always fingerprint
        equal, so gating the exact (exceptAll) fixpoint verification on
        a fingerprint match can never miss convergence — it only skips
        the expensive probes on rounds that certainly changed."""
        r = e.agg(
            F.count(F.lit(1)).alias("n"),
            # decimal staging: a long sum of 64-bit hashes overflows
            # under ANSI; decimal(38,0) is exact at any edge count
            F.sum(F.xxhash64("s", "d").cast("decimal(38,0)")).alias("h"),
        ).first()
        return (r["n"], r["h"])

    e = _sym(edges).localCheckpoint(eager=True)
    fp_e = _fp(e)
    converged = False
    for _ in range(max_rounds):
        # large-star: per u over ALL neighbors, m = min(neighbors, u);
        # emit (v, m) for v > u
        m = e.groupBy("s").agg(F.least(F.min("d"), F.first("s")).alias("m"))
        large = (
            e.join(m, "s")
            .where(F.col("d") > F.col("s"))
            .select(F.col("d").alias("s"), F.col("m").alias("d"))
        )
        e2 = _sym(large).localCheckpoint(eager=True)
        # small-star: per u over neighbors v < u plus u itself,
        # m = min; emit (v, m) for every member of the small set
        small_nbrs = e2.where(F.col("d") < F.col("s"))
        ms = small_nbrs.groupBy("s").agg(F.min("d").alias("m"))
        small = (
            small_nbrs.join(ms, "s")
            .select(F.col("d").alias("s"), F.col("m").alias("d"))
            .unionByName(ms.select(F.col("s"), F.col("m").alias("d")))
        )
        e3 = _sym(small).localCheckpoint(eager=True)
        # fixpoint of BOTH operations (the paper's terminal state: a
        # star forest centered at component minima).  The exact
        # exceptAll probes are the expensive part of a round, so they
        # only run when the cheap fingerprints say e == e2 == e3 is
        # plausible; each probe is then a LIMIT 1 existence check.
        fp2, fp3 = _fp(e2), _fp(e3)
        if fp_e == fp2 == fp3:
            changed = (
                e2.exceptAll(e).limit(1).count()
                + e.exceptAll(e2).limit(1).count()
                + e3.exceptAll(e2).limit(1).count()
                + e2.exceptAll(e3).limit(1).count()
            )
            if changed == 0:
                e = e3
                converged = True
                break
        e, fp_e = e3, fp3
    if not converged:
        # the contraction is the BACKSTOP — returning min-over-neighbor
        # labels from a non-fixpoint edge set would be exactly the
        # silent-split-labels failure this function exists to prevent,
        # so exhaustion is loud.  60 alternating rounds cover any graph
        # a driver can hold (a path of n nodes converges in ~log2(n)
        # rounds: 17 at 1e5 nodes, 19 at 1.6e6, measured).
        raise RuntimeError(
            f"large-star/small-star contraction did not reach its fixpoint "
            f"within {max_rounds} rounds; raise max_rounds"
        )
    # star forest: each node's label is the min over itself and its
    # neighbors (centers label themselves)
    return e.groupBy(F.col("s").alias("nid")).agg(
        F.least(F.min("d"), F.first("s")).alias("label")
    )


def connected_components(
    nodes: DataFrame,
    pairs: DataFrame,
    id_col: str = "id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iters: int = 20,
    pointer_jump: bool = True,
    escalate: bool = True,
) -> DataFrame:
    """Min-label propagation connected components over an undirected
    pair list — the dedup-clustering step that turns near-dup PAIRS
    into dedup GROUPS (transitive closure: A~B, B~C => one cluster).

    Each iteration: every node takes the min label among itself and its
    neighbors, then (``pointer_jump``, default on) replaces its label
    with its LABEL'S label — path doubling, the pointer-jumping trick
    from PRAM/large-star CC.  A label is always a node id, so the jump
    is one self-join of the label table; it halves the remaining
    propagation distance each round, making convergence O(log diameter)
    instead of O(diameter).  max_iters=20 then covers components of
    diameter ~2^20 rather than 20 — a 1M-doc boilerplate CHAIN
    converges instead of tripping the non-convergence warning.  The
    fixpoint (min node id per component) is unique, so the result is
    deterministic no matter the execution order.

    Scale posture: per iteration one edge join keyed on node id + one
    hash aggregate + one label self-join (node-count sized) — the
    standard Pregel-style CC at 100 TB.  ``localCheckpoint`` truncates
    lineage so iteration N doesn't re-derive iterations 1..N-1, and
    the convergence probe is a LIMIT 1 existence check, not a full
    count.
    """
    # materialize the pair graph ONCE: `pairs` is typically the lazy
    # near-dup pipeline (LSH bucket join + verify), and without a
    # checkpoint every propagation round — and every convergence probe —
    # would re-execute that whole pipeline (measured 3.4x the total cost
    # at 16x corpus; `tools/scale_ladder.py dedup_clusters` re-measures)
    from datalakehouse_spark.materialize import materialize

    edges = materialize(
        pairs.select(F.col(src_col).alias("s"), F.col(dst_col).alias("d"))
        .unionByName(pairs.select(F.col(dst_col).alias("s"), F.col(src_col).alias("d")))
    )
    # loop-internal label checkpoints below stay bare localCheckpoint:
    # node-sized, and the iteration contract (truncate lineage every
    # round) is what the loop is built on — the materialize() policy
    # covers the one-shot corpus-sized frames
    labels = nodes.select(
        F.col(id_col).alias("nid"), F.col(id_col).alias("label")
    ).localCheckpoint(eager=True)
    converged = False
    for _ in range(max_iters):
        nbr = edges.join(labels, edges.s == labels.nid).select(
            F.col("d").alias("nid"), "label"
        )
        new = (
            labels.unionByName(nbr)
            .groupBy("nid")
            .agg(F.min("label").alias("label"))
        )
        if pointer_jump:
            # label <- label's label (labels are node ids, so the jump
            # is one keyed lookup).  Resolve through the PREVIOUS
            # round's checkpointed table rather than a self-join of
            # `new` — distinct plan, so no self-join attribute
            # ambiguity — which still gives the geometric contraction:
            # on a path graph the distance-to-min follows
            # a_{k+1} = 2*a_k + 1, i.e. 2^k - 1 after k rounds.
            # Min-monotone, so the fixpoint is unchanged.
            prev = labels.select(
                F.col("nid").alias("p_nid"), F.col("label").alias("p_label")
            )
            new = new.join(prev, new.label == prev.p_nid, "left").select(
                "nid", F.least(F.coalesce("p_label", "label"), F.col("label")).alias("label")
            )
        new = new.localCheckpoint(eager=True)
        changed = (
            new.alias("n")
            .join(labels.alias("o"), "nid")
            .where(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels = new
        if changed == 0:
            converged = True
            break
    if not converged:
        # a component whose min-label propagation distance exceeds
        # max_iters would carry SPLIT labels (wrong dedup groups,
        # divergent from the oracle's exact transitive closure).
        # Round-8 escalation: instead of warn-and-return-wrong, finish
        # with the provably-converging large-star/small-star rounds,
        # seeded with the partial labels as shortcut edges (labels are
        # min-monotone, so every (nid, label) pair stays inside its
        # component — the partial work is kept, not discarded).
        import warnings

        warnings.warn(
            f"connected_components did not converge within {max_iters} "
            "pointer-jumping iterations; escalating to large-star/"
            "small-star contraction"
            if escalate
            else f"connected_components did not converge within {max_iters} "
            "iterations; components with larger propagation distance carry "
            "split labels. Raise max_iters or pass escalate=True.",
            RuntimeWarning,
            stacklevel=2,
        )
        if escalate:
            seeded = edges.unionByName(
                labels.select(F.col("nid").alias("s"), F.col("label").alias("d"))
            )
            star = _star_contraction(seeded)
            # singletons (and already-rooted nodes whose only pair was a
            # self-loop) drop out of the edge frame — default to self
            labels = (
                labels.select("nid")
                .join(star, "nid", "left")
                .select("nid", F.coalesce("label", "nid").alias("label"))
            )
    return labels.select(F.col("nid").alias(id_col), "label")


def dedup_clusters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.6,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """Near-dup dedup groups: MinHash-LSH pairs -> connected components.

    Output one row per document: ``(doc_id, cluster, is_canonical)``
    where ``cluster`` is the min doc id of the component and the
    canonical doc (the one a dedup pass would KEEP) is that minimum.
    Singletons are their own cluster.
    """
    prs = near_dup_pairs(df, text_col, id_col, threshold, max_bucket_size)
    cc = connected_components(
        df.select(id_col), prs, id_col=id_col, src_col="id_a", dst_col="id_b"
    )
    return cc.select(
        F.col(id_col),
        F.col("label").alias("cluster"),
        (F.col("label") == F.col(id_col)).alias("is_canonical"),
    )


def dedup_canonical(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.6,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """Quality-aware canonical selection: one kept document per
    near-dup cluster, chosen by quality score (not min id).

    The standard corpus-dedup pass: cluster near-dups
    (:func:`dedup_clusters`), score every document
    (``textstats.quality_score``), and within each cluster KEEP the
    highest-quality document (ties broken by min id so the choice is
    total-ordered).  Output one row per cluster:
    ``(cluster, keep_id, keep_quality, n_docs)`` — ``n_docs - 1`` is
    the number of near-dups a materializing pass would drop.

    Scale shape: the cluster labels cost what dedup_clusters costs; the
    quality join shuffles on the doc id once, and BOTH per-cluster
    computations (rank + size) share a single window partitioning on
    ``cluster`` — one extra shuffle total, no per-cluster collect.
    Clusters are near-dup components, bounded by the LSH bucket cap, so
    no window partition is degenerate.
    """
    from pyspark.sql import Window

    from datalakehouse_spark.operators.textstats import quality_score

    clusters = dedup_clusters(df, text_col, id_col, threshold, max_bucket_size)
    q = quality_score(df, text_col).select(id_col, "quality_score")
    joined = clusters.join(q, id_col)
    by_cluster = Window.partitionBy("cluster")
    ranked = joined.select(
        "cluster",
        F.col(id_col),
        F.col("quality_score"),
        F.row_number()
        .over(by_cluster.orderBy(F.col("quality_score").desc(), F.col(id_col).asc()))
        .alias("rn"),
        F.count(F.lit(1)).over(by_cluster).alias("n_docs"),
    )
    return ranked.where(F.col("rn") == 1).select(
        "cluster",
        F.col(id_col).alias("keep_id"),
        F.col("quality_score").alias("keep_quality"),
        "n_docs",
    )


def _chunk_hashes(toks: Column, chunk_tokens: int) -> Column:
    """Non-overlapping ``chunk_tokens``-token chunk digests of a token
    array (md5 of the space-joined chunk — cross-engine stable)."""
    n_chunks = F.ceil(F.size(toks) / F.lit(chunk_tokens)).cast("int")
    return F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.md5(
            F.array_join(F.slice(toks, i * chunk_tokens + 1, chunk_tokens), " ")
        ),
    )


def chunk_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 16,
) -> DataFrame:
    """Sub-document exact dedup at chunk granularity (the scalable
    Spark analog of C4's duplicate-line removal / RefinedWeb's
    exact-substring dedup): split every document into non-overlapping
    token chunks, keep each distinct chunk's FIRST occurrence
    corpus-wide (min (doc_id, chunk_idx)), report per doc how much
    survives: ``(doc_id, n_chunks, n_kept, dup_ratio)``.

    Scale shape: explode -> ONE hash aggregate keyed on the chunk
    digest with map-side partials (NOT a window over the digest — a
    boilerplate chunk shared by millions of docs would make that
    window's partition a straggler; min(struct) partials never skew),
    then an equi join back on the digest and a doc-keyed agg.
    """
    from datalakehouse_spark.operators.textstats import tokens

    chunks = df.select(
        F.col(id_col),
        F.posexplode(_chunk_hashes(tokens(text_col), chunk_tokens)).alias(
            "chunk_idx", "h"
        ),
    )
    firsts = chunks.groupBy("h").agg(
        F.min(F.struct(id_col, "chunk_idx")).alias("first_occ")
    )
    kept = chunks.join(firsts, "h").select(
        F.col(id_col),
        (F.struct(id_col, "chunk_idx") == F.col("first_occ")).cast("long").alias("kept"),
    )
    return kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum("kept").alias("n_kept"),
        F.round(1.0 - F.sum("kept") / F.count(F.lit(1)), 6).alias("dup_ratio"),
    )


def _ngram_hashes(toks: Column, n: int) -> Column:
    """Overlapping word-``n``-gram digests; empty for docs shorter
    than ``n`` tokens."""
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.md5(F.array_join(F.slice(toks, i, n), " ")),
        ),
    ).otherwise(F.array().cast("array<string>"))


def decontaminate(
    train: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 8,
) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    word-``ngram`` with the benchmark/eval set (the GPT-3/PaLM-style
    n-gram-overlap contamination check).  Returns ``train`` plus a
    boolean ``contaminated`` column.

    Scale shape: the benchmark side (eval suites — small by
    definition) collapses to DISTINCT n-gram digests and BROADCASTS;
    the training corpus explodes to (doc, digest) once and LEFT SEMI
    joins the broadcast — no shuffle of the corpus, no all-pairs
    comparison.  Corpus cost is one scan + one doc-keyed distinct.
    """
    from datalakehouse_spark.operators.textstats import tokens

    bench_grams = (
        benchmark.select(F.explode(_ngram_hashes(tokens(text_col), ngram)).alias("h"))
        .distinct()
    )
    train_grams = train.select(
        F.col(id_col), F.explode(_ngram_hashes(tokens(text_col), ngram)).alias("h")
    )
    flagged = (
        train_grams.join(F.broadcast(bench_grams), "h", "left_semi")
        .select(id_col)
        .distinct()
        .withColumn("contaminated", F.lit(True))
    )
    return train.join(flagged, id_col, "left").withColumn(
        "contaminated", F.coalesce(F.col("contaminated"), F.lit(False))
    )


def decontamination_flags(
    docs: DataFrame,
    bench_pred: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 8,
) -> DataFrame:
    """Single-scan decontamination for the common case where the
    benchmark split is a PREDICATE over the same corpus table (holdout
    suites staged alongside training data).

    :func:`decontaminate` tokenizes the table twice — once under the
    bench filter, once under its complement.  Here the corpus is
    tokenized ONCE into a gram frame tagged ``is_bench`` and persisted
    for the duration of the call; the bench side collapses to DISTINCT
    digests and broadcasts, the train side semi-joins the broadcast —
    tokenization cost is paid a single time and the corpus still never
    shuffles for the check.  Returns ``(id_col, contaminated)`` for
    flagged TRAINING docs only — doc-level, tiny next to the gram
    frame — eagerly materialized via ``localCheckpoint`` so the
    corpus-sized gram cache is unpersisted BEFORE returning: the
    caller receives a lineage-free frame and owns no cleanup (no cache
    leak across repeated invocations in a long-lived driver; the
    checkpoint blocks are freed by the ContextCleaner once the result
    is dropped).  Join it back to a column-pruned scan for doc-level
    attributes (cheap: no re-tokenization).  At 100 TB with a
    separately-staged eval suite, prefer :func:`decontaminate`: its
    bench scan is tiny and nothing corpus-sized needs caching.
    """
    from datalakehouse_spark.operators.textstats import tokens

    from pyspark import StorageLevel

    grams = docs.select(
        F.col(id_col),
        bench_pred.alias("is_bench"),
        F.explode(_ngram_hashes(tokens(text_col), ngram)).alias("h"),
        # MEMORY_AND_DISK (round 17, VERDICT r16 #5): eviction of an
        # oversized gram frame under MEMORY_ONLY silently RECOMPUTED
        # the heaviest projection (tokenize+explode) for the second
        # consumer; disk-backed blocks keep the one-pass contract while
        # remaining recomputable (digests are deterministic).  Released
        # in the finally below.
    ).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        bench_grams = grams.where(F.col("is_bench")).select("h").distinct()
        out = (
            grams.where(~F.col("is_bench"))
            .join(F.broadcast(bench_grams), "h", "left_semi")
            .select(id_col)
            .distinct()
            .withColumn("contaminated", F.lit(True))
            # eager: both reads of the persisted gram frame (bench
            # distinct + train semi-join) run NOW, against the cache
            .localCheckpoint(eager=True)
        )
    finally:
        grams.unpersist()
    return out


def prefix_digest(text_col: Column | str, n_tokens: int = 5) -> Column:
    """The continuous-ingest index key: md5 of the first ``n_tokens``
    normalized tokens.  Crawl boilerplate shares its opening tokens far
    more often than its full body, so the prefix digest is what a
    continuous-ingest dedup keeps (full-body digests live in
    dedup_exact_normalized).  Shared by ``incremental_dedup_ingest``
    and its streaming twin."""
    return F.md5(
        F.array_join(F.slice(F.split(normalize_text(text_col), " "), 1, n_tokens), " ")
    )


def _restage_ascending(batch: DataFrame, src: str, n_slices: int) -> None:
    """Fixture plumbing for the streaming-ingest twins: write ``batch``
    as ``n_slices`` ASCENDING doc_id ranges with strictly increasing
    mtimes, so the file source's (mtime, path) ordering replays arrival
    == ascending doc_id — the property that makes first-arrival coincide
    with min(doc_id) and the drain's totals batch-split invariant.

    Round 16 (guide §2.4): ONE range-partitioned write job replaces the
    previous global ntile window (a single-task sort) plus ``n_slices``
    sequential ``coalesce(1)`` write jobs.  Any ascending disjoint
    split satisfies the invariance contract, so the exact slice
    boundaries (ntile quantiles vs range-sampler boundaries) are free
    to differ; part files of one job sort by partition index, so the
    mtime stamp walks the ranges in doc_id order.  Production streams
    arrive already micro-batched."""
    import os as _os

    batch.repartitionByRange(max(n_slices, 1), "doc_id").write.mode(
        "overwrite"
    ).parquet(src)
    files = sorted(n for n in _os.listdir(src) if n.endswith(".parquet"))
    for i, name in enumerate(files, start=1):
        _os.utime(
            _os.path.join(src, name), (1_700_000_000 + i, 1_700_000_000 + i)
        )


def _commit_pair(vt_a, df_a, vt_b, df_b) -> None:
    """Commit two INDEPENDENT per-trigger frames to their own
    VersionedTables concurrently (guide §2.6 — overlap independent
    jobs): the stats commit and the index commit share no state (two
    table paths, two manifests, both reading the already-materialized
    batch frame), so their write jobs can back-fill each other's task
    tails instead of running serially.  Each table's own commit
    sequence is unchanged — this overlaps jobs, not commits within a
    table.  Exceptions propagate (a failed commit fails the trigger,
    exactly as before)."""
    from concurrent.futures import ThreadPoolExecutor

    def _one(vt, df):
        if vt.refs().get(vt.DEFAULT_BRANCH):
            vt.append(df)
        else:
            vt.create(df)

    with ThreadPoolExecutor(max_workers=2) as pool:
        futs = [pool.submit(_one, vt_a, df_a), pool.submit(_one, vt_b, df_b)]
        for f in futs:
            f.result()


def streaming_incremental_dedup_drain(
    spark,
    digests: DataFrame,
    root: str,
    batch_pred: Column,
    n_slices: int = 4,
) -> DataFrame:
    """Drain a crawl batch as ``n_slices`` micro-batches, maintaining
    the prefix-fingerprint dedup index ACROSS batches, and return the
    per-source accounting — the continuous-crawl loop (the streaming
    twin of the one-shot ``incremental_dedup_ingest`` computation;
    registry entry ``streaming_incremental_dedup``).

    ``digests``: (doc_id, source, digest) for the WHOLE corpus;
    ``batch_pred`` selects the arriving crawl slice, everything else is
    the historical corpus whose digest index is persisted up front.
    Near-dup twin: :func:`streaming_near_dup_drain`.

    Per micro-batch (foreachBatch): two digest-keyed equi-joins —
    the historical index and the SESSION VersionedTable index of
    survivors committed by earlier batches (both broadcastable
    daily-scale sides; at 100 TB the historical index is a bucketed
    table) — plus a skew-immune min(doc_id) keep-first aggregate,
    never a per-digest sort window.  Survivor digests and per-source
    stats commit ONCE per batch (the CDC trail).

    Batch-split invariance: the restage slices the batch into
    ASCENDING doc_id ranges with strictly increasing file mtimes, so
    first-arrival == smallest doc_id and the totals are hash-equal to
    the one-shot batch computation's (whose keep-first is min(doc_id))
    no matter how many slices the stream was cut into.  The ntile
    restage is fixture plumbing — production streams arrive already
    micro-batched."""
    from datalakehouse_spark.streaming.jobs import drain_confs
    from datalakehouse_spark.versioned import VersionedTable

    hist_path = root + "/hist"
    digests.where(~batch_pred).select("digest").distinct().write.mode(
        "overwrite"
    ).parquet(hist_path)

    batch = digests.where(batch_pred)
    src = root + "/src"
    _restage_ascending(batch, src, n_slices)

    hist = spark.read.parquet(hist_path)
    seen_vt = VersionedTable(spark, root + "/seen")
    stats_vt = VersionedTable(spark, root + "/stats")

    def apply_batch(bdf: DataFrame, _bid: int) -> None:
        keep = bdf.groupBy("digest").agg(F.min("doc_id").alias("__keep_id"))
        marked = bdf.join(keep, "digest").join(
            hist.withColumn("__in_corpus", F.lit(1)), "digest", "left"
        )
        if seen_vt.refs().get("main"):
            seen = seen_vt.read().withColumn("__in_session", F.lit(1))
            marked = marked.join(seen, "digest", "left")
        else:
            marked = marked.withColumn(
                "__in_session", F.lit(None).cast("int")
            )
        # Classified batch computed once per trigger: stats and the
        # survivor-digest commit are separate write actions, and each
        # would otherwise re-run the keep-first aggregate and both
        # index joins (guide §1.2 — remove repeated passes first).
        # Batch-sized, MEMORY_AND_DISK-backed, freed with the batch.
        from datalakehouse_spark.materialize import materialize

        marked = materialize(marked)
        in_c = F.col("__in_corpus").isNotNull()
        in_s = F.col("__in_session").isNotNull()
        first = (F.col("doc_id") == F.col("__keep_id")) & ~in_s
        stats = marked.groupBy("source").agg(
            F.count(F.lit(1)).alias("n_new"),
            F.sum(in_c.cast("long")).alias("n_dup_corpus"),
            F.sum((~in_c & ~first).cast("long")).alias("n_dup_batch"),
            F.sum((~in_c & first).cast("long")).alias("n_ingested"),
        )
        survivors = marked.where(~in_c & first).select("digest").distinct()
        try:
            _commit_pair(stats_vt, stats, seen_vt, survivors)
        finally:
            marked.unpersist()  # persist mode caches once per trigger

    stream = (
        spark.readStream.schema(batch.schema)
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
    return (
        stats_vt.read()
        .groupBy("source")
        .agg(
            F.sum("n_new").alias("n_new"),
            F.sum("n_dup_corpus").alias("n_dup_corpus"),
            F.sum("n_dup_batch").alias("n_dup_batch"),
            F.sum("n_ingested").alias("n_ingested"),
        )
        .orderBy("source")
    )


def streaming_near_dup_drain(
    spark,
    docs: DataFrame,
    root: str,
    batch_pred: Column,
    n_slices: int = 4,
) -> DataFrame:
    """The NEAR-dup streaming ingest twin: drain a crawl batch as
    micro-batches against a persisted MinHash-LSH band-bucket index,
    returning per-source accounting (registry entry
    ``streaming_near_dup_ingest``).

    Semantics (deliberately different from the exact-digest twin): a
    doc is a near-dup if ANY of its LSH band buckets was seen before —
    in the historical corpus (``n_dup_corpus``, checked first) or on
    any EARLIER-arriving crawl doc (``n_dup_batch``).  The session
    index records ALL arrivals' buckets, not only survivors', because
    (a) near-dup conflicts aren't an equivalence relation — a
    survivor-only index would make the accounting depend on slicing
    (A drops B, but C conflicting only with B would then pass or fail
    depending on whether B's buckets were indexed) — indexing every
    arrival makes the totals exactly batch-split invariant under
    ascending restage; and (b) it is the production crawl posture: a
    dedup index covers what the crawl has SEEN, so future near-dups of
    rejected boilerplate are still caught.  Docs too short to shingle
    carry no buckets and always ingest.

    Per micro-batch: one signature pass over the batch (map-side MIN
    combine), two bucket-keyed LEFT SEMI probes (historical + session
    index — bucket-keyed equi-joins, broadcastable at daily scale,
    bucketed tables at 100 TB), and a skew-immune min(doc_id)-per-
    bucket aggregate for the intra-batch check; survivors' accounting
    and the batch's bucket set commit once per trigger (the CDC
    trail).  No per-bucket sort window and no pair join anywhere — the
    ingest check needs bucket MEMBERSHIP, not the pair space, so the
    LSH self-join (and its salting) stays in :func:`lsh_candidate_pairs`
    where pairs are actually wanted."""
    hist_path, src = near_dup_index_stage(
        spark, docs, root, batch_pred, n_slices=n_slices
    )
    return streaming_near_dup_drain_staged(spark, hist_path, src, root)


def near_dup_index_stage(
    spark,
    docs: DataFrame,
    root: str,
    batch_pred: Column,
    n_slices: int = 4,
) -> tuple[str, str]:
    """The BUILD half of the near-dup streaming ingest (round 16,
    VERDICT r15 #3 — the ivf_build_stats build/serve-split precedent):
    persist the historical corpus's LSH band-bucket index and restage
    the arriving crawl slice as ascending micro-batch files.  This is
    the one-time cost the round-15 single entry folded into every
    timing; splitting it out makes the per-trigger drain cost its own
    number.  Returns ``(hist_index_path, staged_src_path)``."""
    base = docs.select("doc_id", "source", "text")
    hist_path = root + "/hist"
    (
        lsh_band_buckets(minhash_signatures_df(base.where(~batch_pred)))
        .select("band", "key")
        .distinct()
        .write.mode("overwrite")
        .parquet(hist_path)
    )
    src = root + "/src"
    _restage_ascending(base.where(batch_pred), src, n_slices)
    return hist_path, src


def streaming_near_dup_drain_staged(
    spark, hist_path: str, src: str, root: str
) -> DataFrame:
    """The SERVE half: drain an already-staged crawl source against an
    already-persisted historical bucket index (see
    :func:`near_dup_index_stage`), committing per-trigger accounting
    and the session bucket index under ``root``.  ``root`` must be
    fresh per drain (checkpoint + session tables live there); the
    staged inputs are read-only and reusable across drains."""
    from datalakehouse_spark.streaming.jobs import drain_confs
    from datalakehouse_spark.versioned import VersionedTable

    hist = spark.read.parquet(hist_path)
    seen_vt = VersionedTable(spark, root + "/seen")
    stats_vt = VersionedTable(spark, root + "/stats")

    def apply_batch(bdf: DataFrame, _bid: int) -> None:
        # One signature pass per trigger (guide §1.2/§2.4): the bucket
        # frame fans out into four consumers (historical probe, session
        # probe, intra-batch min, arrivals commit) split across TWO
        # write actions, so without materialization the minhash
        # pipeline — shingle explode, md5, 12-way MIN aggregate —
        # re-executes per action.  The frame is n_docs_batch × n_bands
        # rows of (id, band, key): checkpoint-size at any batch scale.
        from datalakehouse_spark.materialize import materialize

        buckets = materialize(lsh_band_buckets(minhash_signatures_df(bdf)))
        hit_corpus = (
            buckets.join(hist, ["band", "key"], "left_semi")
            .select("doc_id")
            .distinct()
            .withColumn("__in_corpus", F.lit(1))
        )
        seen = seen_vt.read() if seen_vt.refs().get("main") else None
        if seen is not None:
            sess_hits = (
                buckets.join(seen, ["band", "key"], "left_semi")
                .select("doc_id")
                .distinct()
            )
        else:
            sess_hits = buckets.select("doc_id").where(F.lit(False))
        first_in_bucket = buckets.groupBy("band", "key").agg(
            F.min("doc_id").alias("__fid")
        )
        intra_hits = (
            buckets.join(first_in_bucket, ["band", "key"])
            .where(F.col("__fid") < F.col("doc_id"))
            .select("doc_id")
            .distinct()
        )
        hit_earlier = (
            sess_hits.unionByName(intra_hits)
            .distinct()
            .withColumn("__earlier", F.lit(1))
        )
        marked = (
            bdf.select("doc_id", "source")
            .join(hit_corpus, "doc_id", "left")
            .join(hit_earlier, "doc_id", "left")
        )
        in_c = F.col("__in_corpus").isNotNull()
        in_e = F.col("__earlier").isNotNull()
        stats = marked.groupBy("source").agg(
            F.count(F.lit(1)).alias("n_new"),
            F.sum(in_c.cast("long")).alias("n_dup_corpus"),
            F.sum((~in_c & in_e).cast("long")).alias("n_dup_batch"),
            F.sum((~in_c & ~in_e).cast("long")).alias("n_ingested"),
        )
        # Index-growth fix (ADVICE r15): a bucket key recurring across
        # batches must not re-append — the left-semi probes stay correct
        # under duplicates, but the index (and per-trigger probe cost)
        # would grow with every repeat instead of with DISTINCT buckets
        # seen.  Anti-joining against the historical index too is
        # semantically safe: classification checks the corpus index
        # FIRST, so a future arrival on a hist bucket is a corpus dup
        # whether or not the session index also carries the key.
        arrivals = (
            buckets.select("band", "key")
            .distinct()
            .join(hist, ["band", "key"], "left_anti")
        )
        if seen is not None:
            arrivals = arrivals.join(seen, ["band", "key"], "left_anti")
        try:
            _commit_pair(stats_vt, stats, seen_vt, arrivals)
        finally:
            buckets.unpersist()  # persist mode caches once per trigger

    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
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
    return (
        stats_vt.read()
        .groupBy("source")
        .agg(
            F.sum("n_new").alias("n_new"),
            F.sum("n_dup_corpus").alias("n_dup_corpus"),
            F.sum("n_dup_batch").alias("n_dup_batch"),
            F.sum("n_ingested").alias("n_ingested"),
        )
        .orderBy("source")
    )
