"""Registry extensions, part 6 (round 9) — training-data pipeline depth.

- **Cross-doc duplicated-span coverage** (``dup_span_coverage``): the
  accounting pass of suffix-style substring dedup (Lee et al. 2022,
  "Deduplicating Training Data Makes Language Models Better"): how much
  of each source's token-span mass is duplicated VERBATIM across
  documents.  Exact-substring dedup at 100 TB starts with exactly this
  rolling-window digest pass; the coverage report is the go/no-go
  signal before paying for span excision.
- **Domain mixture weights** (``domain_mixture_weights``): the
  temperature-smoothed sampling weights (share^alpha renormalized,
  alpha = 0.7 — the multilingual-BERT/XLM exponent) a training run uses
  to rebalance domains; reports natural share, smoothed weight, and the
  oversample factor per source.

- **Mixture downsample plan** (``mixture_downsample_plan``): REALIZE
  the alpha-smoothed mixture with a deterministic downsample-only
  Bernoulli plan — per-source keep rates, md5-threshold doc decisions,
  and the achieved token shares, all engine-portable and replayable.

- **Split leakage audit** (``split_leakage_audit``): the
  eval-contamination gate, run against the SAME deterministic 80/10/10
  hash split ``dataset_split_counts`` (registry_ext2) defines — exact
  normalized dups and shared 16-token prefixes (boilerplate)
  straddling splits, per-split counts and rates.

All are pure lazy plans (no eager builds), all oracle-checked, and
all follow the house scale shapes: the span pass is
explode -> distinct -> digest-keyed equi-join (never pair space), the
mixture passes are corpus-scan hash aggregates crossJoined with their
own broadcast 1-row totals (the scalar-subquery idiom, pinned
broadcast by the plan sweep).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datalakehouse_spark.functions.numeric import dsum, dsum_duckdb
from datalakehouse_spark.io import load_table
from datalakehouse_spark.registry import register, session_memo
from datalakehouse_spark.registry_ext import _TOKS

# ---------------------------------------------------------------------------
# dup_span_coverage: cross-document duplicated token spans per source
# ---------------------------------------------------------------------------

_SPAN_N = 16  # rolling window length in tokens (Lee et al. use 50 BPE
# tokens at web scale; 16 whitespace tokens keeps fixture docs in range)

_DUP_SPAN_SQL = f"""
WITH t AS (SELECT doc_id, source, {_TOKS} AS toks FROM documents),
grams AS (
    SELECT doc_id, source,
           unnest([md5(array_to_string(list_slice(toks, i, i + {_SPAN_N - 1}), ' '))
                   FOR i IN range(1, greatest(len(toks) - {_SPAN_N - 1}, 0) + 1)]) AS h
    FROM t
),
dd AS (
    SELECT h FROM (
        SELECT h, COUNT(DISTINCT doc_id) AS nd FROM grams GROUP BY h
    ) WHERE nd >= 2
),
marked AS (
    SELECT g.doc_id, g.source, d.h IS NOT NULL AS is_dup
    FROM grams g LEFT JOIN dd d USING (h)
)
SELECT source,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_spans,
       CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
       round(CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS dup_ratio,
       CAST(COUNT(DISTINCT CASE WHEN is_dup THEN doc_id END) AS BIGINT)
           AS n_docs_with_dup
FROM marked GROUP BY source ORDER BY source
"""


@register(
    "dup_span_coverage",
    _DUP_SPAN_SQL,
    "cross-doc duplicated 16-token spans per source (ExactSubstr accounting)",
    # shared-scan materialization: the span-digest explode, read by the
    # duplicated-digest aggregate AND its join-back
    eager=True,
)
def q_dup_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 16-token span digests per document; a span duplicated in
    >= 2 DISTINCT documents is verbatim cross-doc repetition — the mass
    ExactSubstr dedup would excise.  Docs shorter than the window
    contribute no spans (and so don't appear in ``n_docs``).

    Scale shape: the corpus explodes into (doc, digest) and is
    immediately collapsed by a map-side-combinable hash aggregate to
    (digest, doc, n_occ); everything downstream works at that reduced
    granularity — the duplicated-digest set is a digest-keyed count of
    the aggregate, rejoined on the digest key (equi-join, never pair
    space), occurrence totals recovered by weighting with n_occ.
    Measured 1.57x faster at sf0.1 than the first cut that joined at
    raw span granularity.  The explode branch is evaluated once per
    consumer (column pruning gives the two branches different partial
    aggregates, so Catalyst cannot reuse the exchange); the tempting
    single-scan alternative — ``COUNT(*) OVER (PARTITION BY digest)``
    on the aggregate — was A/B'd to wall-time parity but BUFFERS each
    digest's group in the window operator, so one boilerplate span
    shared by 10^8 documents becomes a single-task OOM; the groupBy
    form keeps the hot digest partial-aggregable and the join streams.
    Nothing is driver-side, nothing is quadratic: cost is O(total
    tokens) shuffled by digest.  The self-repetition case
    (same span twice in ONE doc) deliberately does not count — that is
    ``repetition_quality``'s intra-doc metric; this operator measures
    cross-document contamination pressure."""
    from datalakehouse_spark.operators.dedup import _ngram_hashes
    from datalakehouse_spark.operators.textstats import tokens

    docs = load_table(spark, sf_dir, "documents")
    grams = docs.select(
        "doc_id",
        "source",
        F.explode(_ngram_hashes(tokens("text"), _SPAN_N)).alias("h"),
    )
    # Round 16 (guide §1.2): the digest-grain aggregate feeds TWO
    # consumers whose partial aggregates differ (so Catalyst cannot
    # reuse the exchange — see below); materializing it runs the
    # explode+md5 corpus pass ONCE and both consumers read the stored
    # frame.  Size is the reduced (digest, doc) grain, disk-spillable.
    from datalakehouse_spark.materialize import materialize

    per_doc = materialize(
        grams.groupBy("h", "doc_id", "source").agg(
            F.count(F.lit(1)).alias("n_occ")
        )
    )
    dup_digests = (
        per_doc.groupBy("h")
        .agg(F.count(F.lit(1)).alias("nd"))
        .where(F.col("nd") >= 2)
        .select("h")
    )
    marked = per_doc.join(
        dup_digests.withColumn("__dup", F.lit(True)), "h", "left"
    ).withColumn("is_dup", F.coalesce(F.col("__dup"), F.lit(False)))
    dup_occ = F.sum(F.when(F.col("is_dup"), F.col("n_occ")).otherwise(F.lit(0)))
    return (
        marked.groupBy("source")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.sum("n_occ").alias("n_spans"),
            dup_occ.alias("n_dup_spans"),
            F.round(dup_occ.cast("double") / F.sum("n_occ"), 6).alias("dup_ratio"),
            F.countDistinct(
                F.when(F.col("is_dup"), F.col("doc_id"))
            ).alias("n_docs_with_dup"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# domain_mixture_weights: temperature-smoothed per-source sampling weights
# ---------------------------------------------------------------------------

_MIX_ALPHA = 0.7  # the multilingual sampling exponent (mBERT/XLM-R)

_MIXTURE_SQL = f"""
WITH per AS (
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len({_TOKS})) AS BIGINT) AS n_tokens,
           CAST(round(pow(SUM(len({_TOKS})), {_MIX_ALPHA}), 12)
                AS DECIMAL(28,12)) AS smoothed_raw
    FROM documents GROUP BY source
),
tot AS (
    SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           SUM(smoothed_raw) AS total_smoothed
    FROM per
)
SELECT source, n_docs, n_tokens,
       round(CAST(n_tokens AS DOUBLE) / total_tokens, 6) AS natural_share,
       round(CAST(smoothed_raw AS DOUBLE) / CAST(total_smoothed AS DOUBLE), 6)
           AS mixture_weight,
       round((CAST(smoothed_raw AS DOUBLE) / CAST(total_smoothed AS DOUBLE))
             / (CAST(n_tokens AS DOUBLE) / total_tokens), 6) AS oversample
FROM per CROSS JOIN tot ORDER BY source
"""


@register(
    "domain_mixture_weights",
    _MIXTURE_SQL,
    "temperature-smoothed (alpha=0.7) per-source sampling weights + oversample",
)
def q_domain_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixing weights for a training run: per source, the natural
    token share, the alpha=0.7 temperature-smoothed sampling weight
    (share^alpha renormalized — upsamples the tail, damps the head; the
    multilingual-BERT/XLM recipe), and the resulting oversample factor.

    Determinism across engines: the smoothed mass is pow() rounded at
    12 decimals and summed in DECIMAL (the psi/mutual-information
    convention), so the renormalization denominator is bit-stable.
    Scale shape: one corpus scan -> per-source hash aggregate (a
    handful of rows) crossJoined with its own BROADCAST 1-row total —
    the scalar-subquery idiom the plan sweep pins; no windows, no
    second scan of the corpus (the per-source frame feeds both sides).
    """
    from datalakehouse_spark.operators.textstats import tokens

    docs = load_table(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(tokens("text")).cast("long")).alias("n_tokens"),
        F.round(F.pow(F.sum(F.size(tokens("text")).cast("long")), _MIX_ALPHA), 12)
        .cast("decimal(28,12)")
        .alias("smoothed_raw"),
    )
    tot = per.agg(
        F.sum("n_tokens").alias("total_tokens"),
        F.sum("smoothed_raw").alias("total_smoothed"),
    )
    w = F.col("smoothed_raw").cast("double") / F.col("total_smoothed").cast("double")
    nat = F.col("n_tokens").cast("double") / F.col("total_tokens")
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.round(nat, 6).alias("natural_share"),
            F.round(w, 6).alias("mixture_weight"),
            F.round(w / nat, 6).alias("oversample"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# mixture_downsample_plan: realize the smoothed mixture by deterministic
# downsampling (keep-rate per source + md5-threshold doc decisions)
# ---------------------------------------------------------------------------

_DS_SQL = f"""
WITH t AS (SELECT doc_id, source, len({_TOKS}) AS n_tok FROM documents),
per AS (
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           CAST(round(pow(SUM(n_tok), 0.7), 12) AS DECIMAL(28,12)) AS r
    FROM t GROUP BY source
),
anchor AS (
    SELECT n_tokens AS tok_m, r AS r_m FROM per
    ORDER BY CAST(n_tokens AS DOUBLE) / CAST(r AS DOUBLE), source LIMIT 1
),
srtot AS (SELECT SUM(r) AS sr FROM per),
thr AS (
    SELECT source, n_docs, n_tokens,
           (CAST(r AS DOUBLE) * CAST(tok_m AS DOUBLE))
               / (CAST(r_m AS DOUBLE) * CAST(n_tokens AS DOUBLE)) AS keep_rate,
           round(CAST(r AS DOUBLE) / CAST(sr AS DOUBLE), 6) AS target_weight
    FROM per CROSS JOIN anchor CROSS JOIN srtot
),
kept AS (
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs_kept,
           CAST(SUM(d.n_tok) AS BIGINT) AS kept_tokens
    FROM t d JOIN thr USING (source)
    WHERE thr.keep_rate >= 1.0
       OR substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)
          < lpad(lower(to_hex(CAST(floor(thr.keep_rate * 4294967296.0)
                                   AS BIGINT))), 8, '0')
    GROUP BY d.source
),
tot AS (SELECT CAST(SUM(kept_tokens) AS BIGINT) AS total_kept FROM kept)
SELECT thr.source, thr.n_docs, thr.n_tokens,
       round(thr.keep_rate, 6) AS keep_rate,
       thr.target_weight,
       COALESCE(kept.n_docs_kept, 0) AS n_docs_kept,
       COALESCE(kept.kept_tokens, 0) AS kept_tokens,
       round(CAST(COALESCE(kept.kept_tokens, 0) AS DOUBLE) / total_kept, 6)
           AS achieved_share
FROM thr LEFT JOIN kept USING (source) CROSS JOIN tot ORDER BY source
"""


@register(
    "mixture_downsample_plan",
    _DS_SQL,
    "realize the alpha=0.7 mixture by deterministic md5-threshold downsampling",
)
def q_mixture_downsample_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turn ``domain_mixture_weights`` into an executable sampling plan:
    the maximum-data downsample-only realization keeps EVERY doc of the
    most-upsampled source m (the argmin of tok^0.3 = tok/r) and keeps
    source i with probability ``(r_i * tok_m) / (r_m * tok_i)`` — the
    global totals cancel algebraically, so each rate is three IEEE
    double ops over exact integer/DECIMAL inputs and therefore
    bit-identical in any engine (no order-dependent float sums).

    The doc decision is a deterministic uniform draw replayable at any
    scale and on any engine: the first 8 hex chars of md5(doc_id)
    compared lexicographically (== numerically, fixed-width lowercase
    hex) against the rate mapped to a 32-bit threshold.  A re-run, a
    backfill, or a second engine keeps EXACTLY the same documents — the
    property a 100 TB mixture job needs for reproducible epochs.

    Scale shape: two corpus scans (stat pass, decision pass) and NO
    doc-level shuffle — the per-source threshold table (a handful of
    rows) broadcasts onto the scan, the decision filters in place, and
    only per-source aggregates move.  The three crossJoins each
    broadcast a <=1-row frame (the pinned scalar-subquery idiom)."""
    from datalakehouse_spark.operators.textstats import tokens

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", "source", F.size(tokens("text")).cast("long").alias("n_tok")
    )
    per = t.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("n_tokens"),
        F.round(F.pow(F.sum("n_tok"), F.lit(0.7)), 12)
        .cast("decimal(28,12)")
        .alias("r"),
    )
    anchor = (
        per.select(
            F.col("n_tokens").alias("tok_m"),
            F.col("r").alias("r_m"),
            (F.col("n_tokens").cast("double") / F.col("r").cast("double")).alias(
                "__ratio"
            ),
            "source",
        )
        .orderBy("__ratio", "source")
        .limit(1)
        .select("tok_m", "r_m")
    )
    srtot = per.agg(F.sum("r").alias("sr"))
    keep_rate = (F.col("r").cast("double") * F.col("tok_m").cast("double")) / (
        F.col("r_m").cast("double") * F.col("n_tokens").cast("double")
    )
    thr = (
        per.crossJoin(F.broadcast(anchor))
        .crossJoin(F.broadcast(srtot))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            keep_rate.alias("keep_rate"),
            F.round(F.col("r").cast("double") / F.col("sr").cast("double"), 6).alias(
                "target_weight"
            ),
        )
    )
    thr_hex = F.lpad(
        F.lower(
            F.hex(F.floor(F.col("keep_rate") * F.lit(4294967296.0)).cast("bigint"))
        ),
        8,
        "0",
    )
    kept = (
        t.join(F.broadcast(thr.select("source", "keep_rate")), "source")
        .where(
            (F.col("keep_rate") >= 1.0)
            | (F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8) < thr_hex)
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs_kept"),
            F.sum("n_tok").alias("kept_tokens"),
        )
    )
    tot = kept.agg(F.sum("kept_tokens").alias("total_kept"))
    return (
        thr.join(kept, "source", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.round("keep_rate", 6).alias("keep_rate"),
            "target_weight",
            F.coalesce("n_docs_kept", F.lit(0)).alias("n_docs_kept"),
            F.coalesce("kept_tokens", F.lit(0)).alias("kept_tokens"),
            F.round(
                F.coalesce("kept_tokens", F.lit(0)).cast("double")
                / F.col("total_kept"),
                6,
            ).alias("achieved_share"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# split_leakage_audit: train/test contamination via shared content
# ---------------------------------------------------------------------------

_NORM6 = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"

# the audited split IS the one ``dataset_split_counts``
# (registry_ext2.py) defines: md5_hash60(source:doc_id) % 100 into
# 80/10/10 — same hash, same buckets, so this entry is the
# contamination gate for that entry's assignment, not a second split
_BUCKET6 = (
    "('0x' || substr(md5(source || ':' || CAST(doc_id AS VARCHAR)), 1, 15))"
    "::BIGINT % 100"
)

_LEAK_CASE = f"""CASE
    WHEN {_BUCKET6} < 80 THEN 'train'
    WHEN {_BUCKET6} < 90 THEN 'val'
    ELSE 'test' END"""

_LEAK_PREFIX_K = 16  # shared-prefix window (boilerplate/header class)

_LEAK_SQL = f"""
WITH s AS (
    SELECT doc_id,
           md5({_NORM6}) AS dg_exact,
           md5(array_to_string(list_slice({_TOKS}, 1, {_LEAK_PREFIX_K}), ' '))
               AS dg_prefix,
           {_LEAK_CASE} AS split
    FROM documents
),
ge AS (SELECT dg_exact, COUNT(DISTINCT split) AS ns FROM s GROUP BY dg_exact),
gp AS (SELECT dg_prefix, COUNT(DISTINCT split) AS ns FROM s GROUP BY dg_prefix),
j AS (
    SELECT s.split, s.dg_prefix,
           ge.ns >= 2 AS leak_exact, gp.ns >= 2 AS leak_prefix
    FROM s JOIN ge USING (dg_exact) JOIN gp USING (dg_prefix)
)
SELECT split,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN leak_exact THEN 1 ELSE 0 END) AS BIGINT)
           AS n_leaked_exact,
       CAST(SUM(CASE WHEN leak_prefix THEN 1 ELSE 0 END) AS BIGINT)
           AS n_leaked_prefix,
       CAST(COUNT(DISTINCT CASE WHEN leak_prefix THEN dg_prefix END) AS BIGINT)
           AS n_prefix_groups,
       round(CAST(SUM(CASE WHEN leak_prefix THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS prefix_leak_rate
FROM j GROUP BY split ORDER BY split
"""


def _leak_split_col() -> "F.Column":
    """The dataset_split_counts assignment, verbatim (registry_ext2
    `_sample_bucket`): 60-bit md5 of source:doc_id into 80/10/10."""
    from datalakehouse_spark.operators.dedup import md5_hash60

    bucket = md5_hash60(
        F.concat_ws(":", F.col("source"), F.col("doc_id").cast("string"))
    ) % 100
    return (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )


@register(
    "split_leakage_audit",
    _LEAK_SQL,
    "cross-split contamination audit: exact dups + shared prefixes",
)
def q_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The eval-contamination audit every split must pass BEFORE
    training, run against the SAME 80/10/10 hash assignment
    ``dataset_split_counts`` defines: two leakage classes, (a) EXACT —
    documents whose normalized full-text digest appears in more than
    one split (a hash-of-id split scatters surviving duplicate groups
    independently, so any dup group has a ~34% chance of straddling at
    80/10/10 — dedup-then-split or this audit is mandatory), and (b)
    PREFIX — documents sharing their first 16 normalized tokens across
    splits (the boilerplate/header class that survives exact dedup but
    still telegraphs eval content).  Reports, per split: total docs,
    docs in exact-straddling groups, docs in prefix-straddling groups,
    distinct straddling prefixes, and the prefix leak rate.

    Scale shape: one scan to (dg_exact, dg_prefix, split), two
    digest-keyed hash aggregates (the dedup_exact shuffle, twice), two
    digest equi-joins back, one tiny (3-group) final aggregate.  Never
    pair space, no window; swapping a digest for a MinHash cluster id
    (operators/dedup.py) extends the same pass to near-dup leakage."""
    from datalakehouse_spark.operators.dedup import normalize_text
    from datalakehouse_spark.operators.textstats import tokens

    docs = load_table(spark, sf_dir, "documents")
    s = docs.select(
        F.md5(normalize_text("text")).alias("dg_exact"),
        F.md5(
            F.array_join(F.slice(tokens("text"), 1, _LEAK_PREFIX_K), " ")
        ).alias("dg_prefix"),
        _leak_split_col().alias("split"),
    )
    ge = s.groupBy("dg_exact").agg(F.countDistinct("split").alias("ns_e"))
    gp = s.groupBy("dg_prefix").agg(F.countDistinct("split").alias("ns_p"))
    j = (
        s.join(ge, "dg_exact")
        .join(gp, "dg_prefix")
        .select(
            "split",
            "dg_prefix",
            (F.col("ns_e") >= 2).alias("leak_exact"),
            (F.col("ns_p") >= 2).alias("leak_prefix"),
        )
    )
    return (
        j.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("leak_exact"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_leaked_exact"),
            F.sum(F.when(F.col("leak_prefix"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_leaked_prefix"),
            F.countDistinct(F.when(F.col("leak_prefix"), F.col("dg_prefix"))).alias(
                "n_prefix_groups"
            ),
            F.round(
                F.sum(F.when(F.col("leak_prefix"), 1).otherwise(0)).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("prefix_leak_rate"),
        )
        .orderBy("split")
    )


# ---------------------------------------------------------------------------
# near_dup_decontamination: MinHash-LSH contamination vs the bench split
# ---------------------------------------------------------------------------

_NEAR_DECON_T = 0.5  # exact-Jaccard verify threshold (gate, so < dedup's 0.6)


def _near_dup_decon_sql() -> str:
    """DuckDB twin: the shared minhash core (registry_ext), bands
    split into bench (doc_id % 50 = 0, decontamination_report's split)
    vs train, band-key equi-join for candidates, exact shingle Jaccard
    to verify, per-source accounting."""
    import datalakehouse_spark.operators.dedup as D
    from datalakehouse_spark.registry_ext import _minhash_sql_core

    n_bands = D.N_PERM_DEFAULT // D.BAND_SIZE_DEFAULT
    band_selects = []
    for bnd in range(n_bands):
        cols = ", ".join(
            f"mh{bnd * D.BAND_SIZE_DEFAULT + j}" for j in range(D.BAND_SIZE_DEFAULT)
        )
        band_selects.append(
            f"SELECT doc_id, {bnd} AS band, concat_ws('_', {cols}) AS key FROM sig"
        )
    bands = " UNION ALL ".join(band_selects)
    return _minhash_sql_core() + f""",
bands AS ({bands}),
cand AS (
    SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
    FROM bands l JOIN bands r ON l.band = r.band AND l.key = r.key
    WHERE l.doc_id % 50 <> 0 AND r.doc_id % 50 = 0
),
jac AS (
    SELECT c.id_a,
           len(list_filter(sa.sh, x -> list_contains(sb.sh, x)))
           / greatest(len(sa.sh) + len(sb.sh)
                      - len(list_filter(sa.sh, x -> list_contains(sb.sh, x))), 1)
               AS jaccard
    FROM cand c JOIN s sa ON sa.doc_id = c.id_a JOIN s sb ON sb.doc_id = c.id_b
),
flagged AS (SELECT DISTINCT id_a AS doc_id FROM jac WHERE jaccard >= {_NEAR_DECON_T}),
train AS (SELECT doc_id, source FROM documents WHERE doc_id % 50 <> 0)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_train_docs,
       CAST(SUM(CASE WHEN f.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_near_contaminated,
       round(SUM(CASE WHEN f.doc_id IS NOT NULL THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 6) AS near_rate
FROM train LEFT JOIN flagged f USING (doc_id)
GROUP BY source ORDER BY source
"""


@register(
    "near_dup_decontamination",
    _near_dup_decon_sql(),
    "near-dup contamination: train docs MinHash-similar to the eval split",
    eager=True,  # shared-scan materialization: the near_dup_pairs shingle frame
)
def q_near_dup_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The near-duplicate tier of benchmark decontamination: exact
    n-gram overlap (``decontamination_report``) misses eval documents
    that were lightly paraphrased or re-wrapped before landing in the
    training crawl, so the gate is re-run at the MinHash-LSH tier —
    training docs sharing any LSH band with a benchmark doc
    (doc_id % 50 == 0, the SAME split decontamination_report checks)
    are candidates, verified by exact shingle Jaccard >= 0.5 (looser
    than dedup's 0.6: a contamination gate prefers false positives to
    leaked eval data).  Reports per training source: docs, verified
    near-dup-contaminated docs, rate.

    Scale shape: the corpus pays ONE signature pass (the shared
    explode -> md5 -> K partial-MIN aggregate of
    ``minhash_signatures_df``); the bench side's band keys are tiny
    (eval suites are small by definition) and BROADCAST, so candidate
    generation never shuffles the corpus — same posture as
    ``decontaminate``'s broadcast of bench n-grams.  Verification
    joins shingle sets only for candidate (train, bench) pairs —
    collision-bounded, never pair space."""
    import datalakehouse_spark.operators.dedup as D

    docs = load_table(spark, sf_dir, "documents")
    is_bench = F.col("doc_id") % 50 == 0
    # Round 16 (guide §1.2, the near_dup_pairs shape): one materialized
    # tokenize+shingle pass feeds the signature stage AND both Jaccard
    # verify legs — previously the corpus was re-tokenized per consumer.
    from datalakehouse_spark.materialize import materialize

    sh = materialize(D.shingle_frame(docs))
    sigs = D.minhash_from_shingles(sh)
    band_size = D.BAND_SIZE_DEFAULT
    n_bands = D.N_PERM_DEFAULT // band_size
    bands = sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            "_",
                            *[
                                F.col(f"mh{b * band_size + j}")
                                for j in range(band_size)
                            ],
                        ).alias("key"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "bk.band", "bk.key")
    bench_bands = (
        bands.where(is_bench)
        .select(F.col("doc_id").alias("id_b"), "band", "key")
        .distinct()
    )
    cand = (
        bands.where(~is_bench)
        .join(F.broadcast(bench_bands), ["band", "key"])
        .select(F.col("doc_id").alias("id_a"), "id_b")
        .distinct()
    )
    flagged = (
        D._jaccard_on_shingles(sh, cand, "doc_id")
        .where(F.col("jaccard") >= _NEAR_DECON_T)
        .select(F.col("id_a").alias("doc_id"))
        .distinct()
        .withColumn("near_contaminated", F.lit(True))
    )
    return (
        docs.where(~is_bench)
        .select("doc_id", "source")
        .join(flagged, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_train_docs"),
            F.sum(
                F.coalesce(F.col("near_contaminated"), F.lit(False)).cast("long")
            ).alias("n_near_contaminated"),
        )
        .withColumn(
            "near_rate",
            F.round(F.col("n_near_contaminated") / F.col("n_train_docs"), 6),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# dup_span_excision_stats: how many tokens ExactSubstr dedup would remove
# ---------------------------------------------------------------------------

_EXCISION_SQL = f"""
WITH t AS (SELECT doc_id, source, {_TOKS} AS toks FROM documents),
sp AS (
    SELECT doc_id, source,
           unnest([{{'i': i, 'h': md5(array_to_string(
                        list_slice(toks, i, i + {_SPAN_N - 1}), ' '))}}
                   FOR i IN range(1, greatest(len(toks) - {_SPAN_N - 1}, 0) + 1)])
               AS s
    FROM t
),
spans AS (SELECT doc_id, source, s.i AS i, s.h AS h FROM sp),
dd AS (
    SELECT h FROM (
        SELECT h, COUNT(DISTINCT doc_id) AS nd FROM spans GROUP BY h
    ) WHERE nd >= 2
),
ds AS (SELECT doc_id, source, i FROM spans JOIN dd USING (h)),
cov AS (
    SELECT doc_id, source,
           least({_SPAN_N},
                 coalesce(lead(i) OVER (PARTITION BY doc_id ORDER BY i) - i,
                          {_SPAN_N})) AS c
    FROM ds
),
per_doc AS (SELECT doc_id, source, SUM(c) AS covered FROM cov GROUP BY doc_id, source),
tot AS (
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(toks)) AS BIGINT) AS n_tokens
    FROM t GROUP BY source
)
SELECT tot.source, n_docs, n_tokens,
       CAST(coalesce(SUM(covered), 0) AS BIGINT) AS excised_tokens,
       CAST(COUNT(per_doc.doc_id) AS BIGINT) AS n_docs_excised,
       round(coalesce(SUM(covered), 0) / CAST(n_tokens AS DOUBLE), 6)
           AS excise_ratio
FROM tot LEFT JOIN per_doc USING (source)
GROUP BY tot.source, n_docs, n_tokens
ORDER BY source
"""


@register(
    "dup_span_excision_stats",
    _EXCISION_SQL,
    "ExactSubstr excision accounting: tokens under cross-doc duplicated spans",
    # shared-scan materialization: the span-digest explode, read by the
    # duplicated-digest aggregate AND its join-back
    eager=True,
)
def q_dup_span_excision_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The excision pass ``dup_span_coverage`` is the go/no-go signal
    for: per source, how many TOKENS fall under at least one cross-doc
    duplicated {span} window — i.e. the mass ExactSubstr dedup (Lee et
    al. 2022) would actually cut, which is less than n_dup_spans x 16
    because overlapping duplicated windows share tokens.

    The per-document interval union exploits the fixed window length:
    with duplicated starts sorted, each start covers
    ``min(16, next_start - start)`` NEW tokens (16 for the last) — a
    lead() over a per-document window, no interval-merge loop.

    Scale shape: the span stream carries positions, so the duplicated
    -digest set (same digest-keyed aggregate as dup_span_coverage)
    inner-joins it down to duplicated spans only; the union runs in a
    window PARTITIONED BY doc (bounded by tokens-per-doc, never global)
    and collapses immediately to one row per doc.  Token denominators
    come from a separate column-pruned scan that never tokenizes into
    spans.  Cost: O(total tokens) shuffled by digest + by doc."""
    from datalakehouse_spark.operators.dedup import _ngram_hashes
    from datalakehouse_spark.operators.textstats import tokens
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", "source", tokens("text").alias("toks"))
    # Round 16 (guide §1.2): the span stream feeds the duplicated-digest
    # aggregate AND the join-back; materialize it once instead of
    # re-running the tokenize+md5 explode per consumer.
    from datalakehouse_spark.materialize import materialize

    spans = materialize(
        t.select(
            "doc_id",
            "source",
            F.posexplode(_ngram_hashes(F.col("toks"), _SPAN_N)).alias("p", "h"),
        )
    )
    dup = (
        spans.select("h", "doc_id")
        .distinct()
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("nd"))
        .where(F.col("nd") >= 2)
        .select("h")
    )
    w = Window.partitionBy("doc_id").orderBy("p")
    per_doc = (
        spans.join(dup, "h")
        .withColumn(
            "c",
            F.least(
                F.lit(_SPAN_N),
                F.coalesce(F.lead("p").over(w) - F.col("p"), F.lit(_SPAN_N)),
            ),
        )
        .groupBy("doc_id", "source")
        .agg(F.sum("c").alias("covered"))
    )
    totals = t.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size("toks")).alias("n_tokens"),
    )
    agg = per_doc.groupBy("source").agg(
        F.sum("covered").alias("excised_tokens"),
        F.count(F.lit(1)).alias("n_docs_excised"),
    )
    return (
        totals.join(agg, "source", "left")
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.coalesce(F.col("excised_tokens"), F.lit(0)).alias("excised_tokens"),
            F.coalesce(F.col("n_docs_excised"), F.lit(0)).alias("n_docs_excised"),
            F.round(
                F.coalesce(F.col("excised_tokens"), F.lit(0)).cast("double")
                / F.col("n_tokens"),
                6,
            ).alias("excise_ratio"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# bm25_topk: scored lexical retrieval (the text twin of the ANN entries)
# ---------------------------------------------------------------------------

_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_QUERY = ("spark", "window", "hash")  # fixture-vocabulary query terms
_BM25_K = 20

_BM25_TERMS_SQL = ", ".join(f"'{t}'" for t in _BM25_QUERY)

_BM25_CORE_SQL = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
dl AS (SELECT doc_id, len(toks) AS dl FROM t),
stats AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n, avg(len(toks)) AS avgdl FROM t
),
tf AS (
    SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
    FROM (SELECT doc_id, unnest(toks) AS term FROM t)
    WHERE term IN ({_BM25_TERMS_SQL})
    GROUP BY doc_id, term
),
df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
scored AS (
    SELECT tf.doc_id,
           SUM(ln((stats.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
               * (tf.tf * ({_BM25_K1} + 1.0))
               / (tf.tf + {_BM25_K1}
                  * (1.0 - {_BM25_B} + {_BM25_B} * dl.dl / stats.avgdl)))
               AS score,
           CAST(COUNT(*) AS BIGINT) AS n_terms_hit
    FROM tf JOIN df USING (term) JOIN dl ON dl.doc_id = tf.doc_id, stats
    GROUP BY tf.doc_id
)"""

_BM25_SQL = f"""{_BM25_CORE_SQL}
SELECT doc_id, round(score, 6) AS score, n_terms_hit
FROM scored
ORDER BY round(score, 6) DESC, doc_id
LIMIT {_BM25_K}
"""


@register(
    "bm25_topk",
    _BM25_SQL,
    "BM25 scored retrieval: top-k docs for a fixed query",
)
def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 (k1=1.2, b=0.75, the Lucene idf form
    ln((N-df+0.5)/(df+0.5)+1) so scores stay positive) for a fixed
    query — the lexical-retrieval twin of the ANN entries, and with
    ``knn_brute_force`` the two halves of a hybrid-retrieval stack.

    Scale shape: the exploded token stream filters to the QUERY TERMS
    before anything aggregates, so only matching postings ever shuffle
    (a |q|-term query touches |q| posting lists, not the corpus
    vocabulary); df and the (N, avgdl) scalars are tiny frames joined
    by broadcast (the scalar crossJoin idiom); the per-(doc, term)
    scores collapse doc-keyed and the final order is
    TakeOrderedAndProject — never a global sort.  Ordering ties are
    broken on the ROUNDED score then doc_id, so the top-k frontier is
    engine-portable (raw IEEE sums may differ in the last ulp)."""
    scored = _bm25_scored(spark, sf_dir)
    return (
        scored.select(
            "doc_id", F.round("score", 6).alias("score"), "n_terms_hit"
        )
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(_BM25_K)
    )


def _bm25_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, score, n_terms_hit) for every document matching at
    least one _BM25_QUERY term — the shared scoring core of
    ``bm25_topk`` and ``hybrid_rrf_fusion``.

    Round 17 negative result (kept for the record): computing per-term
    tf as higher-order ``size(filter(toks, = term))`` columns in one
    projection (2 scans, no joins, one scalar broadcast) measured
    0.93 → 4.93 s min-of-5 in a paired A/B (ambient control improved in
    the same window) — higher-order lambdas evaluate INTERPRETED per
    array element, ~|toks|×|q| lambda calls per doc, while the
    explode → isin filter → hash-aggregate path below is whole-stage
    codegen'd end to end.  The 4-scan shape is the fast one here; the
    scans are cheap columnar reads and only matching postings shuffle."""
    from datalakehouse_spark.operators.textstats import tokens

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", tokens("text").alias("toks"))
    dl = t.select("doc_id", F.size("toks").alias("dl"))
    stats = t.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.avg(F.size("toks")).alias("avgdl"),
    )
    tf = (
        t.select("doc_id", F.explode("toks").alias("term"))
        .where(F.col("term").isin(*_BM25_QUERY))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        (F.col("n") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
        + F.lit(1.0)
    )
    norm = F.col("tf") + F.lit(_BM25_K1) * (
        F.lit(1.0 - _BM25_B) + F.lit(_BM25_B) * F.col("dl") / F.col("avgdl")
    )
    return (
        tf.join(F.broadcast(df_), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.sum(idf * (F.col("tf") * F.lit(_BM25_K1 + 1.0)) / norm).alias("score"),
            F.count(F.lit(1)).alias("n_terms_hit"),
        )
    )


# ---------------------------------------------------------------------------
# hybrid_rrf_fusion: reciprocal-rank fusion of the lexical + vector lists
# ---------------------------------------------------------------------------

_RRF_C = 60  # the standard RRF constant (Cormack et al. 2009)
_RRF_TOP = 50  # per-list candidate depth
_RRF_OUT = 10


def _rrf_sql() -> str:
    from datalakehouse_spark.registry_ext import (
        _DOT_COMPREHENSION,
        _NORM_E,
        _NORM_Q,
    )

    return f"""{_BM25_CORE_SQL},
lex AS (
    SELECT doc_id, round(score, 6) AS s FROM scored
    ORDER BY round(score, 6) DESC, doc_id LIMIT {_RRF_TOP}
),
lexr AS (
    SELECT doc_id AS item_id,
           CAST(row_number() OVER (ORDER BY s DESC, doc_id) AS BIGINT)
               AS bm25_rank
    FROM lex
),
knn AS (
    SELECT e.vec_id,
           round({_DOT_COMPREHENSION} / ({_NORM_E} * {_NORM_Q}), 9) AS cosine_sim
    FROM embeddings e
    CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q
    ORDER BY cosine_sim DESC, e.vec_id ASC LIMIT {_RRF_TOP}
),
vecr AS (
    SELECT vec_id AS item_id,
           CAST(row_number() OVER (ORDER BY cosine_sim DESC, vec_id) AS BIGINT)
               AS cos_rank
    FROM knn
),
fused AS (
    SELECT coalesce(l.item_id, v.item_id) AS item_id, l.bm25_rank, v.cos_rank
    FROM lexr l FULL JOIN vecr v ON l.item_id = v.item_id
)
SELECT item_id,
       round(coalesce(1.0 / ({_RRF_C} + bm25_rank), 0)
             + coalesce(1.0 / ({_RRF_C} + cos_rank), 0), 9) AS rrf_score,
       bm25_rank, cos_rank
FROM fused
ORDER BY rrf_score DESC, item_id
LIMIT {_RRF_OUT}
"""


@register(
    "hybrid_rrf_fusion",
    _rrf_sql(),
    "hybrid retrieval: reciprocal-rank fusion of BM25 + cosine top-k",
    eager=True,  # build/serve split: its vector list collects the 1-row query vector
)
def q_hybrid_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: fuse the lexical (``bm25_topk``'s scoring
    core, same fixed query) and vector (``knn_brute_force``'s cosine
    vs the vec_id=0 query) candidate lists with reciprocal-rank fusion
    — score(d) = sum over lists of 1/(60 + rank_d) — the standard
    score-scale-free way to combine retrievers whose raw scores are
    incomparable.  The fixtures key a document's embedding by the same
    id (dense 0..N in both tables), so item_id joins the two lists.

    Scale shape: each list is already a TakeOrderedAndProject top-50,
    so the fusion operates on two k-row frames — the full outer join
    and both rank windows are bounded by the LITERAL candidate depth
    (O(k) rows at ANY corpus size; the rank windows are allowlisted in
    the unpartitioned-window sweep on exactly that ground).  Ranks come
    from integer row numbers, so 1/(60+r) is bit-identical on any
    engine regardless of raw score ulps."""
    from pyspark.sql import Window

    from datalakehouse_spark.operators.similarity import knn_brute_force
    from datalakehouse_spark.registry_ext import _query_vec

    lex = (
        _bm25_scored(spark, sf_dir)
        .select("doc_id", F.round("score", 6).alias("s"))
        .orderBy(F.col("s").desc(), "doc_id")
        .limit(_RRF_TOP)
    )
    lexr = lex.select(
        F.col("doc_id").alias("item_id"),
        F.row_number()
        .over(Window.orderBy(F.col("s").desc(), F.col("doc_id")))
        .cast("long")
        .alias("bm25_rank"),
    )
    emb = load_table(spark, sf_dir, "embeddings")
    knn = knn_brute_force(emb, _query_vec(spark, sf_dir), k=_RRF_TOP)
    vecr = knn.select(
        F.col("vec_id").alias("item_id"),
        F.row_number()
        .over(Window.orderBy(F.col("cosine_sim").desc(), F.col("vec_id")))
        .cast("long")
        .alias("cos_rank"),
    )
    fused = lexr.join(vecr, "item_id", "full")
    rrf = F.coalesce(
        F.lit(1.0) / (F.lit(_RRF_C) + F.col("bm25_rank")), F.lit(0.0)
    ) + F.coalesce(F.lit(1.0) / (F.lit(_RRF_C) + F.col("cos_rank")), F.lit(0.0))
    return (
        fused.select(
            "item_id",
            F.round(rrf, 9).alias("rrf_score"),
            "bm25_rank",
            "cos_rank",
        )
        .orderBy(F.col("rrf_score").desc(), "item_id")
        .limit(_RRF_OUT)
    )


# ---------------------------------------------------------------------------
# quality_threshold_sweep: calibrate the quality-filter cutoff
# ---------------------------------------------------------------------------

_QT_THRESHOLDS = [round(0.1 * i, 1) for i in range(1, 10)]  # 0.1 .. 0.9


def _quality_sweep_sql() -> str:
    from datalakehouse_spark.registry_ext import _ratio_sql

    ts = ", ".join(str(t) for t in _QT_THRESHOLDS)
    return f"""
WITH n AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents),
f AS (
    SELECT doc_id,
           len(toks) AS n_tokens,
           len(list_distinct(toks)) / greatest(len(toks), 1) AS diversity,
           {_ratio_sql("en")} AS sw_en,
           length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))
               / greatest(length(text), 1) AS punct_ratio
    FROM n
),
q AS (
    SELECT doc_id, n_tokens, round(
          0.3 * (CASE WHEN n_tokens >= 10 AND n_tokens <= 100000
                      THEN 1.0 ELSE 0.2 END)
        + 0.3 * diversity
        + 0.3 * least(sw_en * 4, 1.0)
        + 0.1 * (1.0 - least(punct_ratio * 5, 1.0)), 6) AS quality_score
    FROM f
),
tot AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS total_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
    FROM q
)
SELECT t.threshold,
       CAST(COUNT(*) AS BIGINT) AS n_docs_kept,
       CAST(SUM(q.n_tokens) AS BIGINT) AS kept_tokens,
       round(COUNT(*) / CAST(tot.total_docs AS DOUBLE), 6) AS doc_keep_rate,
       round(SUM(q.n_tokens) / CAST(tot.total_tokens AS DOUBLE), 6)
           AS token_keep_rate
FROM q CROSS JOIN (SELECT unnest([{ts}]) AS threshold) t CROSS JOIN tot
WHERE q.quality_score >= t.threshold
GROUP BY t.threshold, tot.total_docs, tot.total_tokens
ORDER BY t.threshold
"""


@register(
    "quality_threshold_sweep",
    _quality_sweep_sql(),
    "quality-filter calibration: kept docs/tokens at each cutoff",
)
def q_quality_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration sweep for the quality filter: for each candidate
    cutoff 0.1..0.9, how many documents and tokens survive
    ``quality_score >= t`` — the survivorship curve a pipeline operator
    reads BEFORE committing a cutoff (the reference decision in every
    published web-text filter is exactly this trade between corpus mass
    and quality).

    Scale shape: ONE corpus scan computes the score, then each doc row
    fans out to the (literal, 9-element) threshold list — a bounded
    explode, never data-sized — and collapses straight into a
    9-group map-side-combinable aggregate; totals for the rates are a
    broadcast 1-row scalar (the crossJoin idiom).  No window, no
    second scan, no driver state."""
    from datalakehouse_spark.operators.textstats import quality_score

    docs = load_table(spark, sf_dir, "documents")
    q = quality_score(docs).select("doc_id", "n_tokens", "quality_score")
    tot = q.agg(
        F.count(F.lit(1)).cast("long").alias("total_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
    )
    thresholds = F.array(*[F.lit(t) for t in _QT_THRESHOLDS])
    return (
        q.select(
            "n_tokens",
            "quality_score",
            F.explode(thresholds).alias("threshold"),
        )
        .where(F.col("quality_score") >= F.col("threshold"))
        .crossJoin(F.broadcast(tot))
        .groupBy("threshold", "total_docs", "total_tokens")
        .agg(
            F.count(F.lit(1)).alias("n_docs_kept"),
            F.sum("n_tokens").cast("long").alias("kept_tokens"),
        )
        .select(
            "threshold",
            "n_docs_kept",
            "kept_tokens",
            F.round(F.col("n_docs_kept") / F.col("total_docs").cast("double"), 6)
                .alias("doc_keep_rate"),
            F.round(F.col("kept_tokens") / F.col("total_tokens").cast("double"), 6)
                .alias("token_keep_rate"),
        )
        .orderBy("threshold")
    )


# ---------------------------------------------------------------------------
# cross_source_dup_matrix: which sources duplicate which
# ---------------------------------------------------------------------------

_XSRC_SQL = f"""
WITH s AS (
    SELECT DISTINCT 'e' AS kind, md5({_NORM6}) AS h, source FROM documents
    UNION
    SELECT DISTINCT 'p' AS kind,
           md5(array_to_string(list_slice({_TOKS}, 1, {_LEAK_PREFIX_K}), ' '))
               AS h,
           source
    FROM documents
)
SELECT a.source AS source_a, b.source AS source_b,
       CAST(SUM(CASE WHEN a.kind = 'e' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_shared_exact,
       CAST(SUM(CASE WHEN a.kind = 'p' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_shared_prefix
FROM s a JOIN s b ON a.kind = b.kind AND a.h = b.h AND a.source < b.source
GROUP BY a.source, b.source
ORDER BY n_shared_prefix DESC, n_shared_exact DESC, source_a, source_b
"""


@register(
    "cross_source_dup_matrix",
    _XSRC_SQL,
    "provenance: per source pair, shared exact-dup + shared-prefix digests",
)
def q_cross_source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication provenance: for every ordered pair of sources, how
    many distinct content digests appear in BOTH — exact normalized
    text (mirrors/syndication) and shared 16-token prefixes (common
    boilerplate/templates) — the matrix that tells a pipeline operator
    which domains copy from which (licensing exposure, crawl overlap,
    mirror detection) before a global dedup silently collapses the
    evidence.

    Scale shape: one (kind, digest, source) DISTINCT (the dedup_exact
    shuffle, tagged), then a digest-keyed self-equi-join — the
    per-digest fan is bounded by the NUMBER OF SOURCES carrying it
    (domains, not documents: a digest in 10^6 docs across 3 sources
    contributes 3 rows/side), so pair work is
    O(digests x sources-per-digest^2), never document-pair space."""
    from datalakehouse_spark.operators.dedup import normalize_text
    from datalakehouse_spark.operators.textstats import tokens

    docs = load_table(spark, sf_dir, "documents")
    s = (
        docs.select(
            F.lit("e").alias("kind"),
            F.md5(normalize_text("text")).alias("h"),
            "source",
        )
        .unionByName(
            docs.select(
                F.lit("p").alias("kind"),
                F.md5(
                    F.array_join(F.slice(tokens("text"), 1, _LEAK_PREFIX_K), " ")
                ).alias("h"),
                "source",
            )
        )
        .distinct()
    )
    # round 17 negative result: generating the a<b pairs from a sorted
    # collect_set per (kind, digest) — one evaluation of the union, no
    # self-join — measured 0.76 → 1.12 s min-of-5 paired (control
    # improved): the nested higher-order pair comprehension runs
    # interpreted while the self-equi-join stays codegen'd; kept the
    # join form
    a = s.select("kind", "h", F.col("source").alias("source_a"))
    b = s.select("kind", "h", F.col("source").alias("source_b"))
    return (
        a.join(b, ["kind", "h"])
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(
            F.sum((F.col("kind") == "e").cast("long")).alias("n_shared_exact"),
            F.sum((F.col("kind") == "p").cast("long")).alias("n_shared_prefix"),
        )
        .orderBy(
            F.col("n_shared_prefix").desc(),
            F.col("n_shared_exact").desc(),
            "source_a",
            "source_b",
        )
    )


# ---------------------------------------------------------------------------
# multimodal_real_decode_stats: the REAL codecs on the oracle surface
# ---------------------------------------------------------------------------

_MRD_N = 100
_MRD_PNG_W, _MRD_PNG_H = 16, 4  # 64 grey pixels
_MRD_JPEG_BW = 4  # 4x4 constant 8x8 blocks -> 32x32 px from 16 bytes
_MRD_WAV_N = 64  # samples
_MRD_AVI_PX = 48  # 4x4 RGB24 bytes

_MRD_BYTES = f"[CAST(unicode(substr(t, i, 1)) AS DOUBLE) FOR i IN range(1, {_MRD_PNG_W * _MRD_PNG_H + 1})]"

_MRD_SQL = f"""
WITH d AS (
    SELECT doc_id, text AS t
    FROM (SELECT * FROM documents ORDER BY doc_id LIMIT {_MRD_N})
    WHERE length(text) >= {_MRD_PNG_W * _MRD_PNG_H}
      AND regexp_matches(text, '^[ -~]*$')
),
b AS (SELECT doc_id, {_MRD_BYTES} AS bv, t FROM d)
SELECT doc_id AS asset_id,
       {_MRD_PNG_W} AS png_w, {_MRD_PNG_H} AS png_h,
       round(list_reduce(bv, (a, x) -> a + x)
             / (255.0 * {_MRD_PNG_W * _MRD_PNG_H}), 9) AS png_mean_luma,
       {_MRD_JPEG_BW * 8} AS jpeg_w, {_MRD_JPEG_BW * 8} AS jpeg_h,
       round(list_reduce(list_slice(bv, 1, {_MRD_JPEG_BW * _MRD_JPEG_BW}),
                         (a, x) -> a + x)
             / (255.0 * {_MRD_JPEG_BW * _MRD_JPEG_BW}), 9) AS jpeg_mean_luma,
       {_MRD_WAV_N} AS wav_frames,
       round(sqrt(list_reduce(
                 [pow((x - 128) / 256.0, 2)
                  FOR x IN list_slice(bv, 1, {_MRD_WAV_N})],
                 (a, x) -> a + x) / {_MRD_WAV_N}), 9) AS wav_rms,
       round(list_max([abs(x - 128) / 256.0
                       FOR x IN list_slice(bv, 1, {_MRD_WAV_N})]), 9)
           AS wav_peak,
       1 AS avi_frames,
       md5(substr(t, 1, {_MRD_AVI_PX})) AS frame0_md5,
       CAST(bv[1] AS INTEGER) AS mp4_frames,
       bv[1] * 40.0 AS mp4_duration_ms,
       CAST(1 + CAST(bv[2] AS BIGINT) % 16 AS INTEGER) AS mp3_mpeg_frames,
       CAST((1 + CAST(bv[2] AS BIGINT) % 16) * 1152 AS BIGINT) AS mp3_samples,
       (1 + CAST(bv[2] AS BIGINT) % 16) * 1152 * 1000.0 / 32000
           AS mp3_duration_ms,
       round(list_reduce(list_slice(bv, 17, 32), (a, x) -> a + x)
             / (255.0 * 16), 9) AS gif_mean_luma,
       2 AS gif_frames
FROM b ORDER BY asset_id
"""


@register(
    "multimodal_real_decode_stats",
    _MRD_SQL,
    "REAL codec round trip on the oracle surface: PNG/WAV/AVI stats == byte math",
)
def q_multimodal_real_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Puts the REAL stdlib decode kernels (functions/png.py, wav.py,
    avi.py) on the bit-exact oracle surface: each document's leading
    text bytes are ENCODED into a grey PNG, a 16-bit WAV, and a 1-frame
    BI_RGB AVI, then DECODED with the real kernels inside mapInPandas.
    The encode parameters are chosen so the round trip cancels into
    plain byte arithmetic — grey-pixel luma == the pixel byte, WAV
    samples land on exact 16-bit values ((b-128)*128, decoding to the
    dyadic (b-128)/256), and the AVI frame must hand back the exact
    input bytes — so DuckDB can verify every decoded statistic from the
    text alone, and ANY codec defect (filter math, sample scaling, row
    order, padding) breaks a hash-compared equality instead of hiding
    behind a rows-only check.

    JPEG slice (round 11, functions/jpeg.py): each of the first 16
    text bytes becomes one CONSTANT 8x8 block of a 32x32 grayscale
    baseline JPEG encoded with all-ones quant tables; a constant block
    has only a DC coefficient, 8*(b-128) — an exact integer — so the
    lossy-in-general DCT round trip is EXACT here under any conforming
    IDCT, and the 64-fold pixel replication cancels in the mean:
    jpeg_mean_luma == sum(first 16 bytes)/(255*16).  Any defect
    in Huffman tables, DC prediction, dequant, IDCT scaling, or block
    placement shifts the mean and breaks the hash compare.

    MP4 slice (round 11, functions/mp4.py): the first text byte is the
    frame count of a generated ISO-BMFF stub (fps 25 at timescale 600:
    delta 24 divides exactly, so the parsed stts arithmetic is integer)
    whose box tree the parser must walk back to
    (n_frames == byte, duration_ms == byte * 40.0) — exact doubles on
    both engines.

    MP3 slice (round 11, functions/mp3.py): 1 + (second byte mod 16)
    MPEG-1 Layer-III frames at 32 kHz are emitted and the frame walker
    must count them back (samples == frames * 1152; duration ==
    samples * 1000 / 32000 = frames * 36.0 — exact in IEEE doubles on
    both engines).

    GIF slice (round 11, functions/gif.py): bytes 17..32 index a
    256-gray palette (luma(i,i,i) == i exactly under the ITU integer
    formula), written as a TWO-frame animated GIF — the decoder
    renders frame one (gif_mean_luma == sum(bytes 17..32)/(255*16))
    and structurally counts the second (gif_frames == 2), so LZW,
    palette mapping, and the frame walk are all on the hash-compared
    surface.

    Scale shape: a bounded 100-asset mapInPandas pass (the multimodal
    contract: Arrow batches, no driver traffic); ASCII/length filters
    are applied identically on both engines after the same ORDER
    BY/LIMIT."""
    import pandas as _pd

    docs = load_table(spark, sf_dir, "documents")
    d = (
        docs.orderBy("doc_id")
        .limit(_MRD_N)
        .where(
            (F.length("text") >= _MRD_PNG_W * _MRD_PNG_H)
            & F.col("text").rlike("^[ -~]*$")
        )
        .select("doc_id", "text")
        # the global LIMIT collapses to one partition; spread the
        # bounded asset set so the pure-Python codec work runs on
        # multiple cores (row order is irrelevant — the final orderBy
        # sorts).  4 slices balance codec parallelism against the
        # per-task Arrow/scheduling overhead at this 100-asset size;
        # at real corpus scale the repartition width scales with the
        # asset count.
        .repartition(4)
    )

    schema = (
        "asset_id long, png_w int, png_h int, png_mean_luma double, "
        "jpeg_w int, jpeg_h int, jpeg_mean_luma double, "
        "wav_frames int, wav_rms double, wav_peak double, "
        "avi_frames int, frame0_md5 string, "
        "mp4_frames int, mp4_duration_ms double, "
        "mp3_mpeg_frames int, mp3_samples long, mp3_duration_ms double, "
        "gif_mean_luma double, gif_frames int"
    )

    def batches(it):
        import hashlib as _hl

        from datalakehouse_spark.functions.avi import (
            avi_iter_frames,
            avi_video_stats,
            encode_avi,
        )
        from datalakehouse_spark.functions.gif import (
            decode_gif,
            encode_gif,
            gif_descriptor_offset,
        )
        from datalakehouse_spark.functions.jpeg import encode_jpeg, jpeg_luma_stats
        from datalakehouse_spark.functions.mp3 import (
            encode_mp3_stub,
            mp3_audio_stats,
        )
        from datalakehouse_spark.functions.mp4 import (
            encode_mp4_stub,
            mp4_video_stats,
        )
        from datalakehouse_spark.functions.png import encode_png
        from datalakehouse_spark.functions.wav import encode_wav, wav_pcm_stats
        from datalakehouse_spark.operators.multimodal import decode_image

        def _block_replicate(pix: bytes, bw: int, bh: int) -> bytes:
            # byte i -> constant 8x8 block at (i // bw, i % bw)
            width = bw * 8
            out = bytearray(width * bh * 8)
            for i, v in enumerate(pix):
                brow, bcol = divmod(i, bw)
                for x in range(8):
                    off = (brow * 8 + x) * width + bcol * 8
                    out[off : off + 8] = bytes([v]) * 8
            return bytes(out)

        for pdf in it:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                bts = text.encode("utf-8")
                pix = bts[: _MRD_PNG_W * _MRD_PNG_H]
                w, h, luma = decode_image(
                    encode_png(_MRD_PNG_W, _MRD_PNG_H, pix, color_type=0)
                )
                jw, jh, jluma = jpeg_luma_stats(
                    encode_jpeg(
                        _MRD_JPEG_BW * 8,
                        _MRD_JPEG_BW * 8,
                        _block_replicate(
                            pix[: _MRD_JPEG_BW * _MRD_JPEG_BW],
                            _MRD_JPEG_BW,
                            _MRD_JPEG_BW,
                        ),
                    )
                )
                samples = [
                    (x - 128) * 128.0 / 32767.0 for x in bts[:_MRD_WAV_N]
                ]
                _, _, frames, _, rms, peak = wav_pcm_stats(
                    encode_wav(samples, sample_rate=8000)
                )
                rgb = bts[:_MRD_AVI_PX]
                avi = encode_avi([rgb], 4, 4, fps=10)
                _, _, _, n_frames, _ = avi_video_stats(avi)
                ((_, frame0),) = avi_iter_frames(avi)
                _, _, _, m_frames, m_dur = mp4_video_stats(
                    encode_mp4_stub(64, 48, bts[0], fps=25.0, timescale=600)
                )
                n_mp3 = 1 + bts[1] % 16
                _, _, a_mpeg, a_samples, a_dur = mp3_audio_stats(
                    encode_mp3_stub(n_mp3, 32000, 128)
                )
                grays = [(i, i, i) for i in range(256)]
                gpix = bts[16:32]
                frame1 = encode_gif(16, 1, gpix, grays)
                frame2 = encode_gif(16, 1, bytes(16), grays)
                animated = (
                    frame1[:-1] + frame2[gif_descriptor_offset(grays) :]
                )
                gw_, gh_, gluma, g_n = decode_gif(animated)
                g_mean = sum(gluma) / (255.0 * gw_ * gh_)
                rows.append(
                    (
                        doc_id, w, h, round(luma, 9),
                        jw, jh, round(jluma, 9),
                        frames, round(rms, 9), round(peak, 9),
                        n_frames, _hl.md5(frame0).hexdigest(),
                        m_frames, m_dur,
                        a_mpeg, a_samples, a_dur,
                        round(g_mean, 9), g_n,
                    )
                )
            yield _pd.DataFrame(
                rows,
                columns=[
                    "asset_id", "png_w", "png_h", "png_mean_luma",
                    "jpeg_w", "jpeg_h", "jpeg_mean_luma",
                    "wav_frames", "wav_rms", "wav_peak",
                    "avi_frames", "frame0_md5",
                    "mp4_frames", "mp4_duration_ms",
                    "mp3_mpeg_frames", "mp3_samples", "mp3_duration_ms",
                    "gif_mean_luma", "gif_frames",
                ],
            )

    return d.mapInPandas(batches, schema=schema).orderBy("asset_id")


# ---------------------------------------------------------------------------
# mjpeg_avi_decode: real compressed-video PIXELS on the oracle surface
# (round 12, VERDICT r11 #4)
# ---------------------------------------------------------------------------

_MJA_N = 60
_MJA_BW = 4  # 4x4 constant 8x8 blocks -> 32x32 px per frame
_MJA_FPS = 5

_MJA_BYTES = "[CAST(unicode(substr(t, i, 1)) AS DOUBLE) FOR i IN range(1, 33)]"


def _mja_frame_md5_sql(offset: int) -> str:
    """DuckDB reconstruction of the DECODED RGB24 frame bytes of a
    constant-block MJPEG frame: byte k paints an 8x8 block, each gray
    pixel expands r=g=b, so one block-row of the plane is
    ``repeat(char, 24)`` per block concatenated, repeated 8x for the 8
    scanlines — md5 of that string IS the frame fingerprint the Spark
    side computes with hashlib over the decoder's output."""
    rows = []
    for br in range(_MJA_BW):
        row = "||".join(
            f"repeat(substr(t, {offset + br * _MJA_BW + bc + 1}, 1), 24)"
            for bc in range(_MJA_BW)
        )
        rows.append(f"repeat({row}, 8)")
    return "md5(" + " || ".join(rows) + ")"


_MJA_SQL = f"""
WITH d AS (
    SELECT doc_id, text AS t
    FROM (SELECT * FROM documents ORDER BY doc_id LIMIT {_MJA_N})
    WHERE length(text) >= 32
      AND regexp_matches(text, '^[ -~]*$')
),
b AS (SELECT doc_id, {_MJA_BYTES} AS bv, t FROM d)
SELECT doc_id AS asset_id,
       {_MJA_BW * 8} AS width, {_MJA_BW * 8} AS height,
       2 AS n_frames,
       {2 * 1000.0 / _MJA_FPS} AS duration_ms,
       round(list_reduce(list_slice(bv, 1, 16), (a, x) -> a + x)
             / (255.0 * 16), 9) AS f0_mean_luma,
       round(list_reduce(list_slice(bv, 17, 32), (a, x) -> a + x)
             / (255.0 * 16), 9) AS f1_mean_luma,
       {_mja_frame_md5_sql(0)} AS f0_md5,
       {_mja_frame_md5_sql(16)} AS f1_md5,
       TRUE AS dhtless_matches
FROM b ORDER BY asset_id
"""


@register(
    "mjpeg_avi_decode",
    _MJA_SQL,
    "MJPEG-in-AVI pixel decode: container walk + JPEG entropy decode == byte math",
)
def q_mjpeg_avi_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real PIXELS for a COMPRESSED video format in pure stdlib
    (round 12): each document's leading bytes become two constant-block
    32x32 grayscale JPEG frames (the DC-only exact-round-trip trick of
    the jpeg slice in ``multimodal_real_decode_stats``) wrapped in an
    MJPEG AVI container (functions/avi.py ``encode_avi_mjpeg``), then
    decoded frame-by-frame with ``avi_iter_frames`` — the RIFF movi
    walk feeding functions/jpeg.py's entropy decoder.  Per-frame mean
    luma must equal plain byte arithmetic, AND the md5 of the decoded
    RGB24 frame bytes must equal DuckDB's md5 over the same plane
    reconstructed by string replication (byte -> repeat(char, 24) per
    block-row scanline, x8 scanlines) — the exact frame FINGERPRINT on
    the oracle surface, so any defect in the chunk walk, frame
    ordering, Huffman decode, DC prediction, or the gray->RGB24
    normalization breaks the hash compare.

    The same frames are ALSO encoded with their Huffman tables
    STRIPPED — the real-world OpenDML MJPEG shape — and must decode
    bit-identically via the Annex-K standard-table splice
    (``_ensure_dht``); ``dhtless_matches`` pins that on the oracle
    surface.

    Scale shape: a bounded 60-asset mapInPandas pass (Arrow batches,
    payloads never touch the driver), repartitioned so the pure-Python
    codec work spreads across cores; at corpus scale the width follows
    the asset count.  Reference anchor: the reference treats media as
    opaque payload columns (SURVEY §2 multimodal); the decode kernels
    are the scale path a training-data pipeline bolts on."""
    import pandas as _pd

    docs = load_table(spark, sf_dir, "documents")
    d = (
        docs.orderBy("doc_id")
        .limit(_MJA_N)
        .where((F.length("text") >= 32) & F.col("text").rlike("^[ -~]*$"))
        .select("doc_id", "text")
        .repartition(4)
    )

    schema = (
        "asset_id long, width int, height int, n_frames int, "
        "duration_ms double, f0_mean_luma double, f1_mean_luma double, "
        "f0_md5 string, f1_md5 string, dhtless_matches boolean"
    )

    def batches(it):
        import hashlib as _hl

        from datalakehouse_spark.functions.avi import (
            avi_iter_frames,
            avi_video_stats,
            encode_avi_mjpeg,
        )
        from datalakehouse_spark.functions.jpeg import encode_jpeg

        def _block_replicate(pix: bytes) -> bytes:
            width = _MJA_BW * 8
            out = bytearray(width * width)
            for i, v in enumerate(pix):
                brow, bcol = divmod(i, _MJA_BW)
                for x in range(8):
                    off = (brow * 8 + x) * width + bcol * 8
                    out[off : off + 8] = bytes([v]) * 8
            return bytes(out)

        px = _MJA_BW * 8
        for pdf in it:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                bts = text.encode("utf-8")
                jpegs = [
                    encode_jpeg(px, px, _block_replicate(bts[:16])),
                    encode_jpeg(px, px, _block_replicate(bts[16:32])),
                ]
                avi = encode_avi_mjpeg(jpegs, px, px, fps=_MJA_FPS)
                w, h, _fps, n, dur = avi_video_stats(avi)
                frames = [rgb for _i, rgb in avi_iter_frames(avi)]
                lumas = [rgb[0::3] for rgb in frames]
                means = [sum(l) / (255.0 * len(l)) for l in lumas]
                digests = [_hl.md5(rgb).hexdigest() for rgb in frames]
                bare = encode_avi_mjpeg(jpegs, px, px, fps=_MJA_FPS, strip_dht=True)
                dhtless = [rgb for _i, rgb in avi_iter_frames(bare)]
                rows.append(
                    (
                        doc_id, w, h, n, dur,
                        round(means[0], 9), round(means[1], 9),
                        digests[0], digests[1],
                        dhtless == frames,
                    )
                )
            yield _pd.DataFrame(
                rows,
                columns=[
                    "asset_id", "width", "height", "n_frames",
                    "duration_ms", "f0_mean_luma", "f1_mean_luma",
                    "f0_md5", "f1_md5", "dhtless_matches",
                ],
            )

    return d.mapInPandas(batches, schema=schema).orderBy("asset_id")


# ---------------------------------------------------------------------------
# bucketed_colocated_join: shuffle-free fact-fact join via table bucketing
# (round 12)
# ---------------------------------------------------------------------------

_BCJ_SQL = f"""
SELECT o.o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       {dsum_duckdb("l.l_extendedprice * (1 - l.l_discount)", 4)} AS revenue
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderpriority
ORDER BY o_orderpriority
"""


@register(
    "bucketed_colocated_join",
    _BCJ_SQL,
    "orderkey fact-fact join over same-bucketed tables: no join-side Exchange",
    # materializing surface: bucketed-table writes (memoized in the session
    # catalog)
    eager=True,
)
def q_bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB shuffle-elimination play the scale mandate names
    outright — "bucketing for co-located joins": both fact tables are
    materialized bucketed on the join key (operators/colocate.py,
    8 buckets, sorted), so the orderkey join reads co-located buckets
    and the physical plan has NO Exchange under the SortMergeJoin on
    either side (asserted in tests/test_plans.py with broadcast
    disabled; the only shuffles left are the 5-group aggregate and the
    final sort).  The write cost is paid once per session/table; every
    later join or aggregation on the key rides the same layout —
    Spark's native equivalent of the reference's keyed write
    distribution (create.sql:53-56).

    The oracle verifies VALUES from the original parquet: bucketing
    must be a pure layout change (row-identical revenue per priority).

    Build note: the bucketed materialization runs Spark jobs at build
    time (registered eager); within a session it is memoized via the
    catalog, so the timed metric is the exchange-free read path."""
    from datalakehouse_spark.operators.colocate import (
        bucket_tag,
        ensure_bucketed_table,
    )

    tag = bucket_tag(sf_dir)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    # n_buckets=8 is an explicit FIXTURE-scale choice (sf<=0.1); the
    # API default derives from defaultParallelism (the capacity rule)
    t_o = ensure_bucketed_table(
        spark, orders, f"bkt_orders_{tag}", "o_orderkey", n_buckets=8
    )
    t_l = ensure_bucketed_table(
        spark, li, f"bkt_lineitem_{tag}", "l_orderkey", n_buckets=8
    )
    return (
        t_l.join(t_o, t_l["l_orderkey"] == t_o["o_orderkey"])
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias(
                "revenue"
            ),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# tiff_image_decode: baseline TIFF pixels on the oracle surface (round 12)
# ---------------------------------------------------------------------------

_TIF_N = 60
_TIF_W, _TIF_H = 16, 4  # gray: 64 px == 64 text bytes

_TIF_BYTES = "[CAST(unicode(substr(t, i, 1)) AS BIGINT) FOR i IN range(1, 65)]"

# the house ITU-R 601-2 integer luma, mirrored bit-for-bit in SQL
_TIF_RGB_LUMA = (
    "[(bv[3*i + 1] * 19595 + bv[3*i + 2] * 38470 + bv[3*i + 3] * 7471 "
    "+ 32768) >> 16 FOR i IN range(0, 16)]"
)

_TIF_SQL = f"""
WITH d AS (
    SELECT doc_id, text AS t
    FROM (SELECT * FROM documents ORDER BY doc_id LIMIT {_TIF_N})
    WHERE length(text) >= 64
      AND regexp_matches(text, '^[ -~]*$')
),
b AS (SELECT doc_id, {_TIF_BYTES} AS bv, t FROM d)
SELECT doc_id AS asset_id,
       {_TIF_W} AS tiff_w, {_TIF_H} AS tiff_h,
       round(list_reduce(bv, (a, x) -> a + x)
             / (255.0 * {_TIF_W * _TIF_H}), 9) AS gray_mean_luma,
       md5(substr(t, 1, 64)) AS gray_md5,
       round(list_reduce({_TIF_RGB_LUMA}, (a, x) -> a + x)
             / (255.0 * 16), 9) AS rgb_mean_luma,
       TRUE AS endian_match,
       TRUE AS lzw_match,
       TRUE AS deflate_match,
       TRUE AS packbits_match,
       TRUE AS tiled_match,
       TRUE AS deep16_match
FROM b ORDER BY asset_id
"""


@register(
    "tiff_image_decode",
    _TIF_SQL,
    "baseline TIFF pixel decode: gray passthrough + integer RGB luma == byte math",
)
def q_tiff_image_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round 12: the baseline-TIFF kernel (functions/tiff.py) on the
    bit-exact oracle surface, through the ``decode_image`` dispatch.
    Each document's leading bytes become (a) a 16x4 grayscale TIFF —
    decoded luma must hand back the exact input bytes, pinned by both
    the mean and the md5 of the plane — and (b) a 4x4 RGB TIFF whose
    luma DuckDB recomputes with the SAME ITU-R 601-2 integer formula
    ((r*19595 + g*38470 + b*7471 + 32768) >> 16, the constant set
    functions/png.py uses, so PNG/TIFF/BMP fingerprints agree).
    ``endian_match`` pins that the little- and big-endian encodings of
    the same pixels decode identically (inline SHORT values are
    left-justified in the value field — the classic byte-order bug).

    Round 13: the compressed profiles join the driver loop —
    ``lzw_match`` (the MSB-first EarlyChange TIFF LZW dialect, plain,
    with the horizontal-differencing predictor, and big-endian),
    ``deflate_match`` (zlib strips, plain and predictor), and
    ``packbits_match`` pin that every compressed encoding of the gray
    plane decodes byte-identical to the uncompressed one the md5
    column already anchors; ``tiled_match`` does the same for the
    TILED layout (tags 322-325 — edge-padded 16x16 tiles, plain and
    LZW+predictor); ``deep16_match`` pins that 16-bit samples (v*257,
    so the high byte IS v) reduce to the same plane in both byte
    orders, strip and tiled, with and without the predictor (round
    14: per-16-bit-sample mod-65536 differencing).

    Scale shape: bounded 60-asset mapInPandas, same contract as the
    other decode entries."""
    import pandas as _pd

    docs = load_table(spark, sf_dir, "documents")
    d = (
        docs.orderBy("doc_id")
        .limit(_TIF_N)
        .where((F.length("text") >= 64) & F.col("text").rlike("^[ -~]*$"))
        .select("doc_id", "text")
        .repartition(4)
    )

    schema = (
        "asset_id long, tiff_w int, tiff_h int, gray_mean_luma double, "
        "gray_md5 string, rgb_mean_luma double, endian_match boolean, "
        "lzw_match boolean, deflate_match boolean, packbits_match boolean, "
        "tiled_match boolean, deep16_match boolean"
    )

    def batches(it):
        import hashlib as _hl

        from datalakehouse_spark.functions.tiff import decode_tiff, encode_tiff
        from datalakehouse_spark.operators.multimodal import decode_image

        for pdf in it:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                bts = text.encode("utf-8")[:64]
                w, h, mean = decode_image(encode_tiff(_TIF_W, _TIF_H, bts))
                _, _, luma = decode_tiff(encode_tiff(_TIF_W, _TIF_H, bts))
                rgb_le = decode_tiff(encode_tiff(4, 4, bts[:48], color=True))
                rgb_be = decode_tiff(
                    encode_tiff(4, 4, bts[:48], color=True, big_endian=True)
                )
                gray_be = decode_tiff(
                    encode_tiff(_TIF_W, _TIF_H, bts, big_endian=True)
                )
                rgb_mean = sum(rgb_le[2]) / (255.0 * 16)

                def _plane(**kw):
                    return decode_tiff(encode_tiff(_TIF_W, _TIF_H, bts, **kw))[2]

                lzw_ok = (
                    _plane(compression="lzw") == luma
                    and _plane(compression="lzw", predictor=True) == luma
                    and _plane(compression="lzw", big_endian=True) == luma
                )
                deflate_ok = (
                    _plane(compression="deflate") == luma
                    and _plane(compression="deflate", predictor=True) == luma
                )
                packbits_ok = _plane(compression="packbits") == luma
                tiled_ok = (
                    _plane(tile_size=16) == luma
                    and _plane(compression="lzw", predictor=True, tile_size=16)
                    == luma
                )
                px16 = [v * 257 for v in bts]
                deep16_ok = all(
                    decode_tiff(
                        encode_tiff(
                            _TIF_W, _TIF_H, px16, big_endian=be,
                            tile_size=ts, bits=16, predictor=pred,
                        )
                    )[2]
                    == luma
                    for be in (False, True)
                    for ts in (None, 16)
                    # round 14: predictor composes with 16-bit samples
                    # (per-sample mod-65536 differencing)
                    for pred in (False, True)
                )
                rows.append(
                    (
                        doc_id, w, h, round(mean, 9),
                        _hl.md5(luma).hexdigest(),
                        round(rgb_mean, 9),
                        rgb_le == rgb_be and luma == gray_be[2],
                        lzw_ok, deflate_ok, packbits_ok, tiled_ok,
                        deep16_ok,
                    )
                )
            yield _pd.DataFrame(
                rows,
                columns=[
                    "asset_id", "tiff_w", "tiff_h", "gray_mean_luma",
                    "gray_md5", "rgb_mean_luma", "endian_match",
                    "lzw_match", "deflate_match", "packbits_match",
                    "tiled_match", "deep16_match",
                ],
            )

    return d.mapInPandas(batches, schema=schema).orderBy("asset_id")


# ---------------------------------------------------------------------------
# cross_format_image_dedup: pixel-fingerprint dedup across containers
# (round 12)
# ---------------------------------------------------------------------------

_XFD_N = 60

_XFD_SQL = f"""
WITH d AS (
    SELECT doc_id, text AS t
    FROM (SELECT * FROM documents ORDER BY doc_id LIMIT {_XFD_N})
    WHERE length(text) >= 64
      AND regexp_matches(text, '^[ -~]*$')
),
q AS (
    SELECT doc_id,
           md5(list_reduce(
               [chr(CAST((unicode(substr(t, i, 1)) // 8) * 8
                    + (unicode(substr(t, i, 1)) // 8) // 4 AS INTEGER))
                FOR i IN range(1, 65)],
               (a, x) -> a || x)) AS pm
    FROM d
)
SELECT pm AS pixel_md5,
       CAST(8 * COUNT(*) AS BIGINT) AS n_assets,
       16 AS width, 4 AS height
FROM q
GROUP BY pm
ORDER BY pixel_md5
"""


@register(
    "cross_format_image_dedup",
    _XFD_SQL,
    "cross-container pixel dedup: 8 containers of the same pixels collapse",
)
def q_cross_format_image_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multimodal dedup operator a training corpus needs: the SAME
    image circulates re-encoded across containers, and byte-level
    dedup misses it — pixel-level fingerprints
    (``operators.multimodal.image_fingerprints``: decode to the 8-bit
    luma plane, md5) collapse them.  Each document's leading 64 bytes
    quantize onto the RGB555 lattice (round 13 — so the 16-bit
    re-encoding is lossless) and are encoded as gray PNG, 24-bit BMP
    (r=g=b), baseline TIFF, a gray-palette GIF, a 16-bit RGB555 BMP,
    an ICO wrapping the same PNG (the favicon re-encoding), a QOI
    (real RUN/INDEX/DIFF/LUMA compressed stream), and a PCX (RLE
    scanlines, identity VGA palette) — EIGHT byte-DIFFERENT payloads
    of byte-IDENTICAL pixels — and the fingerprint groupBy must
    collapse every doc's eight formats into ONE cluster (n_assets =
    8 x docs sharing that content; two
    docs with identical leading bytes merge too, exactly like real
    dedup).  The oracle needs no codec at all: the shared ITU-R 601-2
    integer luma maps gray pixels to themselves in all eight kernels,
    so the fingerprint is md5 of the 5-bit-expanded text bytes, which
    DuckDB rebuilds with chr() (expanded values stay ASCII).

    Scale shape: synthesize (1->4 fan-out) and fingerprint are
    back-to-back mapInPandas passes (no shuffle, no driver traffic);
    the dedup groupBy shuffles digest-sized rows — the dedup_exact
    shape, never pixels."""
    import pandas as _pd

    from datalakehouse_spark.operators.multimodal import image_fingerprints

    docs = load_table(spark, sf_dir, "documents")
    d = (
        docs.orderBy("doc_id")
        .limit(_XFD_N)
        .where((F.length("text") >= 64) & F.col("text").rlike("^[ -~]*$"))
        .select("doc_id", "text")
        .repartition(4)
    )

    def synth(it):
        from datalakehouse_spark.functions.bmp import (
            encode_bmp, encode_bmp16, quantize_rgb555)
        from datalakehouse_spark.functions.gif import encode_gif
        from datalakehouse_spark.functions.ico import encode_ico
        from datalakehouse_spark.functions.pcx import encode_pcx
        from datalakehouse_spark.functions.png import encode_png
        from datalakehouse_spark.functions.qoi import encode_qoi
        from datalakehouse_spark.functions.tiff import encode_tiff

        grays = [(i, i, i) for i in range(256)]
        for pdf in it:
            ids, payloads = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                raw = text.encode("utf-8")[:64]
                # project onto the RGB555 lattice so the 16-bit BMP
                # carries the SAME pixels as its 8-bit-channel siblings
                bts = quantize_rgb555(raw)
                rgb = bytes(v for b in bts for v in (b, b, b))
                png = encode_png(16, 4, bts, color_type=0)
                for k, p in enumerate(
                    (
                        png,
                        encode_bmp(16, 4, rgb),
                        encode_tiff(16, 4, bts),
                        encode_gif(16, 4, bts, grays),
                        encode_bmp16(16, 4, rgb, 555),
                        encode_ico([(16, 4, png, "png")]),
                        encode_qoi(16, 4, rgb),
                        encode_pcx(16, 4, bts, "gray"),
                    )
                ):
                    ids.append(int(doc_id) * 8 + k)
                    payloads.append(p)
            yield _pd.DataFrame({"asset_id": ids, "payload": payloads})

    assets = d.mapInPandas(synth, schema="asset_id long, payload binary")
    return (
        image_fingerprints(assets)
        .groupBy("pixel_md5")
        .agg(
            F.count(F.lit(1)).alias("n_assets"),
            F.min("width").alias("width"),
            F.min("height").alias("height"),
        )
        .orderBy("pixel_md5")
    )


# ---------------------------------------------------------------------------
# container_metadata_stats: MKV/Ogg/Opus/FLAC metadata walkers on the
# oracle surface (round 12)
# ---------------------------------------------------------------------------

_CMS_N = 60

_CMS_BYTES = "[CAST(unicode(substr(t, i, 1)) AS BIGINT) FOR i IN range(1, 5)]"

_CMS_SQL = f"""
WITH d AS (
    SELECT doc_id, text AS t
    FROM (SELECT * FROM documents ORDER BY doc_id LIMIT {_CMS_N})
    WHERE length(text) >= 4
      AND regexp_matches(text, '^[ -~]*$')
),
b AS (SELECT doc_id, {_CMS_BYTES} AS bv FROM d)
SELECT doc_id AS asset_id,
       CAST(2 * (1 + bv[1]) AS INTEGER) AS mkv_w,
       CAST(1 + bv[2] AS INTEGER) AS mkv_h,
       CAST(1 + bv[1] % 24 AS INTEGER) AS mkv_frames,
       25.0 AS mkv_fps,
       (1 + bv[1] % 24) * 40.0 AS mkv_duration_ms,
       8000 AS ogg_rate,
       CAST(1 + bv[2] % 2 AS INTEGER) AS ogg_ch,
       CAST((1 + bv[2]) * 256 AS BIGINT) AS ogg_samples,
       (1 + bv[2]) * 256 * 1000.0 / 8000 AS ogg_duration_ms,
       48000 AS opus_rate,
       CAST((1 + bv[3]) * 120 AS BIGINT) AS opus_samples,
       (1 + bv[3]) * 120 * 1000.0 / 48000 AS opus_duration_ms,
       16000 AS flac_rate,
       CAST(1 + bv[4] % 8 AS INTEGER) AS flac_ch,
       CAST((1 + bv[4]) * 100 AS BIGINT) AS flac_samples,
       (1 + bv[4]) * 100 * 1000.0 / 16000 AS flac_duration_ms
FROM b ORDER BY asset_id
"""


@register(
    "container_metadata_stats",
    _CMS_SQL,
    "MKV/Ogg/Opus/FLAC metadata walkers: container math == byte math",
)
def q_container_metadata_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round 12: the three new pure-stdlib container walkers on the
    bit-exact oracle surface, THROUGH the dispatch layer
    (``decode_video`` / ``decode_audio``) rather than the kernels
    directly — so magic routing is under test too.  Each document's
    leading bytes parameterize

    - an MKV stub (functions/mkv.py): byte-derived dims and frame
      count at fps 25; the EBML walk must hand back exactly what the
      writer declared (SimpleBlock counting included — the stub emits
      one block per frame),
    - an Ogg Vorbis stub (functions/ogg.py): byte-derived channel
      count and sample total carried by the LAST page's granule,
    - an Ogg Opus stub: granules tick at 48 kHz and embed the 312
      pre-skip the parser must subtract,
    - a FLAC stub (functions/flac.py): the STREAMINFO 64-bit bitfield
      (rate 20 bits / channels 3 / total 36).

    Every emitted duration is dyadic-exact (multiples of 1/48 ms via
    n*120 samples, 1/8 ms, 1/16 ms) so the doubles compare bit-equal
    across engines.

    Scale shape: bounded 60-asset mapInPandas (Arrow batches, no
    driver traffic), repartitioned for core spread — the identical
    contract as the other decode entries."""
    import pandas as _pd

    docs = load_table(spark, sf_dir, "documents")
    d = (
        docs.orderBy("doc_id")
        .limit(_CMS_N)
        .where((F.length("text") >= 4) & F.col("text").rlike("^[ -~]*$"))
        .select("doc_id", "text")
        .repartition(4)
    )

    schema = (
        "asset_id long, mkv_w int, mkv_h int, mkv_frames int, "
        "mkv_fps double, mkv_duration_ms double, "
        "ogg_rate int, ogg_ch int, ogg_samples long, ogg_duration_ms double, "
        "opus_rate int, opus_samples long, opus_duration_ms double, "
        "flac_rate int, flac_ch int, flac_samples long, flac_duration_ms double"
    )

    def batches(it):
        from datalakehouse_spark.functions.flac import encode_flac_stub
        from datalakehouse_spark.functions.mkv import encode_mkv_stub
        from datalakehouse_spark.functions.ogg import encode_ogg_stub
        from datalakehouse_spark.operators.multimodal import (
            decode_audio,
            decode_video,
        )

        for pdf in it:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                b = text.encode("utf-8")[:4]
                mw, mh, mn = 2 * (1 + b[0]), 1 + b[1], 1 + b[0] % 24
                w, h, fps, nf, mdur = decode_video(
                    encode_mkv_stub(mw, mh, mn, fps=25.0, webm=bool(b[0] % 2))
                )
                v_ch, v_n = 1 + b[1] % 2, (1 + b[1]) * 256
                vr, vch, vn, vdur, _, _ = decode_audio(
                    encode_ogg_stub(v_n, 8000, v_ch)
                )
                o_n = (1 + b[2]) * 120
                orate, _och, on, odur, _, _ = decode_audio(
                    encode_ogg_stub(o_n, 48000, 1, opus=True)
                )
                f_ch, f_n = 1 + b[3] % 8, (1 + b[3]) * 100
                fr, fch, fn, fdur, _, _ = decode_audio(
                    encode_flac_stub(f_n, 16000, f_ch)
                )
                rows.append(
                    (
                        doc_id, w, h, nf, fps, mdur,
                        vr, vch, vn, vdur,
                        orate, on, odur,
                        fr, fch, fn, fdur,
                    )
                )
            yield _pd.DataFrame(
                rows,
                columns=[
                    "asset_id", "mkv_w", "mkv_h", "mkv_frames",
                    "mkv_fps", "mkv_duration_ms",
                    "ogg_rate", "ogg_ch", "ogg_samples", "ogg_duration_ms",
                    "opus_rate", "opus_samples", "opus_duration_ms",
                    "flac_rate", "flac_ch", "flac_samples", "flac_duration_ms",
                ],
            )

    return d.mapInPandas(batches, schema=schema).orderBy("asset_id")


# ---------------------------------------------------------------------------
# S1 live path: the real readStream.format(...) reader over the filebus
# broker emulator (round 10)
# ---------------------------------------------------------------------------

_FILEBUS_SQL = """
SELECT event_id, user_id, event_type, value
FROM (SELECT * FROM events ORDER BY event_id LIMIT 400)
"""


@register(
    "filebus_kafka_ingest",
    _FILEBUS_SQL,
    "S1 live: readStream.format('filebus') Kafka-shaped source, offsets+checkpoint",
    # materializing surface: produces a bounded 400-row feed, then drains the
    # filebus stream into a memory sink
    eager=True,
)
def q_filebus_kafka_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL streaming-source API path for S1 (create.sql:72-121),
    executed live: 400 fixture events are produced onto a 3-partition
    directory-backed topic log, then ``build_kafka_reader`` — the
    production Kafka builder, format string swapped to the pure-Python
    ``filebus`` DataSource — drains them through readStream → Kafka
    wire schema → value.cast(string) → from_json, with offsets flowing
    through a real checkpoint.  The oracle is the same 400 rows read
    relationally: what went onto the bus must come back typed and
    bit-identical through the streaming plan.

    Scale: parallelism = topic partitions (Kafka's model); the JSON
    payload round-trip preserves doubles exactly (shortest-repr emit,
    exact parse).  Python DataSource streams can't declare
    Trigger.AvailableNow support, so the drain uses the filebus
    snapshot mode (``filebus.snapshot=true``: end offsets frozen at
    stream start, ``processAllAvailable`` terminates at the snapshot)
    — the same run-to-current-end-then-stop contract, multi-batch
    under ``maxOffsetsPerTrigger``, no fallback warning.
    """
    import json as _json
    import uuid as _uuid

    from datalakehouse_spark.scratch import fresh_scratch
    from datalakehouse_spark.sources.filebus import (
        FileBusProducer,
        register_filebus,
    )
    from datalakehouse_spark.streaming.jobs import build_kafka_reader, drain_confs

    register_filebus(spark)
    root = fresh_scratch("filebus_ingest")
    bus = root + "/bus"
    prod = FileBusProducer(bus)
    prod.create_topic("events", partitions=3)
    rows = (
        load_table(spark, sf_dir, "events")
        .orderBy("event_id")
        .limit(400)
        .select("event_id", "user_id", "event_type", "value")
        .collect()  # bounded: exactly 400 rows feed the producer
    )
    for r in rows:
        prod.send(
            "events",
            _json.dumps(
                {
                    "event_id": r.event_id,
                    "user_id": r.user_id,
                    "event_type": r.event_type,
                    "value": r.value,
                }
            ),
            key=str(r.user_id),
            ts_us=int(r.event_id),
        )
    name = "fbus_" + _uuid.uuid4().hex[:10]
    schema = "event_id LONG, user_id LONG, event_type STRING, value DOUBLE"
    with drain_confs(spark):
        q = (
            build_kafka_reader(spark, bus, "events", source_format="filebus")
            .option("filebus.snapshot", "true")
            .load()
            .select(F.from_json(F.col("value").cast("string"), schema).alias("j"))
            .select("j.*")
            .writeStream.format("memory")
            .queryName(name)
            .option("checkpointLocation", root + "/ckpt")
            .trigger(processingTime="0 seconds")
            .start()
        )
        try:
            q.processAllAvailable()  # terminates at the snapshot end offsets
        finally:
            q.stop()
    return spark.table(name).select("event_id", "user_id", "event_type", "value")


# ---------------------------------------------------------------------------
# dup_span_excision_apply: MATERIALIZE the ExactSubstr-cleaned corpus
# (round 10 — the pipeline step users actually run after the stats gate)
# ---------------------------------------------------------------------------

_EXCISION_APPLY_SQL = f"""
WITH t AS (SELECT doc_id, source, {_TOKS} AS toks FROM documents),
sp AS (
    SELECT doc_id, source,
           unnest([{{'i': i, 'h': md5(array_to_string(
                        list_slice(toks, i, i + {_SPAN_N - 1}), ' '))}}
                   FOR i IN range(1, greatest(len(toks) - {_SPAN_N - 1}, 0) + 1)])
               AS s
    FROM t
),
spans AS (SELECT doc_id, s.i AS i, s.h AS h FROM sp),
dd AS (
    SELECT h FROM (
        SELECT h, COUNT(DISTINCT doc_id) AS nd FROM spans GROUP BY h
    ) WHERE nd >= 2
),
ds AS (SELECT DISTINCT doc_id, i FROM spans JOIN dd USING (h)),
cov AS (
    SELECT DISTINCT doc_id, pos FROM (
        SELECT doc_id, unnest([i + x FOR x IN range({_SPAN_N})]) AS pos FROM ds
    )
),
tp AS (
    SELECT doc_id, source, u.p AS pos, u.tok AS tok
    FROM (
        SELECT doc_id, source,
               unnest([{{'p': i, 'tok': toks[i]}}
                       FOR i IN range(1, len(toks) + 1)]) AS u
        FROM t
    )
),
kept AS (SELECT tp.* FROM tp ANTI JOIN cov USING (doc_id, pos)),
docagg AS (
    SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS txt,
           CAST(COUNT(*) AS BIGINT) AS kept
    FROM kept GROUP BY doc_id
),
per_doc AS (
    SELECT t.doc_id, t.source,
           CAST(len(t.toks) AS BIGINT) AS before,
           coalesce(d.kept, 0) AS after,
           md5(coalesce(d.txt, '')) AS dmd5
    FROM t LEFT JOIN docagg d USING (doc_id)
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(before) AS BIGINT) AS tokens_before,
       CAST(SUM(after) AS BIGINT) AS tokens_after,
       CAST(CAST(SUM(CAST(CAST(('0x' || substr(dmd5, 1, 15)) AS BIGINT)
                          AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS VARCHAR)
           AS corpus_digest,
       round((SUM(before) - SUM(after)) / CAST(SUM(before) AS DOUBLE), 6)
           AS excise_ratio
FROM per_doc
GROUP BY source
ORDER BY source
"""


@register(
    "dup_span_excision_apply",
    _EXCISION_APPLY_SQL,
    "ExactSubstr excision APPLIED: cleaned corpus, per-source digest of kept text",
    # shared-scan materialization: the span-digest explode, read by the
    # duplicated-digest aggregate AND its join-back
    eager=True,
)
def q_dup_span_excision_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dup_span_excision_stats`` reports what ExactSubstr dedup (Lee
    et al. 2022) WOULD remove; this entry REMOVES it — per document,
    every token under at least one cross-doc duplicated 16-token span
    is excised, the surviving tokens (original order) form the cleaned
    text, and the result rolls up per source as (n_docs,
    tokens_before, tokens_after, corpus_digest, excise_ratio).

    The content proof is ``corpus_digest``: SUM over documents of a
    60-bit integer cut from md5(cleaned_text), accumulated as
    DECIMAL(38,0) (2^60 x 10^9 docs still fits; BIGINT would
    overflow) and EMITTED AS ITS DECIMAL-DIGIT STRING — the sum
    crosses 2^53 already at sf0.1, where a float64 materialization
    (DuckDB's .df() renders hugeint sums as doubles) silently rounds
    the low digits; string emission keeps the comparison exact at any
    volume (caught by the sf0.1 sweep) — an ORDER-FREE pure
    aggregate, so it never buffers
    per-source text or doc lists (a sorted string_agg of 10^9 md5s
    would), yet any single-token difference in any cleaned document
    moves it.  tokens_after is
    guaranteed = tokens_before − excised_tokens of the stats entry
    (tests/test_mixture_ops.py pins the identity).

    Scale shape: duplicated-digest detection is the stats entry's
    digest-keyed aggregate; coverage positions explode each duplicated
    START into ≤16 (doc, pos) rows (O(dup_spans·16), distinct-ed);
    token removal is a (doc_id, pos) LEFT ANTI equi-join against the
    posexploded corpus (O(total tokens), shuffled by doc — never pair
    space); per-doc reassembly sorts only WITHIN a document
    (collect_list bounded by doc length).  No driver-side state."""
    from datalakehouse_spark.operators.dedup import _ngram_hashes
    from datalakehouse_spark.operators.textstats import tokens

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", "source", tokens("text").alias("toks"))
    # Round 16 (guide §1.2): materialized once — the span stream feeds
    # both the duplicated-digest aggregate and the coverage join-back.
    from datalakehouse_spark.materialize import materialize

    spans = materialize(
        t.select(
            "doc_id",
            F.posexplode(_ngram_hashes(F.col("toks"), _SPAN_N)).alias("p", "h"),
        )
    )
    dup = (
        spans.select("h", "doc_id")
        .distinct()
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("nd"))
        .where(F.col("nd") >= 2)
        .select("h")
    )
    cov = (
        spans.join(dup, "h")
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("p"), F.col("p") + F.lit(_SPAN_N - 1))
            ).alias("pos"),
        )
        .distinct()
    )
    tp = t.select("doc_id", F.posexplode("toks").alias("pos", "tok"))
    kept = tp.join(cov, ["doc_id", "pos"], "left_anti")
    docagg = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda x: x["tok"],
            ),
            " ",
        ).alias("txt"),
        F.count(F.lit(1)).alias("kept"),
    )
    per_doc = t.join(docagg, "doc_id", "left").select(
        "source",
        F.size("toks").cast("long").alias("before"),
        F.coalesce(F.col("kept"), F.lit(0)).cast("long").alias("after"),
        F.md5(F.coalesce(F.col("txt"), F.lit(""))).alias("dmd5"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("before").alias("tokens_before"),
            F.sum("after").alias("tokens_after"),
            # the digest crosses 2^63 at volume; emit its DECIMAL(38)
            # value as a STRING so BOTH engines compare exact digits —
            # DuckDB's .df() materializes a hugeint sum as float64,
            # which silently rounds above 2^53 (caught by the sf0.1
            # sweep: bit-green at sf0.01, 17-digit drift at sf0.1)
            F.sum(
                F.conv(F.substring("dmd5", 1, 15), 16, 10)
                .cast("decimal(38,0)")
            )
            .cast("decimal(38,0)")
            .cast("string")
            .alias("corpus_digest"),
            F.round(
                (F.sum("before") - F.sum("after"))
                / F.sum("before").cast("double"),
                6,
            ).alias("excise_ratio"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# bucketed_colocated_agg: shuffle-free aggregation on the bucket key
# (round 13, VERDICT r12 #4)
# ---------------------------------------------------------------------------

_BCA_SQL = f"""
WITH per_order AS (
    SELECT l_orderkey,
           COUNT(*) AS n_items,
           {dsum_duckdb("l_extendedprice * (1 - l_discount)", 4)} AS order_revenue
    FROM lineitem GROUP BY l_orderkey
)
SELECT CAST(n_items AS BIGINT) AS n_items,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       {dsum_duckdb("order_revenue", 4)} AS revenue
FROM per_order GROUP BY n_items ORDER BY n_items
"""


@register(
    "bucketed_colocated_agg",
    _BCA_SQL,
    "per-orderkey aggregate over the bucketed table: no Exchange below the agg",
    eager=True,  # materializing surface: shares the bucketed lineitem write
)
def q_bucketed_colocated_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round 13: the bucketed layout the join entry pays for also
    serves repeated AGGREGATION on the key — a ``groupBy(l_orderkey)``
    over the bucketed lineitem runs partial+final HashAggregate
    directly on the co-located scan with NO Exchange (plan-asserted in
    tests/test_plans.py); the only shuffles left are the tiny
    items-per-order histogram rollup and its sort.  At 100 TB this is
    the "write-clustered by entity key, aggregate per entity daily"
    pattern (reference anchor: create.sql:53-56 keyed write
    distribution): the full-fact shuffle — the dominant cost — is paid
    once at write, not per query.

    The oracle aggregates the ORIGINAL parquet: bucketing must be a
    pure layout change (value-identical per-order revenue).

    Build note: shares the session-memoized bucketed table with
    ``bucketed_colocated_join`` (registered eager)."""
    from datalakehouse_spark.operators.colocate import (
        bucket_tag,
        ensure_bucketed_table,
    )

    tag = bucket_tag(sf_dir)
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    # n_buckets=8 matches the join entry (same table name => same
    # layout; the API default derives from parallelism — capacity rule)
    t_l = ensure_bucketed_table(
        spark, li, f"bkt_lineitem_{tag}", "l_orderkey", n_buckets=8
    )
    per_order = t_l.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_items"),
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias(
            "order_revenue"
        ),
    )
    return (
        per_order.groupBy("n_items")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("order_revenue", 4).alias("revenue"),
        )
        .orderBy("n_items")
    )


# ---------------------------------------------------------------------------
# flac_pcm_decode: real FLAC audio frames -> PCM on the oracle surface
# (round 13, VERDICT r12 #5)
# ---------------------------------------------------------------------------

_FPD_N = 60

_FPD_BYTES = "[CAST(unicode(substr(t, i, 1)) AS BIGINT) - 128 FOR i IN range(1, 65)]"

_FPD_SQL = f"""
WITH d AS (
    SELECT doc_id, text AS t
    FROM (SELECT * FROM documents ORDER BY doc_id LIMIT {_FPD_N})
    WHERE length(text) >= 64
      AND regexp_matches(text, '^[ -~]*$')
),
s AS (SELECT doc_id, [x * 257 FOR x IN {_FPD_BYTES}] AS sv FROM d)
SELECT doc_id AS asset_id,
       8000 AS sample_rate, 16 AS bps, 64 AS n_samples,
       CAST(list_reduce([(i + 1) * sv[i + 1] FOR i IN range(0, 64)],
                        (a, x) -> a + x) AS BIGINT) AS mono_checksum,
       CAST(list_reduce([(2*i + 1) * sv[i + 1] + (2*i + 2) * sv[64 - i]
                         FOR i IN range(0, 64)],
                        (a, x) -> a + x) AS BIGINT) AS stereo_checksum,
       TRUE AS mono_md5_ok, TRUE AS stereo_md5_ok
FROM s ORDER BY asset_id
"""


@register(
    "flac_pcm_decode",
    _FPD_SQL,
    "FLAC frame decode: Rice/LPC/mid-side PCM synthesis == byte math + MD5 self-check",
)
def q_flac_pcm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round 13: REAL FLAC PCM on the bit-exact oracle surface.  Each
    document's leading 64 bytes become deterministic 16-bit samples
    ``s_i = (b_i - 128) * 257``; those are FLAC-encoded twice —
    (a) mono, LPC subframes, 4 blocks of 16 samples, partitioned Rice
    residuals; (b) stereo mid/side with the right channel REVERSED
    (decorrelation does real work), Rice method 1 — and decoded back
    through functions/flac.py's full frame kernel (CRC-8/CRC-16
    verified, STREAMINFO MD5 recomputed over the reconstructed PCM and
    pinned TRUE on the oracle).  The position-weighted checksum
    ``sum((i+1) * sample_i)`` over the interleaved output pins every
    value AND its order with one integer DuckDB recomputes from the
    text bytes alone — any defect in Rice decoding, predictor
    reconstruction, channel decorrelation, or frame ordering breaks
    the compare.

    Scale shape: bounded 60-asset mapInPandas (Arrow batches, payloads
    never touch the driver) — the media-decode contract."""
    import pandas as _pd

    docs = load_table(spark, sf_dir, "documents")
    d = (
        docs.orderBy("doc_id")
        .limit(_FPD_N)
        .where((F.length("text") >= 64) & F.col("text").rlike("^[ -~]*$"))
        .select("doc_id", "text")
        .repartition(4)
    )

    schema = (
        "asset_id long, sample_rate int, bps int, n_samples int, "
        "mono_checksum long, stereo_checksum long, "
        "mono_md5_ok boolean, stereo_md5_ok boolean"
    )

    def batches(it):
        from datalakehouse_spark.functions.flac import encode_flac, flac_pcm_stats

        for pdf in it:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                s = [(b - 128) * 257 for b in text.encode("utf-8")[:64]]
                mono = encode_flac(
                    [s], sample_rate=8000, block_size=16,
                    lpc=True, partition_order=2,
                )
                stereo = encode_flac(
                    [s, s[::-1]], sample_rate=8000, block_size=64,
                    stereo_mode="mid_side", rice_method=1,
                )
                m_rate, m_ch, m_bps, m_n, m_sum, m_ok = flac_pcm_stats(mono)
                s_rate, s_ch, s_bps, s_n, s_sum, s_ok = flac_pcm_stats(stereo)
                assert (m_rate, m_ch, m_bps, m_n) == (8000, 1, 16, 64)
                assert (s_rate, s_ch, s_bps, s_n) == (8000, 2, 16, 64)
                rows.append(
                    (doc_id, m_rate, m_bps, m_n, m_sum, s_sum, bool(m_ok), bool(s_ok))
                )
            yield _pd.DataFrame(
                rows,
                columns=[
                    "asset_id", "sample_rate", "bps", "n_samples",
                    "mono_checksum", "stereo_checksum",
                    "mono_md5_ok", "stereo_md5_ok",
                ],
            )

    return d.mapInPandas(batches, schema=schema).orderBy("asset_id")


# ---------------------------------------------------------------------------
# bmp16_image_decode: 16-bit RGB555/RGB565 BMP pixels on the oracle
# surface (round 13)
# ---------------------------------------------------------------------------

_B16_N = 60
_B16_W, _B16_H = 16, 4

_B16_BYTES = "[CAST(unicode(substr(t, i, 1)) AS BIGINT) FOR i IN range(1, 65)]"

# 5-bit bit-replication expansion of a gray byte (quantize by
# truncation, expand (v << 3) | (v >> 2)) — for gray pixels the house
# ITU-R 601-2 luma hands this value straight back
_B16_E5 = "((x // 8) * 8 + (x // 8) // 4)"
# RGB565 of a gray byte: r=b are 5-bit, g is 6-bit; luma coefficients
# fold to e5*(19595+7471) + e6*38470
_B16_E6 = "((x // 4) * 4 + (x // 4) // 16)"
_B16_L565 = f"(({_B16_E5} * 27066 + {_B16_E6} * 38470 + 32768) >> 16)"

_B16_SQL = f"""
WITH d AS (
    SELECT doc_id, text AS t
    FROM (SELECT * FROM documents ORDER BY doc_id LIMIT {_B16_N})
    WHERE length(text) >= 64
      AND regexp_matches(text, '^[ -~]*$')
),
b AS (SELECT doc_id, {_B16_BYTES} AS bv FROM d),
p AS (
    SELECT doc_id,
           [{_B16_E5} FOR x IN bv] AS l555,
           [{_B16_L565} FOR x IN bv] AS l565
    FROM b
)
SELECT doc_id AS asset_id,
       {_B16_W} AS bmp_w, {_B16_H} AS bmp_h,
       round(list_reduce(l555, (a, x) -> a + x)
             / (255.0 * {_B16_W * _B16_H}), 9) AS mean_luma_555,
       md5(list_reduce([chr(CAST(x AS INTEGER)) FOR x IN l555],
                       (a, x) -> a || x)) AS md5_555,
       round(list_reduce(l565, (a, x) -> a + x)
             / (255.0 * {_B16_W * _B16_H}), 9) AS mean_luma_565,
       TRUE AS bitfields_match
FROM p ORDER BY asset_id
"""


@register(
    "bmp16_image_decode",
    _B16_SQL,
    "16-bit BMP decode: RGB555/565 bit-replication luma == byte math",
)
def q_bmp16_image_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round 13: the 16-bit BMP profiles (functions/bmp.py — RGB555 as
    BI_RGB 16bpp per the spec, RGB555 restated as explicit BITFIELDS
    masks, and RGB565 BITFIELDS) on the bit-exact oracle surface,
    calling ``decode_bmp``/``bmp_luma_stats`` DIRECTLY (not
    ``decode_image``, whose Pillow preference would stop exercising
    the stdlib kernel when Pillow is importable).  Each document's
    leading 64
    bytes become gray pixels; channels quantize by truncation and
    expand by bit replication ((v << 3) | (v >> 2) / (v << 2) |
    (v >> 4) — Pillow's BGR;15/BGR;16 unpackers), so DuckDB recomputes
    every decoded luma with pure integer byte math: gray RGB555 luma
    is exactly the 5-bit expansion, gray RGB565 luma folds the ITU-R
    601-2 constants to e5*27066 + e6*38470.  ``md5_555`` pins the full
    plane (the expanded values stay ASCII-printable, so the oracle
    builds the identical byte string with chr()); ``bitfields_match``
    pins that BI_RGB-555 and BITFIELDS-555 decode identically.

    Scale shape: bounded 60-asset mapInPandas, same contract as the
    other decode entries.

    Reference anchor: SURVEY §2 multimodal extension surface (the
    training-pipeline image-dedup path must fingerprint 16-bit
    screenshots identically to their 24-bit re-encodings)."""
    import pandas as _pd

    docs = load_table(spark, sf_dir, "documents")
    d = (
        docs.orderBy("doc_id")
        .limit(_B16_N)
        .where((F.length("text") >= 64) & F.col("text").rlike("^[ -~]*$"))
        .select("doc_id", "text")
        .repartition(4)
    )

    schema = (
        "asset_id long, bmp_w int, bmp_h int, mean_luma_555 double, "
        "md5_555 string, mean_luma_565 double, bitfields_match boolean"
    )

    def batches(it):
        import hashlib as _hl

        from datalakehouse_spark.functions.bmp import (
            bmp_luma_stats,
            decode_bmp,
            encode_bmp16,
        )

        for pdf in it:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                bts = text.encode("utf-8")[:64]
                rgb = bytes(v for b in bts for v in (b, b, b))
                w, h, plane555 = decode_bmp(
                    encode_bmp16(_B16_W, _B16_H, rgb, 555)
                )
                mean555 = sum(plane555) / (255.0 * w * h)
                plane555bf = decode_bmp(
                    encode_bmp16(_B16_W, _B16_H, rgb, 555, bitfields=True)
                )[2]
                _, _, mean565 = bmp_luma_stats(
                    encode_bmp16(_B16_W, _B16_H, rgb, 565)
                )
                rows.append(
                    (
                        doc_id, w, h, round(mean555, 9),
                        _hl.md5(plane555).hexdigest(),
                        round(mean565, 9),
                        plane555 == plane555bf,
                    )
                )
            yield _pd.DataFrame(
                rows,
                columns=[
                    "asset_id", "bmp_w", "bmp_h", "mean_luma_555",
                    "md5_555", "mean_luma_565", "bitfields_match",
                ],
            )

    return d.mapInPandas(batches, schema=schema).orderBy("asset_id")


# ---------------------------------------------------------------------------
# wav_codec_decode: G.711 mu-law/A-law + IMA ADPCM on the oracle
# surface (round 13) — the oracle SIMULATES the stateful ADPCM decoder
# with a recursive CTE
# ---------------------------------------------------------------------------

_WCD_N = 60

_WCD_BYTES = "[CAST(unicode(substr(t, i, 1)) AS BIGINT) FOR i IN range(1, 65)]"

# ITU-T G.711 segment expansion as pure byte math (mu-law: complement,
# then ((man<<3)+0x84)<<exp minus the bias; A-law: xor 0x55, segment 0
# is linear).  Sums over the 64 decoded int16 values stay far inside
# BIGINT.
_WCD_ULAW_VAL = (
    "((((255 - x) % 16) * 8 + 132) * (1 << ((((255 - x) // 16)) % 8)))"
)
_WCD_ULAW = (
    f"list_reduce([CASE WHEN (255 - x) >= 128 THEN 132 - {_WCD_ULAW_VAL} "
    f"ELSE {_WCD_ULAW_VAL} - 132 END FOR x IN bv], (a, x) -> a + x)"
)
_WCD_ALAW_VAL = (
    "(CASE WHEN (xor(x, 85) // 16) % 8 = 0 THEN (xor(x, 85) % 16) * 16 + 8 "
    "ELSE ((xor(x, 85) % 16) * 16 + 264) "
    "* (1 << (((xor(x, 85) // 16) % 8) - 1)) END)"
)
_WCD_ALAW = (
    f"list_reduce([CASE WHEN xor(x, 85) >= 128 THEN {_WCD_ALAW_VAL} "
    f"ELSE -{_WCD_ALAW_VAL} END FOR x IN bv], (a, x) -> a + x)"
)

# the IMA step tables (public spec constants, identical to
# functions/wav.py)
_WCD_ST = (
    "[7,8,9,10,11,12,13,14,16,17,19,21,23,25,28,31,34,37,41,45,50,55,60,"
    "66,73,80,88,97,107,118,130,143,157,173,190,209,230,253,279,307,337,"
    "371,408,449,494,544,598,658,724,796,876,963,1060,1166,1282,1411,"
    "1552,1707,1878,2066,2272,2499,2749,3024,3327,3660,4026,4428,4871,"
    "5358,5894,6484,7132,7845,8630,9493,10442,11487,12635,13899,15289,"
    "16818,18500,20350,22385,24623,27086,29794,32767]"
)
_WCD_IT = "[-1,-1,-1,-1,2,4,6,8]"

# one IMA state transition, written twice (new pred and the acc that
# adds it) because the recursive SELECT computes every output column
# from the PREVIOUS row's pred/idx
_WCD_DIFF = (
    "(st[idx + 1] // 8"
    " + CASE WHEN nl[i + 1] % 2 = 1 THEN st[idx + 1] // 4 ELSE 0 END"
    " + CASE WHEN (nl[i + 1] // 2) % 2 = 1 THEN st[idx + 1] // 2 ELSE 0 END"
    " + CASE WHEN (nl[i + 1] // 4) % 2 = 1 THEN st[idx + 1] ELSE 0 END)"
)
_WCD_NEWPRED = (
    "GREATEST(-32768, LEAST(32767, pred"
    f" + CASE WHEN nl[i + 1] >= 8 THEN -1 ELSE 1 END * {_WCD_DIFF}))"
)

_WCD_SQL = f"""
WITH RECURSIVE d AS (
    SELECT doc_id, text AS t
    FROM (SELECT * FROM documents ORDER BY doc_id LIMIT {_WCD_N})
    WHERE length(text) >= 64
      AND regexp_matches(text, '^[ -~]*$')
),
b AS (SELECT doc_id, {_WCD_BYTES} AS bv FROM d),
g AS (SELECT doc_id, {_WCD_ULAW} AS ulaw_sum, {_WCD_ALAW} AS alaw_sum FROM b),
nb AS (
    SELECT doc_id,
           [CASE WHEN i % 2 = 1 THEN bv[(i + 1) // 2] % 16
                 ELSE bv[i // 2] // 16 END FOR i IN range(1, 65)] AS nl,
           (bv[1] - 64) * 128 AS pred0,
           bv[2] % 89 AS idx0
    FROM b
),
walk AS (
    SELECT doc_id, 0 AS i, pred0 AS pred, idx0 AS idx,
           CAST(pred0 AS BIGINT) AS acc, nl,
           CAST({_WCD_ST} AS BIGINT[]) AS st,
           CAST({_WCD_IT} AS BIGINT[]) AS it
    FROM nb
    UNION ALL
    SELECT doc_id, i + 1,
           {_WCD_NEWPRED} AS pred,
           GREATEST(0, LEAST(88, idx + it[(nl[i + 1] % 8) + 1])) AS idx,
           acc + {_WCD_NEWPRED},
           nl, st, it
    FROM walk WHERE i < 64
)
SELECT g.doc_id AS asset_id,
       8000 AS sample_rate,
       CAST(g.ulaw_sum AS BIGINT) AS ulaw_sum,
       CAST(g.alaw_sum AS BIGINT) AS alaw_sum,
       CAST(w.acc AS BIGINT) AS adpcm_sum,
       65 AS adpcm_n,
       TRUE AS dispatch_match
FROM g JOIN (SELECT doc_id, acc FROM walk WHERE i = 64) w USING (doc_id)
ORDER BY asset_id
"""


@register(
    "wav_codec_decode",
    _WCD_SQL,
    "G.711 mu/A-law + IMA ADPCM decode: oracle simulates the codec in SQL",
)
def q_wav_codec_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round 13: the telephony/legacy WAV codecs (functions/wav.py —
    G.711 mu-law tag 7, A-law tag 6, IMA/DVI ADPCM tag 0x11) on the
    bit-exact oracle surface.  Each document's leading 64 bytes are
    written verbatim as companded G.711 codes (both laws) and as 64
    ADPCM nibbles behind a byte-derived initial (predictor, step
    index); the Spark side decodes real RIFF payloads through
    ``wav_pcm_samples`` and sums the int16 output, while DuckDB
    recomputes the SAME sums from raw byte math — the G.711 segment
    expansion inline, and the stateful ADPCM decoder as a RECURSIVE
    CTE that steps (pred, idx) through the public 89-entry step table
    one nibble at a time.  ``dispatch_match`` pins that
    ``decode_audio`` magic routing hands the mu-law payload to the WAV
    kernel (rate/frames agree with the direct decode).

    Scale shape: bounded 60-asset mapInPandas, same contract as the
    other decode entries."""
    import pandas as _pd

    docs = load_table(spark, sf_dir, "documents")
    d = (
        docs.orderBy("doc_id")
        .limit(_WCD_N)
        .where((F.length("text") >= 64) & F.col("text").rlike("^[ -~]*$"))
        .select("doc_id", "text")
        .repartition(4)
    )

    schema = (
        "asset_id long, sample_rate int, ulaw_sum long, alaw_sum long, "
        "adpcm_sum long, adpcm_n int, dispatch_match boolean"
    )

    def batches(it):
        from datalakehouse_spark.functions.wav import (
            encode_wav_adpcm,
            encode_wav_g711,
            wav_pcm_samples,
        )
        from datalakehouse_spark.operators.multimodal import decode_audio

        for pdf in it:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                bts = text.encode("utf-8")[:64]
                upay = encode_wav_g711(bts, "ulaw")
                rate_u, _, uvals = wav_pcm_samples(upay)
                _, _, avals = wav_pcm_samples(encode_wav_g711(bts, "alaw"))
                pred0 = (bts[0] - 64) * 128
                idx0 = bts[1] % 89
                _, _, pvals = wav_pcm_samples(
                    encode_wav_adpcm(bts[:32], predictor=pred0, step_index=idx0)
                )
                drate, dch, dframes, _, _, _ = decode_audio(upay)
                rows.append(
                    (
                        doc_id, rate_u, sum(uvals), sum(avals),
                        sum(pvals), len(pvals),
                        (drate, dch, dframes) == (rate_u, 1, len(uvals)),
                    )
                )
            yield _pd.DataFrame(
                rows,
                columns=[
                    "asset_id", "sample_rate", "ulaw_sum", "alaw_sum",
                    "adpcm_sum", "adpcm_n", "dispatch_match",
                ],
            )

    return d.mapInPandas(batches, schema=schema).orderBy("asset_id")


# ---------------------------------------------------------------------------
# gif_animation_frames: animated-GIF compositing (disposal +
# transparency state machine) on the oracle surface (round 13)
# ---------------------------------------------------------------------------

_GAF_N = 60
_GAF_W, _GAF_H = 8, 4
_GAF_BG = 95  # background gray (printable, so chr() oracle math is safe)

_GAF_BYTES = "[CAST(unicode(substr(t, i, 1)) AS BIGINT) FOR i IN range(1, 45)]"

# plane 1: patch bytes bv[33..40] drawn 4x2 at (2,1); pixels equal to
# bv[33] are TRANSPARENT (keep the base)
_GAF_P1 = (
    "[CASE WHEN ((i - 1) % 8) BETWEEN 2 AND 5 "
    "       AND ((i - 1) // 8) BETWEEN 1 AND 2 "
    "       AND bv[33 + (((i - 1) // 8) - 1) * 4 + (((i - 1) % 8) - 2)] "
    "           != bv[33] "
    "      THEN bv[33 + (((i - 1) // 8) - 1) * 4 + (((i - 1) % 8) - 2)] "
    "      ELSE bv[i] END FOR i IN range(1, 33)]"
)
# plane 2: frame 1's rect restored to the background (disposal 2),
# then patch bv[41..44] drawn 2x2 at (5,0)
_GAF_P2_PIX = (
    "CASE WHEN ((i - 1) % 8) BETWEEN 5 AND 6 "
    "      AND ((i - 1) // 8) BETWEEN 0 AND 1 "
    "     THEN bv[41 + ((i - 1) // 8) * 2 + (((i - 1) % 8) - 5)] "
    f"     WHEN ((i - 1) % 8) BETWEEN 2 AND 5 "
    f"      AND ((i - 1) // 8) BETWEEN 1 AND 2 THEN {_GAF_BG} "
    "     ELSE p1[i] END"
)

_GAF_MD5 = (
    "md5(list_reduce([repeat(chr(CAST(v AS INTEGER)), 3) FOR v IN {plane}],"
    " (a, x) -> a || x))"
)

_GAF_SQL = f"""
WITH d AS (
    SELECT doc_id, text AS t
    FROM (SELECT * FROM documents ORDER BY doc_id LIMIT {_GAF_N})
    WHERE length(text) >= 44
      AND regexp_matches(text, '^[ -~]*$')
),
b AS (SELECT doc_id, {_GAF_BYTES} AS bv FROM d),
p AS (
    SELECT doc_id, bv,
           [bv[i] FOR i IN range(1, 33)] AS p0,
           {_GAF_P1} AS p1
    FROM b
),
q AS (
    SELECT doc_id, p0, p1,
           [{_GAF_P2_PIX} FOR i IN range(1, 33)] AS p2
    FROM p
),
f AS (
    SELECT doc_id,
           [{_GAF_MD5.format(plane="p0")},
            {_GAF_MD5.format(plane="p1")},
            {_GAF_MD5.format(plane="p2")}] AS md5s
    FROM q
)
SELECT doc_id AS asset_id,
       CAST(u.i - 1 AS INTEGER) AS frame_idx,
       md5s[u.i] AS frame_md5
FROM f, (SELECT UNNEST(range(1, 4)) AS i) u
ORDER BY asset_id, frame_idx
"""


@register(
    "gif_animation_frames",
    _GAF_SQL,
    "animated-GIF frame compositing: disposal/transparency machine == byte math",
)
def q_gif_animation_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round 13: animated GIFs — the web-scrape 'video' format — on the
    bit-exact oracle surface, THROUGH the real ``sample_frames``
    operator (stride 1, fake=False).  Each document's leading bytes
    become a 3-frame 8x4 animation exercising the whole GIF89a
    compositing state machine:

    - frame 0: full-screen base (bytes 1-32), disposal 1 (leave);
    - frame 1: a 4x2 patch at (2,1) from bytes 33-40 with a
      TRANSPARENT index (the first patch byte — those pixels keep the
      base), disposal 2 (restore-background);
    - frame 2: after the restore (patch rect -> background gray 95), a
      2x2 patch at (5,0) from bytes 41-44 — overlapping the restored
      rect at (5,1), so draw-order matters.

    ``sample_frames`` md5-fingerprints every composited frame as
    top-down RGB24 (the cross-container dedup key — a GIF frame and an
    AVI frame of the same pixels hash identically), and DuckDB rebuilds
    the exact digests from byte math: each plane as a list
    comprehension over pixel coordinates, tripled through chr() into
    the RGB byte string.

    Scale shape: bounded 60-asset mapInPandas fan-out (1 asset -> 3
    frame rows), no shuffle before the final sort — the media pipeline
    contract."""
    import pandas as _pd

    from datalakehouse_spark.operators.multimodal import sample_frames

    docs = load_table(spark, sf_dir, "documents")
    d = (
        docs.orderBy("doc_id")
        .limit(_GAF_N)
        .where((F.length("text") >= 44) & F.col("text").rlike("^[ -~]*$"))
        .select("doc_id", "text")
        .repartition(4)
    )

    def synth(it):
        from datalakehouse_spark.functions.gif import encode_gif_animation

        grays = [(i, i, i) for i in range(256)]
        for pdf in it:
            ids, payloads = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                bts = text.encode("utf-8")[:44]
                payload = encode_gif_animation(
                    _GAF_W, _GAF_H,
                    [
                        dict(indices=bts[:32], disposal=1, delay_cs=10),
                        dict(
                            indices=bts[32:40], left=2, top=1, width=4,
                            height=2, disposal=2, transparent=bts[32],
                            delay_cs=20,
                        ),
                        dict(
                            indices=bts[40:44], left=5, top=0, width=2,
                            height=2, delay_cs=30,
                        ),
                    ],
                    grays,
                    bg_index=_GAF_BG,
                )
                ids.append(int(doc_id))
                payloads.append(payload)
            yield _pd.DataFrame({"asset_id": ids, "payload": payloads})

    assets = d.mapInPandas(synth, schema="asset_id long, payload binary")
    return (
        sample_frames(assets, stride=1, fake=False)
        .select("asset_id", "frame_idx", "frame_md5")
        .orderBy("asset_id", "frame_idx")
    )


# ---------------------------------------------------------------------------
# ico_image_decode: ICO/CUR favicons on the oracle surface (round 13)
# ---------------------------------------------------------------------------

_ICO_N = 60

_ICO_SQL = f"""
WITH d AS (
    SELECT doc_id, text AS t
    FROM (SELECT * FROM documents ORDER BY doc_id LIMIT {_ICO_N})
    WHERE length(text) >= 64
      AND regexp_matches(text, '^[ -~]*$')
)
SELECT doc_id AS asset_id,
       16 AS ico_w, 4 AS ico_h,
       md5(substr(t, 1, 64)) AS png_md5,
       md5(substr(t, 1, 64)) AS dib_md5,
       TRUE AS largest_wins
FROM d ORDER BY asset_id
"""


@register(
    "ico_image_decode",
    _ICO_SQL,
    "ICO/CUR favicon decode: PNG- and DIB-wrapped planes == text bytes",
)
def q_ico_image_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round 13: the ICO/CUR container (functions/ico.py) on the
    bit-exact oracle surface, calling ``decode_ico`` DIRECTLY (not
    ``decode_image``, whose Pillow preference would stop exercising
    the stdlib kernel when Pillow is importable).  Each
    document's leading 64 bytes become a 16x4 gray plane wrapped two
    ways — as a PNG-in-ICO (the Vista+ icon form) and as a classic
    DIB-in-ICO (BITMAPINFOHEADER with doubled height + AND mask, the
    height halved back and routed through the BMP kernel) — and both
    full planes md5 back to exactly the text bytes (gray identity
    luma, the oracle needs no codec).  ``largest_wins`` pins the
    directory policy: a 2x2 decoy entry ahead of the real image must
    NOT be selected.

    Scale shape: bounded 60-asset mapInPandas, same contract as the
    other decode entries."""
    import pandas as _pd

    docs = load_table(spark, sf_dir, "documents")
    d = (
        docs.orderBy("doc_id")
        .limit(_ICO_N)
        .where((F.length("text") >= 64) & F.col("text").rlike("^[ -~]*$"))
        .select("doc_id", "text")
        .repartition(4)
    )

    schema = (
        "asset_id long, ico_w int, ico_h int, png_md5 string, "
        "dib_md5 string, largest_wins boolean"
    )

    def batches(it):
        import hashlib as _hl

        from datalakehouse_spark.functions.bmp import encode_bmp
        from datalakehouse_spark.functions.ico import decode_ico, encode_ico
        from datalakehouse_spark.functions.png import encode_png

        for pdf in it:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                bts = text.encode("utf-8")[:64]
                png = encode_png(16, 4, bts, color_type=0)
                rgb = bytes(v for b in bts for v in (b, b, b))
                bmp = encode_bmp(16, 4, rgb)
                decoy = encode_png(2, 2, bts[:4], color_type=0)
                ico_png = encode_ico([(2, 2, decoy, "png"), (16, 4, png, "png")])
                ico_dib = encode_ico(
                    [(2, 2, decoy, "png"), (16, 4, bmp, "bmp")], cur=True
                )
                w, h, p_plane = decode_ico(ico_png)
                d_plane = decode_ico(ico_dib)[2]
                rows.append(
                    (
                        doc_id, w, h,
                        _hl.md5(p_plane).hexdigest(),
                        _hl.md5(d_plane).hexdigest(),
                        (w, h) == (16, 4) and p_plane == d_plane,
                    )
                )
            yield _pd.DataFrame(
                rows,
                columns=[
                    "asset_id", "ico_w", "ico_h", "png_md5", "dib_md5",
                    "largest_wins",
                ],
            )

    return d.mapInPandas(batches, schema=schema).orderBy("asset_id")


# ---------------------------------------------------------------------------
# pnm_tga_decode: Netpbm + Truevision TGA on the oracle surface
# (round 13)
# ---------------------------------------------------------------------------

_PTD_N = 60

_PTD_BYTES = "[CAST(unicode(substr(t, i, 1)) AS BIGINT) FOR i IN range(1, 65)]"
_PTD_RGB_LUMA = (
    "[(bv[3*i + 1] * 19595 + bv[3*i + 2] * 38470 + bv[3*i + 3] * 7471 "
    "+ 32768) >> 16 FOR i IN range(0, 16)]"
)
# ARGB1555 gray: every channel quantizes to the same 5 bits, expands
# by replication -> luma IS the 5-bit expansion (the BMP16 identity)
_PTD_E5 = "((x // 8) * 8 + (x // 8) // 4)"

_PTD_SQL = f"""
WITH d AS (
    SELECT doc_id, text AS t
    FROM (SELECT * FROM documents ORDER BY doc_id LIMIT {_PTD_N})
    WHERE length(text) >= 64
      AND regexp_matches(text, '^[ -~]*$')
),
b AS (SELECT doc_id, t, {_PTD_BYTES} AS bv FROM d)
SELECT doc_id AS asset_id,
       16 AS img_w, 4 AS img_h,
       md5(substr(t, 1, 64)) AS pgm_md5,
       round(list_reduce([CASE WHEN x % 2 = 0 THEN 255 ELSE 0 END
                          FOR x IN bv], (a, x) -> a + x)
             / (255.0 * 64), 9) AS pbm_mean,
       round(list_reduce({_PTD_RGB_LUMA}, (a, x) -> a + x)
             / (255.0 * 16), 9) AS ppm_mean_luma,
       TRUE AS deep16_match,
       md5(substr(t, 1, 64)) AS tga_gray_md5,
       round(list_reduce([{_PTD_E5} FOR x IN bv], (a, x) -> a + x)
             / (255.0 * 64), 9) AS tga16_mean_luma,
       TRUE AS mapped_match
FROM b ORDER BY asset_id
"""


@register(
    "pnm_tga_decode",
    _PTD_SQL,
    "Netpbm P1-P6 + TGA decode: bitmap/gray/color/16-bit planes == byte math",
)
def q_pnm_tga_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round 13: the Netpbm family (functions/pnm.py — the plainest
    raster container in scientific pipelines) and Truevision TGA
    (functions/tga.py — the graphics-tooling format, NO magic number:
    the dispatch sniffs it structurally and LAST) on the bit-exact
    oracle surface, calling the stdlib kernels DIRECTLY
    (``decode_pnm``/``pnm_luma_stats``/``decode_tga``/``tga_luma_stats``
    rather than ``decode_image``, whose Pillow preference would stop
    exercising these kernels when Pillow is importable).  Per document:

    - P5 gray pass-through (md5 of the full plane == the text bytes);
    - P4 bitmap (1 = BLACK per the spec: mean = share of even bytes);
    - P6 color (ITU-R 601-2 integer luma, recomputed from triplets);
    - 16-bit P5 (big-endian v*257 samples reduce to the high byte —
      ``deep16_match`` pins plane equality);
    - TGA grayscale, RLE-compressed, stored BOTTOM-UP (the format's
      default origin — md5 must equal the text bytes anyway);
    - TGA ARGB1555 (5-bit channels bit-replicate: gray luma IS the
      e5 expansion, the BMP16 identity) and a color-mapped TGA whose
      gray palette hands back the index plane (``mapped_match``).

    Scale shape: bounded 60-asset mapInPandas, same contract as the
    other decode entries."""
    import pandas as _pd

    docs = load_table(spark, sf_dir, "documents")
    d = (
        docs.orderBy("doc_id")
        .limit(_PTD_N)
        .where((F.length("text") >= 64) & F.col("text").rlike("^[ -~]*$"))
        .select("doc_id", "text")
        .repartition(4)
    )

    schema = (
        "asset_id long, img_w int, img_h int, pgm_md5 string, "
        "pbm_mean double, ppm_mean_luma double, deep16_match boolean, "
        "tga_gray_md5 string, tga16_mean_luma double, mapped_match boolean"
    )

    def batches(it):
        import hashlib as _hl

        from datalakehouse_spark.functions.pnm import (
            decode_pnm,
            encode_pnm,
            pnm_luma_stats,
        )
        from datalakehouse_spark.functions.tga import (
            decode_tga,
            encode_tga,
            tga_luma_stats,
        )

        grays = [(i, i, i) for i in range(256)]
        for pdf in it:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                bts = text.encode("utf-8")[:64]
                w, h, pgm_plane = decode_pnm(encode_pnm(16, 4, list(bts), 5))
                _, _, pbm_mean = pnm_luma_stats(
                    encode_pnm(16, 4, [b % 2 for b in bts], 4)
                )
                _, _, ppm_mean = pnm_luma_stats(
                    encode_pnm(4, 4, list(bts[:48]), 6)
                )
                deep = decode_pnm(
                    encode_pnm(16, 4, [v * 257 for v in bts], 5, maxval=65535)
                )[2]
                tga_plane = decode_tga(
                    encode_tga(16, 4, bts, "gray", rle=True, top_down=False)
                )[2]
                rgb = bytes(v for b in bts for v in (b, b, b))
                _, _, tga16_mean = tga_luma_stats(
                    encode_tga(16, 4, rgb, "argb1555", rle=True)
                )
                mapped = decode_tga(
                    encode_tga(16, 4, bts, "mapped", palette=grays)
                )[2]
                rows.append(
                    (
                        doc_id, w, h,
                        _hl.md5(pgm_plane).hexdigest(),
                        round(pbm_mean, 9),
                        round(ppm_mean, 9),
                        deep == bts,
                        _hl.md5(tga_plane).hexdigest(),
                        round(tga16_mean, 9),
                        mapped == bts,
                    )
                )
            yield _pd.DataFrame(
                rows,
                columns=[
                    "asset_id", "img_w", "img_h", "pgm_md5", "pbm_mean",
                    "ppm_mean_luma", "deep16_match", "tga_gray_md5",
                    "tga16_mean_luma", "mapped_match",
                ],
            )

    return d.mapInPandas(batches, schema=schema).orderBy("asset_id")


# ---------------------------------------------------------------------------
# qoi_pcx_decode: QOI + ZSoft PCX on the oracle surface (round 13)
# ---------------------------------------------------------------------------

_QPD_N = 60

_QPD_BYTES = "[CAST(unicode(substr(t, i, 1)) AS BIGINT) FOR i IN range(1, 65)]"
_QPD_RGB_LUMA = (
    "[(bv[3*i + 1] * 19595 + bv[3*i + 2] * 38470 + bv[3*i + 3] * 7471 "
    "+ 32768) >> 16 FOR i IN range(0, 16)]"
)

_QPD_SQL = f"""
WITH d AS (
    SELECT doc_id, text AS t
    FROM (SELECT * FROM documents ORDER BY doc_id LIMIT {_QPD_N})
    WHERE length(text) >= 64
      AND regexp_matches(text, '^[ -~]*$')
),
b AS (SELECT doc_id, t, {_QPD_BYTES} AS bv FROM d)
SELECT doc_id AS asset_id,
       16 AS img_w, 4 AS img_h,
       md5(substr(t, 1, 64)) AS qoi_md5,
       round(list_reduce({_QPD_RGB_LUMA}, (a, x) -> a + x)
             / (255.0 * 16), 9) AS qoi_rgb_mean,
       md5(substr(t, 1, 64)) AS pcx_md5,
       round(list_reduce({_QPD_RGB_LUMA}, (a, x) -> a + x)
             / (255.0 * 16), 9) AS pcx_rgb_mean,
       round(list_reduce([CASE WHEN x % 2 = 1 THEN 255 ELSE 0 END
                          FOR x IN bv], (a, x) -> a + x)
             / (255.0 * 64), 9) AS pcx_mono_mean
FROM b ORDER BY asset_id
"""


@register(
    "qoi_pcx_decode",
    _QPD_SQL,
    "QOI + PCX decode: run/index/diff/luma ops and RLE planes == byte math",
)
def q_qoi_pcx_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round 13: QOI (functions/qoi.py — the modern one-page-spec
    lossless format new image datasets ship; RUN/INDEX/DIFF/LUMA ops
    over a 64-entry rolling hash table) and ZSoft PCX
    (functions/pcx.py — the retro RLE format old corpora carry) on the
    bit-exact oracle surface, calling the stdlib kernels DIRECTLY
    (``decode_qoi``/``qoi_luma_stats``/``decode_pcx``/``pcx_luma_stats``
    rather than ``decode_image``, whose Pillow preference would stop
    exercising these kernels — or error outright on Pillow builds
    without QOI support).  Per document:

    - QOI gray (r=g=b from text bytes): the decoded plane must hand
      back exactly the input bytes through a REAL compressed stream
      (the fixture encoder emits every op), pinned by the plane md5;
    - QOI 4x4 RGB: luma recomputed by DuckDB from the byte triplets;
    - PCX 8-bit gray (identity VGA palette, RLE scanlines): plane md5
      == text bytes;
    - PCX 3-plane RGB: same triplet luma math;
    - PCX 1-bit mono (1 = white): mean = share of odd bytes.

    Scale shape: bounded 60-asset mapInPandas, same contract as the
    other decode entries."""
    import pandas as _pd

    docs = load_table(spark, sf_dir, "documents")
    d = (
        docs.orderBy("doc_id")
        .limit(_QPD_N)
        .where((F.length("text") >= 64) & F.col("text").rlike("^[ -~]*$"))
        .select("doc_id", "text")
        .repartition(4)
    )

    schema = (
        "asset_id long, img_w int, img_h int, qoi_md5 string, "
        "qoi_rgb_mean double, pcx_md5 string, pcx_rgb_mean double, "
        "pcx_mono_mean double"
    )

    def batches(it):
        import hashlib as _hl

        from datalakehouse_spark.functions.pcx import (
            decode_pcx,
            encode_pcx,
            pcx_luma_stats,
        )
        from datalakehouse_spark.functions.qoi import (
            decode_qoi,
            encode_qoi,
            qoi_luma_stats,
        )

        for pdf in it:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                bts = text.encode("utf-8")[:64]
                rgb_gray = bytes(v for b in bts for v in (b, b, b))
                w, h, qoi_plane = decode_qoi(encode_qoi(16, 4, rgb_gray))
                _, _, qoi_rgb_mean = qoi_luma_stats(encode_qoi(4, 4, bts[:48]))
                pcx_plane = decode_pcx(encode_pcx(16, 4, bts, "gray"))[2]
                _, _, pcx_rgb_mean = pcx_luma_stats(
                    encode_pcx(4, 4, bts[:48], "rgb")
                )
                _, _, pcx_mono_mean = pcx_luma_stats(
                    encode_pcx(16, 4, [b % 2 for b in bts], "mono")
                )
                rows.append(
                    (
                        doc_id, w, h,
                        _hl.md5(qoi_plane).hexdigest(),
                        round(qoi_rgb_mean, 9),
                        _hl.md5(pcx_plane).hexdigest(),
                        round(pcx_rgb_mean, 9),
                        round(pcx_mono_mean, 9),
                    )
                )
            yield _pd.DataFrame(
                rows,
                columns=[
                    "asset_id", "img_w", "img_h", "qoi_md5",
                    "qoi_rgb_mean", "pcx_md5", "pcx_rgb_mean",
                    "pcx_mono_mean",
                ],
            )

    return d.mapInPandas(batches, schema=schema).orderBy("asset_id")


# ---------------------------------------------------------------------------
# The subword-tokenizer tier (rounds 14-16): BPE, WordPiece and Unigram-LM
# trainers (operators/bpe.py's skeleton), three entries each — a
# vocabulary trainer, its runtime over unseen docs, and the runtime over
# a vocabulary pinned as a versioned artifact.  Every oracle REPLAYS the
# whole trainer as a recursive CTE carrying the bounded word table as
# list state (the wav_codec_decode stateful-oracle pattern, scaled from a
# per-asset decoder to a corpus-wide trainer), then re-applies the model
# per document.  The shared pieces live here, ahead of the BPE entries.
# ---------------------------------------------------------------------------

_TOK_TRAIN_DOCS = 40  # training corpus: first 40 printable docs
_TOK_APPLY_DOCS = 60  # tokenize surface: 20 docs the trainer never saw
_TOK_VERSIONED_DOCS = 30  # versioned tokenize surface: docs 61..90, unseen
#                           by the trainer (1..40) and the runtimes (1..60)
_TOK_WORDS = 120  # top-K word-frequency table carried through training
_TOK_MIN_FREQ = 2

#: the tokenizer entries' doc slices, (limit, offset) over docs by doc_id
_TOK_APPLY = (_TOK_APPLY_DOCS, 0)
_TOK_VERSIONED = (_TOK_VERSIONED_DOCS, _TOK_APPLY_DOCS)


def _tok_words_sql(wmax: int) -> str:
    """Trainer CTE head: the first 40 printable docs -> the top-120
    ``(w, f)`` table over words of length 2..``wmax``."""
    return f"""d AS (
    SELECT doc_id, lower(text) AS t
    FROM (SELECT * FROM documents ORDER BY doc_id LIMIT {_TOK_TRAIN_DOCS})
    WHERE regexp_matches(text, '^[ -~]*$')
),
wa AS (SELECT unnest(regexp_extract_all(t, '[a-z]+')) AS w FROM d),
wf AS (
    SELECT w, CAST(COUNT(*) AS BIGINT) AS f
    FROM wa WHERE length(w) BETWEEN 2 AND {wmax}
    GROUP BY w ORDER BY f DESC, w LIMIT {_TOK_WORDS}
)"""


#: the merge trainers' initial state: every word as its character list
_MERGE_INIT_SQL = """init AS (
    SELECT list({syms: [w[i] FOR i IN range(1, length(w) + 1)], f: f}
                ORDER BY w) AS words
    FROM wf
)"""


def _tok_apply_head_sql(doc_limit: int, doc_offset: int, wmax: int) -> str:
    """Apply CTE head: the doc slice's printable docs (``td``) and each
    doc's words of length 2..``wmax`` (``tw``)."""
    offset = f" OFFSET {doc_offset}" if doc_offset else ""
    return f"""td AS (
    SELECT doc_id, lower(text) AS t
    FROM (SELECT * FROM documents ORDER BY doc_id
          LIMIT {doc_limit}{offset})
    WHERE regexp_matches(text, '^[ -~]*$')
),
tw AS (
    SELECT doc_id,
           list_filter(regexp_extract_all(t, '[a-z]+'),
                       w -> length(w) BETWEEN 2 AND {wmax}) AS words
    FROM td
)"""


def _tok_stats_cols_sql(versioned: bool) -> str:
    """The apply oracles' leading output columns; ``versioned`` adds
    the pinned ``vocab_version = 1``."""
    version = "\n       CAST(1 AS INTEGER) AS vocab_version," if versioned else ""
    return f"""tw.doc_id,{version}
       CAST(len(tw.words) AS INTEGER) AS n_words,
       CAST(COALESCE(list_sum(list_transform(tw.words, w -> length(w))), 0)
            AS INTEGER) AS n_chars,"""


def _tok_sum_select_sql(versioned: bool, tok_sums: str) -> str:
    """Final SELECT of an apply oracle whose per-doc token counts come
    from the ``(doc_id, tok_sum)`` subquery ``tok_sums``."""
    return f"""SELECT {_tok_stats_cols_sql(versioned)}
       CAST(COALESCE(s.tok_sum, 0) AS INTEGER) AS n_tokens
FROM tw
LEFT JOIN (
    {tok_sums}
) s USING (doc_id)
ORDER BY tw.doc_id"""


def _tok_train_words(spark: SparkSession, sf_dir: str, max_len: int = 12) -> DataFrame:
    """The training word table every trainer entry reads: the first 40
    printable docs -> ``word_frequencies`` -> the top 120 words."""
    from datalakehouse_spark.operators.bpe import word_frequencies

    sample = (
        load_table(spark, sf_dir, "documents")
        .orderBy("doc_id")
        .limit(_TOK_TRAIN_DOCS)
        .where(F.col("text").rlike("^[ -~]*$"))
    )
    return (
        word_frequencies(sample, max_len=max_len)
        .orderBy(F.desc("f"), F.asc("w"))
        .limit(_TOK_WORDS)
    )


def _tok_docs(spark: SparkSession, sf_dir: str, limit: int, offset: int) -> DataFrame:
    """The printable docs of slice ``offset + 1 .. offset + limit`` by
    doc_id (the oracle's ``LIMIT .. OFFSET ..``), spread over 4 tasks."""
    return (
        load_table(spark, sf_dir, "documents")
        .orderBy("doc_id")
        .limit(offset + limit)
        .offset(offset)
        .where(F.col("text").rlike("^[ -~]*$"))
        .select("doc_id", "text")
        .repartition(4)
    )


def _unlearned_bigram(pieces) -> str:
    """A common English bigram the trainer did not learn: a v2 payload
    whose leak would re-tokenize every word containing it."""
    return next(c for c in ("th", "he", "in", "er", "an", "re") if c not in pieces)


def _tok_apply_versioned(
    spark: SparkSession, sf_dir: str, scratch: str, schema: str,
    items, to_row, leak, stats,
) -> DataFrame:
    """The versioned-artifact flow: commit the learned model as v1,
    append the family's ``leak`` item as v2 (chosen to corrupt the hash
    on a leak, not alias it), read the PINNED v1 back (the length
    assert backstops the pin), and tokenize docs 61..90 with it via
    ``stats(pinned_rows, docs)``, stamped ``vocab_version = 1``."""
    from datalakehouse_spark.operators.bpe import rank_table
    from datalakehouse_spark.scratch import fresh_scratch
    from datalakehouse_spark.versioned import VersionedTable

    vt = VersionedTable(spark, fresh_scratch(scratch))
    vt.create(rank_table(spark, schema, items, to_row))
    vt.append(rank_table(spark, schema, [leak], to_row, start=len(items) + 1))
    pinned = sorted(vt.read(version=1).collect(), key=lambda r: r["rank"])
    assert len(pinned) == len(items), "version pin leaked a later commit"
    return (
        stats(pinned, _tok_docs(spark, sf_dir, *_TOK_VERSIONED))
        .withColumn("vocab_version", F.lit(1))
        .select("doc_id", "vocab_version", "n_words", "n_chars", "n_tokens")
        .orderBy("doc_id")
    )


_BPE_MERGES = 16  # bounded merge budget

# greedy left-to-right merge of (bl, br) over a symbol list: fold with
# the merged prefix as accumulator — 'aaa' + (a,a) -> [aa, a], exactly
# operators/bpe.py's aggregate() fold and apply_merges() loop
_BPE_FOLD = (
    "list_reduce(list_transform({syms}, s -> [s]), "
    "(acc, x) -> CASE WHEN len(acc) > 0 AND acc[-1] = {bl} AND x[1] = {br} "
    "THEN list_append(list_slice(acc, 1, len(acc) - 1), {bl} || {br}) "
    "ELSE list_concat(acc, x) END)"
)

# the BPE trainer CTE chain (WITH RECURSIVE prefix supplied by the
# enclosing statement): recursive (pair-count, argmax with (freq DESC,
# pair ASC) tie-break, greedy merge) for up to _BPE_MERGES rounds,
# stopping when the best pair drops under _TOK_MIN_FREQ
_BPE_TRAINER_CTES = f"""
{_tok_words_sql(12)},
{_MERGE_INIT_SQL},
tr AS (
    SELECT 0 AS k, words, CAST(NULL AS VARCHAR) AS bl,
           CAST(NULL AS VARCHAR) AS br, CAST(NULL AS BIGINT) AS bc
    FROM init
    UNION ALL
    SELECT k + 1,
           list_transform(
               words,
               w -> {{syms: {_BPE_FOLD.format(syms="w.syms", bl="bl", br="br")},
                      f: w.f}}) AS words,
           bl, br, bc
    FROM (
        SELECT k, words,
               string_split(best.p, chr(1))[1] AS bl,
               string_split(best.p, chr(1))[2] AS br,
               -best.nc AS bc
        FROM (
            SELECT k, words, list_sort(
                list_transform(
                    list_distinct(list_transform(pairs, x -> x.p)),
                    p -> {{nc: -list_sum(list_transform(
                              list_filter(pairs, x -> x.p = p), x -> x.f)),
                          p: p}}
                ))[1] AS best
            FROM (
                SELECT k, words,
                       flatten(list_transform(words, w ->
                           [{{p: w.syms[j] || chr(1) || w.syms[j + 1], f: w.f}}
                            FOR j IN range(1, len(w.syms))])) AS pairs
                FROM tr WHERE k < {_BPE_MERGES}
            )
            WHERE len(pairs) > 0
        )
    )
    WHERE bc >= {_TOK_MIN_FREQ}
)
"""

_BPE_TRAIN_SQL = f"""
WITH RECURSIVE {_BPE_TRAINER_CTES}
SELECT CAST(k AS INTEGER) AS rank, bl AS left, br AS right,
       bl || br AS merged, bc AS pair_freq
FROM tr WHERE k >= 1 ORDER BY rank
"""


#: session memo: one training run per corpus (the ivf_build_stats
#: build/serve-split pattern) — bpe_tokenize_stats reuses the merges
#: bpe_vocab_train learned instead of re-running the trainer
@session_memo("bpe_merges")
def _bpe_trained(spark: SparkSession, sf_dir: str):
    from datalakehouse_spark.operators.bpe import bpe_train_auto

    _, merges = bpe_train_auto(
        spark, _tok_train_words(spark, sf_dir),
        n_merges=_BPE_MERGES, min_freq=_TOK_MIN_FREQ,
    )
    return merges


@register(
    "bpe_vocab_train",
    _BPE_TRAIN_SQL,
    "BPE vocabulary trainer: iterative pair-count/merge loop == recursive-CTE replay",
    eager=True,  # build/serve split: the trainer runs at build (size-adaptive)
    builds=("bpe_merges",),
)
def q_bpe_vocab_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round 14: the BPE vocabulary-merge trainer (operators/bpe.py —
    the pair-count → argmax → greedy re-symbolize loop of Sennrich et
    al. 2016).  The corpus factors to a ``(word, freq)`` table in ONE
    shuffle; the bounded fixture table takes the size-adaptive
    single-task path (``bpe_train_auto`` — one job), a corpus-scale one
    the distributed loop (per round a ``zip_with`` pair explode + one
    hash aggregate + a 1-row argmax collect, with a JVM-side
    ``aggregate`` fold).  The DuckDB oracle replays the ENTIRE trainer
    as a recursive CTE whose state row carries the word table as a
    list of structs — the same (freq DESC, pair ASC) argmax, the same
    greedy fold — so every merge rank, pair, and frequency must match
    bit-exactly.

    Scale shape: the fixture bounds training at 40 docs / top-120
    words for oracle tractability; the operator itself is the 100 TB
    shape (docs/SCALING_RESULTS.md ladder) — word-hash-partitioned,
    no driver-side token tables, O(merges) tiny jobs."""
    from datalakehouse_spark.operators.bpe import BPE_SCHEMA, merge_row, rank_table

    merges = _bpe_trained(spark, sf_dir)
    return rank_table(spark, BPE_SCHEMA, merges, merge_row).orderBy("rank")


def _bpe_apply_sql(doc_limit: int, doc_offset: int = 0, versioned: bool = False) -> str:
    """The BPE runtime oracle over a doc slice: derive the merges with
    the trainer CTE, then step every document's word symbolizations
    through a second recursive CTE, one merge per recursion level."""
    return f"""
WITH RECURSIVE {_BPE_TRAINER_CTES},
ml AS (
    SELECT list({{l: bl, r: br}} ORDER BY k) AS ml,
           CAST(COUNT(*) AS INTEGER) AS nm
    FROM tr WHERE k >= 1
),
{_tok_apply_head_sql(doc_limit, doc_offset, 12)},
app AS (
    SELECT doc_id, 0 AS k,
           list_transform(words,
               w -> [w[i] FOR i IN range(1, length(w) + 1)]) AS ws
    FROM tw
    UNION ALL
    SELECT a.doc_id, a.k + 1,
           list_transform(
               a.ws,
               syms -> {_BPE_FOLD.format(
                   syms="syms", bl="ml.ml[a.k + 1].l", br="ml.ml[a.k + 1].r")})
    FROM app a, ml WHERE a.k < ml.nm
)
SELECT {_tok_stats_cols_sql(versioned)}
       CAST(COALESCE(list_sum(list_transform(fin.ws, s -> len(s))), 0)
            AS INTEGER) AS n_tokens
FROM tw
JOIN (SELECT doc_id, ws FROM app, ml WHERE app.k = ml.nm) fin
  USING (doc_id)
ORDER BY doc_id
"""


@register(
    "bpe_tokenize_stats",
    _bpe_apply_sql(*_TOK_APPLY),
    "BPE tokenizer application: learned merges over unseen docs == CTE replay",
    eager=True,  # build/serve split: trains (memoized) in a cold session
)
def q_bpe_tokenize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round 14: the consumer side of the BPE trainer — apply the
    16 learned merges to the 60-doc sample (the last 20 docs the
    trainer never saw, so this pins generalization, not memorization)
    and report per-document token compression: ``n_words``,
    ``n_chars`` (pre-merge symbol count), ``n_tokens`` (post-merge),
    by merge replay in rank order, each merge greedy left-to-right
    (``bpe_tokenize_stats``).

    Scale shape: tokenization is a pure map stage — embarrassingly
    parallel over documents, no shuffle; the training cost is paid
    once per session (shared memo with ``bpe_vocab_train``)."""
    from datalakehouse_spark.operators.bpe import bpe_tokenize_stats

    merges = _bpe_trained(spark, sf_dir)
    return bpe_tokenize_stats(_tok_docs(spark, sf_dir, *_TOK_APPLY), merges).orderBy(
        "doc_id"
    )


@register(
    "bpe_vocab_apply_versioned",
    _bpe_apply_sql(*_TOK_VERSIONED, versioned=True),
    "BPE vocab pinned as a versioned artifact: tokenize with v1 while v2 exists",
    eager=True,  # materializing surface: commits vocab v1 + v2, collects the pinned v1
)
def q_bpe_vocab_apply_versioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round 15 (VERDICT r14 #8): the production persistence contract
    for a learned tokenizer vocabulary — the merge table is COMMITTED
    through VersionedTable (M8, versioned.py), a NEWER vocabulary lands
    as version 2 (training never stops at 100 TB), and the tokenizer
    reads the PINNED version 1 over docs 61..90, so its output is
    reproducible no matter how far the vocab artifact has advanced.
    The v2 merge ``(qq, qq)`` can never be learned from ``[a-z]+``
    fixtures ranked by the real trainer, so a leak would corrupt the
    hash, not alias it.  The oracle's merges ARE v1 — hash-matching
    proves the versioned round-trip lossless.

    Scale shape: the vocab artifact is ≤ n_merges rows — versioning it
    costs one tiny parquet commit; tokenization stays a pure map stage."""
    from datalakehouse_spark.operators.bpe import (
        BPE_SCHEMA,
        bpe_tokenize_stats,
        merge_row,
    )

    return _tok_apply_versioned(
        spark, sf_dir, "bpe_vocab_versioned", BPE_SCHEMA,
        _bpe_trained(spark, sf_dir), merge_row, ("qq", "qq", 0),
        lambda pinned, docs: bpe_tokenize_stats(
            docs, [(r["left"], r["right"]) for r in pinned]
        ),
    )


# ---------------------------------------------------------------------------
# streaming_incremental_dedup: the continuous-crawl dedup loop (round 15,
# VERDICT r14 #6) — the streaming twin of incremental_dedup_ingest,
# maintaining the prefix-fingerprint index ACROSS micro-batches with one
# versioned commit per batch (the streaming_incremental_mv precedent).
# ---------------------------------------------------------------------------


from datalakehouse_spark.registry_ext5 import _INCR_DEDUP_SQL  # noqa: E402


@register(
    "streaming_incremental_dedup",
    _INCR_DEDUP_SQL,
    "streaming continuous-crawl dedup: per-micro-batch index merge == one-shot batch",
    # materializing surface: restages the crawl slice, drains a foreachBatch
    # stream committing the digest index + stats
    eager=True,
)
def q_streaming_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming form of ``incremental_dedup_ingest``: the crawl
    batch (doc_id % 4 == 3) arrives as FOUR micro-batches drained with
    ``maxFilesPerTrigger=1``; ``foreachBatch`` dedups each against (a)
    the historical corpus's persisted digest index and (b) the
    SESSION index of survivors committed by earlier micro-batches,
    appends the batch's surviving digests to that index and its
    per-source accounting to a stats table — ONE versioned commit per
    batch, the CDC trail (the ``streaming_incremental_mv`` pattern).

    Batch-split invariance is the contract the oracle pins: the batch
    form's keep-first is min(doc_id) per digest, so the restage slices
    the stream into ASCENDING doc_id ranges (first arrival == smallest
    doc_id; ``os.utime`` stamps strictly increasing mtimes so the file
    source's (mtime, path) ordering is deterministic) and a duplicate
    whose keeper arrived in an earlier micro-batch lands in the same
    ``n_dup_batch`` bucket the one-shot computation puts it in.  The
    per-batch work is two digest-keyed equi-joins (hist + session
    index, both broadcastable daily-scale sides) and a skew-immune
    min(doc_id) aggregate — never a per-digest sort window; at 100 TB
    the session index is a bucketed table and each trigger costs
    ∝ batch size, not corpus.

    The ntile restage is fixture plumbing, not the operator: in
    production the stream's own arrival defines the micro-batches.
    The drain itself lives in operators/dedup.py
    (``streaming_incremental_dedup_drain``) and the scale ladder
    (tools/scale_ladder.py) times this entry, so both exercise the same
    code."""
    from datalakehouse_spark.operators.dedup import (
        prefix_digest,
        streaming_incremental_dedup_drain,
    )
    from datalakehouse_spark.scratch import fresh_scratch

    digests = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", prefix_digest(F.col("text")).alias("digest")
    )
    return streaming_incremental_dedup_drain(
        spark,
        digests,
        fresh_scratch("stream_incr_dedup"),
        batch_pred=F.col("doc_id") % 4 == 3,
        n_slices=4,
    )


# ---------------------------------------------------------------------------
# wordpiece_vocab_train / wordpiece_tokenize_stats: the likelihood-scored
# subword trainer (round 15) — the BPE merge loop whose argmax maximizes
# count(ab) / (count(a) * count(b)) (Schuster & Nakajima 2012, the BERT
# tokenizer's trainer).  The oracle's trainer CTE additionally carries
# per-round unigram occurrence counts for the likelihood score.
# ---------------------------------------------------------------------------

_WP_MERGES = 12

def _wp_uni_sql(i: int) -> str:
    """The unigram count of candidate pair ``y``'s ``i``-th symbol."""
    return (
        "list_sum(list_transform(list_filter(unis, z -> "
        f"z.s = string_split(y.p, chr(1))[{i}]), z -> z.f))"
    )


# the WordPiece trainer CTE chain (WITH RECURSIVE prefix supplied by
# the enclosing statement) — the BPE chain's shape plus per-round
# unigram counts for the likelihood argmax
_WP_TRAINER_CTES = f"""{_tok_words_sql(12)},
{_MERGE_INIT_SQL},
tr AS (
    SELECT 0 AS k, words, CAST(NULL AS VARCHAR) AS bl,
           CAST(NULL AS VARCHAR) AS br, CAST(NULL AS BIGINT) AS bc,
           CAST(NULL AS BIGINT) AS blf, CAST(NULL AS BIGINT) AS brf
    FROM init
    UNION ALL
    SELECT k + 1,
           list_transform(
               words,
               w -> {{syms: {_BPE_FOLD.format(syms="w.syms", bl="bl", br="br")},
                      f: w.f}}) AS words,
           bl, br, bc, blf, brf
    FROM (
        SELECT k, words,
               string_split(best.p, chr(1))[1] AS bl,
               string_split(best.p, chr(1))[2] AS br,
               best.c AS bc, best.ul AS blf, best.ur AS brf
        FROM (
            SELECT k, words, list_sort(
                list_transform(
                    cands,
                    y -> {{ns: -(CAST(y.c AS DOUBLE) / (
                              {_wp_uni_sql(1)} * {_wp_uni_sql(2)})),
                          p: y.p, c: y.c,
                          ul: {_wp_uni_sql(1)}, ur: {_wp_uni_sql(2)}}}
                ))[1] AS best
            FROM (
                SELECT k, words, unis,
                       list_filter(
                           list_transform(
                               list_distinct(list_transform(pairs, x -> x.p)),
                               p -> {{c: list_sum(list_transform(
                                         list_filter(pairs, x -> x.p = p),
                                         x -> x.f)),
                                     p: p}}),
                           y -> y.c >= {_TOK_MIN_FREQ}) AS cands
                FROM (
                    SELECT k, words,
                           flatten(list_transform(words, w ->
                               [{{p: w.syms[j] || chr(1) || w.syms[j + 1],
                                  f: w.f}}
                                FOR j IN range(1, len(w.syms))])) AS pairs,
                           flatten(list_transform(words, w ->
                               list_transform(w.syms,
                                   s -> {{s: s, f: w.f}}))) AS unis
                    FROM tr WHERE k < {_WP_MERGES}
                )
            )
            WHERE len(cands) > 0
        )
    )
)"""

_WP_TRAIN_SQL = f"""
WITH RECURSIVE {_WP_TRAINER_CTES}
SELECT CAST(k AS INTEGER) AS rank, bl AS left, br AS right,
       bl || br AS merged, bc AS pair_freq,
       blf AS left_freq, brf AS right_freq
FROM tr WHERE k >= 1 ORDER BY rank
"""


def _wp_trained(spark: SparkSession, sf_dir: str):
    """Train the WordPiece vocabulary, cold (no cross-entry memo: every
    bench timing of a WordPiece entry is a cold build)."""
    from datalakehouse_spark.operators.wordpiece import wordpiece_train_auto

    return wordpiece_train_auto(
        spark, _tok_train_words(spark, sf_dir),
        n_merges=_WP_MERGES, min_freq=_TOK_MIN_FREQ,
    )


@register(
    "wordpiece_vocab_train",
    _WP_TRAIN_SQL,
    "WordPiece trainer: likelihood-scored merge loop == recursive-CTE replay",
    eager=True,  # build/serve split: retrains at build, unmemoized (every run is cold)
)
def q_wordpiece_vocab_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round 15: the likelihood-scored subword trainer
    (operators/wordpiece.py — Schuster & Nakajima 2012, the BERT
    tokenizer's trainer) on the BPE entry's fixture (40 docs, top-120
    words): the per-round argmax maximizes ``count(ab) / (count(a) *
    count(b))`` — the unit test pins a corpus where the two trainers
    genuinely pick different merges.  The output carries the exact
    integer triple (pair_freq, left_freq, right_freq), so the
    correctness hash never compares a floating-point score; the score
    itself is one IEEE double division of exact integers, bit-identical
    across Python, Spark SQL, and DuckDB (argmax ties resolve on the
    pair key).

    Scale shape: per round, two map-side-combined aggregates over the
    word table + a broadcast join against the alphabet-bounded symbol
    table + a 1-row argmax collect; the bounded fixture takes the
    fused single-task probe path (ONE narrow Spark action cold)."""
    return _wp_trained(spark, sf_dir)[0]


def _wp_apply_sql(doc_limit: int, doc_offset: int = 0, versioned: bool = False) -> str:
    """The WordPiece runtime oracle over a doc slice: derive the pieces
    with the trainer CTE, then step every word through a per-word
    recursive longest-match CTE."""
    return f"""
WITH RECURSIVE {_WP_TRAINER_CTES},
pieces AS (
    SELECT list_distinct(list(bl || br)) AS pl FROM tr WHERE k >= 1
),
{_tok_apply_head_sql(doc_limit, doc_offset, 12)},
we AS (
    SELECT doc_id, u.i AS widx, u.w AS w
    FROM (
        SELECT doc_id,
               unnest([{{i: i, w: words[i]}}
                       FOR i IN range(1, len(words) + 1)]) AS u
        FROM tw
    )
),
tok AS (
    SELECT doc_id, widx, w, 0 AS pos, 0 AS cnt FROM we
    UNION ALL
    SELECT doc_id, widx, w,
           pos + length(coalesce(best, substr(w, pos + 1, 1))) AS pos,
           cnt + 1
    FROM (
        SELECT doc_id, widx, w, pos, cnt,
               list_sort(list_transform(
                   list_filter(pieces.pl,
                       p -> substr(w, pos + 1, length(p)) = p),
                   p -> {{nl: -length(p), p: p}}))[1].p AS best
        FROM tok, pieces WHERE pos < length(w)
    )
)
{_tok_sum_select_sql(versioned, '''SELECT doc_id, SUM(cnt) AS tok_sum
    FROM tok WHERE pos = length(w) GROUP BY doc_id''')}
"""


@register(
    "wordpiece_tokenize_stats",
    _wp_apply_sql(*_TOK_APPLY),
    "WordPiece inference: greedy longest-match over the learned pieces == CTE replay",
    eager=True,  # build/serve split: retrains at build, unmemoized
)
def q_wordpiece_tokenize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round 15: the WordPiece RUNTIME — greedy leftmost longest-match
    over the learned piece inventory (the BERT tokenizer's inference
    algorithm), which genuinely differs from BPE's merge replay
    (test-pinned: pieces {ab, bc} from rank order [(b,c), (a,b)]
    tokenize 'abc' as [ab, c] here but [a, bc] under replay), over the
    60-doc sample (the last 20 unseen by the trainer).

    The entry retrains its own vocabulary at build (ONE narrow Spark
    action — the fused probe) instead of memoizing across entries:
    that keeps every bench timing a cold build and avoids the
    build-once/cold-reset machinery (``QuerySpec.builds``) the
    memoized BPE pair needs.  Tokenization is a pure map stage."""
    from datalakehouse_spark.operators.wordpiece import wordpiece_tokenize_stats

    _, merges = _wp_trained(spark, sf_dir)
    pieces = {left + right for left, right, *_ in merges}
    return wordpiece_tokenize_stats(
        _tok_docs(spark, sf_dir, *_TOK_APPLY), pieces
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# streaming_near_dup_ingest: the NEAR-dup streaming crawl loop (round 15)
# — the MinHash-LSH twin of streaming_incremental_dedup.  The oracle is
# the one-shot bucket-membership computation over the same signatures
# (registry_ext._minhash_sql_core, the verified near_dup machinery).
# ---------------------------------------------------------------------------


def _near_dup_bands_ctes() -> str:
    """The shared signature + band-bucket CTE prefix for the streaming
    near-dup entries (build and drain)."""
    from datalakehouse_spark.operators import dedup as D
    from datalakehouse_spark.registry_ext import _minhash_sql_core

    n_bands = D.N_PERM_DEFAULT // D.BAND_SIZE_DEFAULT
    band_selects = []
    for bnd in range(n_bands):
        cols = ", ".join(
            f"mh{bnd * D.BAND_SIZE_DEFAULT + j}"
            for j in range(D.BAND_SIZE_DEFAULT)
        )
        # len(sh) > 0: shingle-less docs have NO signature row on the
        # Spark side (nothing to explode), so they carry no buckets
        band_selects.append(
            f"SELECT doc_id, {bnd} AS band, concat_ws('_', {cols}) AS key "
            "FROM sig WHERE len(sh) > 0"
        )
    bands = " UNION ALL ".join(band_selects)
    return _minhash_sql_core() + f""",
bands AS ({bands})"""


def _streaming_near_dup_sql() -> str:
    return _near_dup_bands_ctes() + """,
hb AS (SELECT DISTINCT band, key FROM bands WHERE doc_id % 4 <> 3),
bb AS (SELECT doc_id, band, key FROM bands WHERE doc_id % 4 = 3),
ch AS (SELECT DISTINCT bb.doc_id FROM bb JOIN hb USING (band, key)),
fb AS (SELECT band, key, min(doc_id) AS fid FROM bb GROUP BY band, key),
eh AS (SELECT DISTINCT bb.doc_id
       FROM bb JOIN fb USING (band, key) WHERE fb.fid < bb.doc_id),
cls AS (
    SELECT d.doc_id, d.source,
           CASE WHEN ch.doc_id IS NOT NULL THEN 2
                WHEN eh.doc_id IS NOT NULL THEN 1 ELSE 0 END AS c
    FROM (SELECT doc_id, source FROM documents WHERE doc_id % 4 = 3) d
    LEFT JOIN ch ON ch.doc_id = d.doc_id
    LEFT JOIN eh ON eh.doc_id = d.doc_id
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_new,
       CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_corpus,
       CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_batch,
       CAST(SUM(CASE WHEN c = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_ingested
FROM cls GROUP BY source ORDER BY source
"""


#: Session memo for the near-dup build/serve split (round 16, VERDICT
#: r15 #3 — the ivf_index precedent): (hist_index_path,
#: staged_src_path).  The historical LSH index build + ascending
#: restage run ONCE per corpus per session (the build entry's metric);
#: the drain entry serves from the staged artifacts into a fresh root
#: per call.
@session_memo("near_dup_stage")
def _near_dup_staged(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    import hashlib
    import os

    from datalakehouse_spark.operators.dedup import near_dup_index_stage
    from datalakehouse_spark.scratch import fresh_scratch

    # fresh (not stable): a cold-reset rebuild must not append a
    # second copy of the restaged slice files
    key = os.path.abspath(sf_dir)
    tag = "nd_stage_" + hashlib.md5(key.encode()).hexdigest()[:8]
    docs = load_table(spark, sf_dir, "documents")
    return near_dup_index_stage(
        spark,
        docs,
        fresh_scratch(tag),
        batch_pred=F.col("doc_id") % 4 == 3,
        n_slices=4,
    )


_ND_BUILD_SQL = _near_dup_bands_ctes() + """
SELECT CAST(band AS INTEGER) AS band,
       CAST(COUNT(DISTINCT key) AS BIGINT) AS n_buckets
FROM bands WHERE doc_id % 4 <> 3
GROUP BY band ORDER BY band
"""


@register(
    "streaming_near_dup_build",
    _ND_BUILD_SQL,
    "near-dup ingest BUILD: historical LSH bucket index + restage; occupancy per band",
    # build/serve split: the near-dup BUILD half (historical LSH index +
    # restage)
    eager=True,
    builds=("near_dup_stage",),
)
def q_streaming_near_dup_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round 16 (VERDICT r15 #3): the BUILD half of the near-dup
    streaming ingest as its own scored entry — the ivf_build_stats
    split shape.  It carries the one-time historical LSH band-bucket
    index build and the fixture restage, so ``streaming_near_dup_ingest``
    now times the per-trigger DRAIN alone (the number that actually
    scales with batch size at 100 TB).  The per-band distinct-bucket
    occupancy it returns is the oracle check that the persisted index
    equals the replayed signature computation."""
    hist_path, _src = _near_dup_staged(spark, sf_dir)
    return (
        spark.read.parquet(hist_path)
        .groupBy(F.col("band").cast("int").alias("band"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_buckets"))
        .orderBy("band")
    )


@register(
    "streaming_near_dup_ingest",
    _streaming_near_dup_sql(),
    "streaming near-dup crawl ingest: LSH bucket index across micro-batches == one-shot",
    # materializing surface: drains the near-dup stream, one versioned LSH-
    # index commit per trigger
    eager=True,
)
def q_streaming_near_dup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round 15: the NEAR-dup streaming crawl loop — the MinHash-LSH
    twin of ``streaming_incremental_dedup``.  The crawl slice drains as
    four ascending micro-batches; each probes its LSH band buckets
    against (a) the persisted historical bucket index and (b) the
    session index of ALL earlier arrivals' buckets, classifies
    (corpus-dup first, then earlier-crawl-dup, else ingest), and
    commits its bucket set + per-source stats once per trigger.

    The session index records every ARRIVAL's buckets (not only
    survivors'): near-dup conflicts aren't an equivalence relation, so
    a survivor-only index would make totals depend on the slicing,
    while the seen-everything index is exactly batch-split invariant
    AND the production crawl posture (future near-dups of rejected
    boilerplate still catch) — deduplicated against both indexes
    before committing (ADVICE r15), so it grows with distinct new
    buckets.  The oracle computes the same bucket membership one-shot
    from the identical signature SQL the verified
    ``near_dup_pairs``/``minhash_signatures`` entries use.

    Round 16 (VERDICT r15 #3): the one-time historical index build +
    restage moved to ``streaming_near_dup_build`` (session-memoized,
    the IVF split shape) — this entry now times the DRAIN: four
    micro-batch triggers, each one signature pass (map-side MIN
    combine), two bucket-keyed LEFT SEMI probes, one min-per-bucket
    aggregate — membership checks, never the pair space, so no salting
    is even needed here (the pair join and its hot-bucket salting live
    in lsh_candidate_pairs where pairs are wanted)."""
    from datalakehouse_spark.operators.dedup import (
        streaming_near_dup_drain_staged,
    )
    from datalakehouse_spark.scratch import fresh_scratch

    hist_path, src = _near_dup_staged(spark, sf_dir)
    return streaming_near_dup_drain_staged(
        spark, hist_path, src, fresh_scratch("stream_near_dup")
    )


# ---------------------------------------------------------------------------
# wordpiece_vocab_apply_versioned: the WordPiece vocabulary through the
# versioned-artifact path (round 16, VERDICT r15 #7 — the
# bpe_vocab_apply_versioned symmetry).
# ---------------------------------------------------------------------------


@register(
    "wordpiece_vocab_apply_versioned",
    _wp_apply_sql(*_TOK_VERSIONED, versioned=True),
    "WordPiece vocab pinned as a versioned artifact: tokenize with v1 while v2 exists",
    # materializing surface: trains, commits v1 + v2, collects the pinned v1
    eager=True,
)
def q_wordpiece_vocab_apply_versioned(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Round 16 (VERDICT r15 #7): the versioned-artifact persistence
    contract for the WordPiece vocabulary (``_tok_apply_versioned``):
    the learned merge table commits as version 1, a LATER vocabulary
    lands as version 2, and longest-match over the PINNED v1 pieces
    tokenizes docs 61..90.  The v2 payload bites on leakage (stronger
    than the BPE twin's): a common English bigram the v1 trainer did
    NOT learn — were the pinned read to leak v2, longest-match would
    tokenize every word containing that bigram differently and the
    hash would flip."""
    from datalakehouse_spark.operators.bpe import merge_row
    from datalakehouse_spark.operators.wordpiece import (
        WP_SCHEMA,
        wordpiece_tokenize_stats,
    )

    _, merges = _wp_trained(spark, sf_dir)
    leak = _unlearned_bigram({left + right for left, right, *_ in merges})
    return _tok_apply_versioned(
        spark, sf_dir, "wp_vocab_versioned", WP_SCHEMA,
        merges, merge_row, (leak[0], leak[1], 0, 0, 0),
        lambda pinned, docs: wordpiece_tokenize_stats(
            docs, {r["merged"] for r in pinned}
        ),
    )


# ---------------------------------------------------------------------------
# unigram_vocab_train / unigram_tokenize_stats: the Unigram-LM
# (SentencePiece-style) trainer (round 16, VERDICT r15 #2 — Kudo 2018,
# public literature), completing the classical trainer family next to
# BPE and WordPiece.  Hard (Viterbi) EM over a substring-seeded piece
# inventory: every re-estimated count is an exact integer, so the
# DuckDB oracle replays the ENTIRE trainer — seeding, per-round exact
# enumeration argmax segmentation, integer re-counts — bit-for-bit
# (see operators/unigram.py's determinism contract).
# ---------------------------------------------------------------------------

_UNI_MAXP = 6  # longest seeded piece
_UNI_SEEDK = 40  # multi-char seed cap (chars always kept)
_UNI_ROUNDS = 3  # hard-EM rounds
_UNI_WMAX = 8  # word-length contract [a-z]{2,8}: <= 2^7 segmentations


def _uni_segments_expr(w: str, m: str) -> str:
    """Segmentation of word ``w`` under cut-point bitmask ``m``: bit
    i-1 set => cut before position i (operators/unigram.py's
    best_segmentation enumerates the identical masks), let-bound as
    ``b`` by DuckDB's single-element-list + transform idiom."""
    cuts = (
        f"([CAST(0 AS BIGINT)] || [i FOR i IN range(1, length({w})) "
        f"IF (({m} >> (i - 1)) & 1) = 1] || [CAST(length({w}) AS BIGINT)])"
    )
    return (
        f"list_transform([{cuts}], b -> "
        f"[substr({w}, b[j] + 1, b[j + 1] - b[j]) FOR j IN range(1, len(b))])[1]"
    )


def _uni_best_expr(w: str) -> str:
    """The exact-enumeration argmax over all valid segmentations of
    ``w`` under the in-scope (inv, total): minimize (0.0 - score,
    n_pieces, pieces-joined-by-chr(1)) — `0.0 - score` (not negation)
    so zero scores normalize to +0.0 identically in Python and DuckDB.
    The score is a LEFT-TO-RIGHT product of count/total double
    divisions — the same operand order operators/unigram.py folds in,
    hence bit-identical."""
    cnt = (
        "COALESCE(list_sum(list_transform("
        "list_filter(inv, z -> z.p = s), z -> z.c)), 0)"
    )
    valid = (
        f"[sg FOR sg IN list_transform(range(0, 1 << (length({w}) - 1)), "
        f"m -> {_uni_segments_expr(w, 'm')}) "
        "IF len(list_filter(sg, x -> "
        "len(list_filter(inv, z -> z.p = x)) = 0)) = 0]"
    )
    score = (
        f"list_reduce(list_transform(segs, s -> CAST({cnt} AS DOUBLE) "
        "/ total), (a, b) -> a * b)"
    )
    return (
        "list_sort([{ns: 0.0 - " + score + ", np: len(segs), "
        "ky: array_to_string(segs, chr(1)), segs: segs} "
        f"FOR segs IN {valid}])[1]"
    )


#: the unigram trainer CTE chain (WITH RECURSIVE prefix supplied by the
#: enclosing statement): word frequencies -> substring seed inventory
#: -> ROUNDS of hard-EM (enumeration argmax per word, integer usage
#: re-counts), the inventory FIXED after seeding with only counts
#: updating (zero-usage pieces stay valid at score 0.0 — exactly what
#: train_unigram_local carries).
_UNI_TRAINER_CTES = f"""{_tok_words_sql(_UNI_WMAX)},
occ AS (
    SELECT unnest(flatten([[substr(w, i, L) FOR i IN range(1, length(w) - L + 2)]
                           FOR L IN range(1, {_UNI_MAXP} + 1)])) AS p, f
    FROM wf
),
pcnt AS (SELECT p, CAST(SUM(f) AS BIGINT) AS c FROM occ GROUP BY p),
seeds AS (
    SELECT p, c FROM pcnt WHERE length(p) = 1
    UNION ALL
    SELECT p, c FROM (SELECT p, c FROM pcnt
                      WHERE length(p) >= 2 AND c >= {_TOK_MIN_FREQ}
                      ORDER BY c DESC, p LIMIT {_UNI_SEEDK})
),
wl AS (SELECT list({{w: w, f: f}} ORDER BY w) AS wl FROM wf),
iv0 AS (SELECT list({{p: p, c: c}} ORDER BY p) AS inv FROM seeds),
em AS (
    SELECT 0 AS k, inv FROM iv0
    UNION ALL
    SELECT k + 1,
           list_transform(inv, z -> {{p: z.p,
               c: CAST(COALESCE(list_sum(list_transform(
                       list_filter(usage, u -> u.p = z.p), u -> u.f)), 0)
                  AS BIGINT)}})
    FROM (
        SELECT k, inv,
               flatten(list_transform(wl.wl, wr ->
                   list_transform({_uni_best_expr('wr.w')}.segs,
                                  s -> {{p: s, f: wr.f}}))) AS usage
        FROM (SELECT k, inv,
                     CAST(list_sum(list_transform(inv, z -> z.c)) AS BIGINT)
                         AS total
              FROM em WHERE k < {_UNI_ROUNDS}), wl
    )
)"""

_UNI_TRAIN_SQL = f"""
WITH RECURSIVE {_UNI_TRAINER_CTES}
SELECT CAST(row_number() OVER (ORDER BY u.c DESC, u.p) AS INTEGER) AS rank,
       u.p AS piece, CAST(u.c AS BIGINT) AS freq
FROM (SELECT unnest(inv) AS u FROM em WHERE k = {_UNI_ROUNDS})
WHERE u.c > 0
ORDER BY rank
"""


def _uni_trained(spark: SparkSession, sf_dir: str):
    """Train the unigram inventory, cold (the WordPiece posture)."""
    from datalakehouse_spark.operators.unigram import unigram_train_auto

    return unigram_train_auto(
        spark,
        _tok_train_words(spark, sf_dir, max_len=_UNI_WMAX),
        rounds=_UNI_ROUNDS,
        max_piece_len=_UNI_MAXP,
        min_freq=_TOK_MIN_FREQ,
        seed_k=_UNI_SEEDK,
    )


@register(
    "unigram_vocab_train",
    _UNI_TRAIN_SQL,
    "Unigram-LM trainer: substring-seeded hard-EM == recursive-CTE replay",
    eager=True,  # build/serve split: retrains at build, unmemoized (every run is cold)
)
def q_unigram_vocab_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round 16 (VERDICT r15 #2): the Unigram-LM subword trainer
    (operators/unigram.py — Kudo 2018, the SentencePiece unigram
    model), the one a modern LLM data pipeline actually tokenizes
    with.  The piece inventory seeds from every substring occurrence of
    the word-frequency table (alphabet always kept; multi-char pieces
    min_freq-gated and top-K-capped), then hard (Viterbi) EM
    re-estimates integer usage counts: the E-step segments each word by
    EXACT ENUMERATION over cut-point bitmasks (the ``[a-z]{2,8}``
    word contract bounds a word at 2^7 segmentations), the M-step
    re-counts.  Hard EM is what makes the trainer oracle-replayable:
    soft EM's forward-backward float sums are order-sensitive across
    engines, while here every cross-engine comparison is a single
    correctly-rounded double division/product in identical operand
    order.  The oracle's recursive CTE carries the (piece, count)
    inventory, so every output rank, piece, and count must match
    bit-exactly.

    Scale shape: seeding is one substring-explode hash aggregate over
    the word table; each EM round is one Arrow-batched usage map + one
    map-side-combined aggregate + an inventory-sized collect (the
    model, not a token table).  The bounded fixture takes the fused
    single-task probe path (ONE narrow Spark action cold)."""
    return _uni_trained(spark, sf_dir)[0]


def _uni_apply_sql(doc_limit: int, doc_offset: int = 0,
                   versioned: bool = False) -> str:
    """The unigram RUNTIME oracle over a doc slice: re-derive the final
    inventory with the trainer CTE, close it over the slice's alphabet,
    re-run the enumeration argmax per DISTINCT word, join back to
    occurrences."""
    return f"""
WITH RECURSIVE {_UNI_TRAINER_CTES},
finv AS (
    SELECT list_filter(inv, z -> z.c > 0) AS inv,
           CAST(list_sum(list_transform(inv, z -> z.c)) AS BIGINT) AS total
    FROM em WHERE k = {_UNI_ROUNDS}
),
{_tok_apply_head_sql(doc_limit, doc_offset, _UNI_WMAX)},
uw AS (SELECT DISTINCT unnest(words) AS w FROM tw),
ac AS (SELECT DISTINCT unnest([substr(w, i, 1)
                               FOR i IN range(1, length(w) + 1)]) AS ch
       FROM uw),
mc AS (SELECT list(ch ORDER BY ch) AS chs FROM ac),
rim AS (
    SELECT list_concat(f.inv,
               list_transform(
                   list_filter(mc.chs,
                       ch -> len(list_filter(f.inv, z -> z.p = ch)) = 0),
                   ch -> {{p: ch, c: CAST(0 AS BIGINT)}})) AS inv,
           f.total AS total
    FROM finv f, mc
),
wtok AS (SELECT w, {_uni_best_expr('w')}.np AS nt FROM uw, rim)
{_tok_sum_select_sql(versioned, '''SELECT doc_id, SUM(nt) AS tok_sum
    FROM (SELECT doc_id, unnest(words) AS w FROM tw) dw
    JOIN wtok USING (w) GROUP BY doc_id''')}
"""


@register(
    "unigram_tokenize_stats",
    _uni_apply_sql(*_TOK_APPLY),
    "Unigram-LM inference: exact-argmax segmentation under trained probs == CTE replay",
    eager=True,  # build/serve split: retrains at build, unmemoized
)
def q_unigram_tokenize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round 16: the Unigram-LM RUNTIME — segment each word by the
    exact enumeration argmax under the trained piece probabilities
    (the runtime twin of Viterbi decoding; the word-length contract
    makes enumeration exact AND oracle-expressible) over the 60-doc
    sample (the last 20 unseen by the trainer).  Characters the trainer
    never saw join the runtime inventory at probability 0.0 (the
    UNK-closure); zero-usage trained pieces are DROPPED at runtime (the
    trained artifact is the positive-count table the train entry
    outputs).  Retrains cold at build, as the WordPiece runtime does;
    tokenization is a pure map stage."""
    from datalakehouse_spark.operators.unigram import unigram_tokenize_stats

    _, ranked = _uni_trained(spark, sf_dir)
    return unigram_tokenize_stats(
        _tok_docs(spark, sf_dir, *_TOK_APPLY), ranked, max_len=_UNI_WMAX
    ).orderBy("doc_id")


@register(
    "unigram_vocab_apply_versioned",
    _uni_apply_sql(*_TOK_VERSIONED, versioned=True),
    "Unigram vocab pinned as a versioned artifact: tokenize with v1 while v2 exists",
    # materializing surface: trains, commits v1 + v2, collects the pinned v1
    eager=True,
)
def q_unigram_vocab_apply_versioned(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Round 16: the versioned-artifact persistence contract for the
    Unigram-LM inventory (``_tok_apply_versioned``), completing the
    trainer × versioned-artifact matrix.  The v2 payload bites HARDER
    here than in the merge-trainer twins: a leaked extra piece with a
    large count changes ``total`` and hence EVERY piece probability —
    any leak re-scores every segmentation, not just words containing
    the new piece."""
    from datalakehouse_spark.operators.unigram import (
        UNI_SCHEMA,
        unigram_tokenize_stats,
    )

    _, ranked = _uni_trained(spark, sf_dir)
    leak = _unlearned_bigram({p for p, _ in ranked})
    return _tok_apply_versioned(
        spark, sf_dir, "uni_vocab_versioned", UNI_SCHEMA,
        ranked, tuple, (leak, 10_000),
        lambda pinned, docs: unigram_tokenize_stats(
            docs, [(r["piece"], r["freq"]) for r in pinned], max_len=_UNI_WMAX
        ),
    )
