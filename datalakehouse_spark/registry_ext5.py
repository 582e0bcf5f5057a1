"""Registry part 6 (round 5, continued): behavioral analytics and
corpus-hygiene operators still missing from the scored surface.

New families this batch:

- **Interval concurrency sweep** (``max_concurrency``): the classic
  +1/-1 event-sweep for "how many sessions were live at once",
  implemented with the scale-correct two-phase prefix sum (per-day
  partial running sums + a tiny cross-day carry) instead of one global
  single-task window.  Reference parity: the serving API's
  "active devices in window" class (SURVEY.md §2.7 window family).
- **Markov transition counts** (``markov_transitions``): first-order
  event-type transition matrix from per-user ordered streams — the
  behavioral-model feature build next to ``event_sequences``.
- **EWMA smoothing** (``ewma_daily``): exponentially weighted moving
  average over the daily series via explicit lag taps with literal
  weights, the bounded-window form that is deterministic and
  shuffle-identical to any other window over the same key.
- **Token entropy** (``token_entropy``): per-document unigram token
  entropy — a standard LLM-corpus quality signal (low entropy ==
  boilerplate/repetition) computed with decimal-staged order-
  independent sums so Spark's parallel aggregation hash-matches the
  sequential oracle.
- **PII detection/redaction** (``pii_redaction``): regex scan + global
  mask over a synthesized support-message column — the Spark-side
  shape (regexp_count / regexp_replace fused into one scan-projection)
  is the production operator; the fixture has no real PII so the
  message text is constructed deterministically from customer fields.
- **Engagement bitmaps** (``engagement_bitmap``): per-user day-of-month
  activity packed into a 31-bit mask with BIT_OR, popcounted — the
  compact "days active" encoding used for retention features at scale
  (one bigint per user-month instead of one row per user-day).
- **Spatial grid density** (``grid_density``): fixed-grid geo binning
  of GPS fixes (same deterministic coordinate synthesis as
  ``trip_distance_daily``) — the pre-aggregation that makes heatmaps
  and spatial joins scale (cell id is an integer key, no geometry lib).
- **Prefix dedup** (``prefix_dedup_stats``): documents sharing their
  first-k-token prefix collapse to one canonical — the cheap first
  pass (exact prefix hash, one shuffle) that removes template spam
  before MinHash runs.

Scale posture (100 TB review): every entry is one or two hash
shuffles on a natural key (user, day, cell, prefix-hash); no global
single-partition window (the concurrency sweep's only ORDER BY over
an unpartitioned window runs on the per-DAY aggregate — O(days)
rows); no Python UDFs; all text ops are scan-fused built-ins.

Determinism contract: counts and bit-masks are integer-exact; every
double that reaches the output is either a single IEEE op replicated
identically in the oracle SQL (divisions, ln) or is decimal-staged
(entropy sums) and rounded once at the end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datalakehouse_spark.io import load_table
from datalakehouse_spark.registry import register

# ---------------------------------------------------------------------------
# max_concurrency: interval sweep with two-phase prefix sum
# ---------------------------------------------------------------------------

_CONCURRENCY_SQL = """
WITH iv AS (
    -- trunc, not bare CAST: DuckDB's double->BIGINT cast ROUNDS while
    -- Spark's truncates toward zero; at sf0.1 a 37.999...-second
    -- session length lands on the peak and the engines diverge by one
    -- (caught by the full-registry sf0.1 sweep, round 9)
    SELECT epoch_us(ts) AS s_us,
           epoch_us(ts) + (60 + CAST(trunc(value * 10) AS BIGINT)) * 1000000 AS e_us
    FROM events
),
deltas AS (
    SELECT s_us AS t_us, 1 AS d FROM iv
    UNION ALL
    SELECT e_us AS t_us, -1 AS d FROM iv
),
per_t AS (
    SELECT CAST(make_timestamp(t_us) AS DATE) AS day, t_us,
           CAST(SUM(d) AS BIGINT) AS net
    FROM deltas GROUP BY 1, 2
),
day_net AS (
    SELECT day, CAST(SUM(net) AS BIGINT) AS dnet FROM per_t GROUP BY day
),
carry AS (
    SELECT day,
           CAST(COALESCE(SUM(dnet) OVER (ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS carry_in
    FROM day_net
),
running AS (
    SELECT p.day,
           c.carry_in
               + SUM(p.net) OVER (PARTITION BY p.day ORDER BY p.t_us
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS live
    FROM per_t p JOIN carry c ON p.day = c.day
)
SELECT day, CAST(MAX(live) AS BIGINT) AS peak_concurrency
FROM running GROUP BY day
"""


@register(
    "max_concurrency",
    _CONCURRENCY_SQL,
    "peak concurrent sessions per day (interval +1/-1 sweep, two-phase prefix sum)",
)
def q_max_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each event opens a session of ``60 + 10*value`` seconds; the peak
    number of simultaneously-open sessions per day is the sweep-line
    running sum over +1 (start) / -1 (end) deltas.

    The naive form is one ORDER-BY-time window over the whole fact —
    a single task at any scale.  This is the scale-correct two-phase
    split: (1) aggregate deltas per (day, timestamp) and run the
    running sum PARTITIONED BY day (parallel, each partition bounded);
    (2) the cross-day carry is a window over the per-day net series —
    O(days) rows on one task, trivially small.  All arithmetic is
    epoch-microsecond integers, so both engines agree bit-exactly."""
    ev = load_table(spark, sf_dir, "events")
    s_us = F.unix_micros(F.col("ts"))
    e_us = s_us + (F.lit(60) + (F.col("value") * 10).cast("bigint")) * F.lit(1_000_000)
    # round 17 negative result: exploding each event into its ±1 rows
    # in ONE scan (array-of-structs Generate) halves the scan count but
    # measured 1.21 → 2.24 s min-of-5 paired — the Generate breaks the
    # scan's whole-stage pipeline while the two columnar scans are
    # nearly free; kept the unionAll form
    iv = ev.select(s_us.alias("s_us"), e_us.alias("e_us"))
    deltas = iv.select(F.col("s_us").alias("t_us"), F.lit(1).alias("d")).unionAll(
        iv.select(F.col("e_us").alias("t_us"), F.lit(-1).alias("d"))
    )
    per_t = deltas.groupBy(
        F.to_date(F.timestamp_micros(F.col("t_us"))).alias("day"), "t_us"
    ).agg(F.sum("d").alias("net"))
    day_net = per_t.groupBy("day").agg(F.sum("net").alias("dnet"))
    w_days = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, -1)
    carry = day_net.select(
        "day", F.coalesce(F.sum("dnet").over(w_days), F.lit(0)).alias("carry_in")
    )
    w_in_day = Window.partitionBy("day").orderBy("t_us").rowsBetween(
        Window.unboundedPreceding, 0
    )
    running = per_t.join(F.broadcast(carry), "day").select(
        "day", (F.col("carry_in") + F.sum("net").over(w_in_day)).alias("live")
    )
    return running.groupBy("day").agg(F.max("live").alias("peak_concurrency"))


# ---------------------------------------------------------------------------
# markov_transitions: first-order event-type transition matrix
# ---------------------------------------------------------------------------

_MARKOV_SQL = """
WITH ordered AS (
    SELECT event_type AS src,
           LEAD(event_type) OVER (PARTITION BY user_id
               ORDER BY epoch_us(ts), event_id) AS dst
    FROM events
),
pairs AS (
    SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS n
    FROM ordered WHERE dst IS NOT NULL GROUP BY src, dst
)
SELECT src, dst, n,
       round(CAST(n AS DOUBLE)
             / CAST(SUM(n) OVER (PARTITION BY src) AS DOUBLE), 6) AS p
FROM pairs
"""


@register(
    "markov_transitions",
    _MARKOV_SQL,
    "first-order event-type transition counts + probabilities per user stream",
)
def q_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral-model feature build: LEAD over each user's
    (ts, event_id)-ordered stream yields (src, dst) transition pairs;
    one hash aggregate gives the matrix, and the row-normalizing window
    runs over the tiny (src, dst) aggregate — |types|² rows — not the
    fact.  Probability is one integer-ratio division, identical in both
    engines; round(6) is belt-and-braces."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.unix_micros("ts"), "event_id")
    pairs = (
        ev.select(
            F.col("event_type").alias("src"),
            F.lead("event_type").over(w).alias("dst"),
        )
        .where(F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w_src = Window.partitionBy("src")
    return pairs.select(
        "src",
        "dst",
        "n",
        F.round(
            F.col("n").cast("double") / F.sum("n").over(w_src).cast("double"), 6
        ).alias("p"),
    )


# ---------------------------------------------------------------------------
# ewma_daily: bounded-window exponential smoothing via literal lag taps
# ---------------------------------------------------------------------------

# alpha = 0.5 over 7 taps: w_k = alpha * (1-alpha)^k; the tail beyond
# 7 taps carries < 0.4% of the mass, so the bounded form is both
# deterministic and a faithful smoother. Present-tap renormalization
# handles series heads.
_EWMA_TAPS = [0.5 * (0.5**k) for k in range(7)]


def _ewma_sql_expr() -> tuple[str, str]:
    num = " + ".join(
        f"(CASE WHEN x{k} IS NULL THEN 0.0 ELSE {w!r} * x{k} END)"
        for k, w in enumerate(_EWMA_TAPS)
    )
    den = " + ".join(
        f"(CASE WHEN x{k} IS NULL THEN 0.0 ELSE {w!r} END)"
        for k, w in enumerate(_EWMA_TAPS)
    )
    return num, den


_EWMA_NUM, _EWMA_DEN = _ewma_sql_expr()

_EWMA_SQL = f"""
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS day,
           CAST(COUNT(*) AS DOUBLE) AS n
    FROM events GROUP BY 1, 2
),
taps AS (
    SELECT event_type, day, n,
           {", ".join(
               f"LAG(n, {k}) OVER (PARTITION BY event_type ORDER BY day) AS x{k}"
               for k in range(len(_EWMA_TAPS))
           )}
    FROM daily
)
SELECT event_type, day, CAST(n AS BIGINT) AS n,
       round(({_EWMA_NUM}) / ({_EWMA_DEN}), 6) AS ewma
FROM taps
"""


@register(
    "ewma_daily",
    _EWMA_SQL,
    "EWMA-smoothed daily event counts (bounded literal-weight lag taps)",
)
def q_ewma_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential smoothing without recursive state: the recurrence
    ``s_t = a*x_t + (1-a)*s_{t-1}`` unrolled to 7 literal-weight lag
    taps (tail mass < 0.4%), renormalized over the taps present so the
    series head isn't biased low.  One shuffle for the daily aggregate;
    the lag window rides the same (event_type) partitioning.  The
    weighted sum is written in one fixed left-to-right order so both
    engines produce the identical double before the final round."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("double").alias("n")
    )
    w = Window.partitionBy("event_type").orderBy("day")
    taps = daily.select(
        "event_type",
        "day",
        "n",
        *[F.lag("n", k).over(w).alias(f"x{k}") for k in range(len(_EWMA_TAPS))],
    )
    num = None
    den = None
    for k, wt in enumerate(_EWMA_TAPS):
        xk = F.col(f"x{k}")
        tap_n = F.when(xk.isNull(), F.lit(0.0)).otherwise(F.lit(wt) * xk)
        tap_d = F.when(xk.isNull(), F.lit(0.0)).otherwise(F.lit(wt))
        num = tap_n if num is None else num + tap_n
        den = tap_d if den is None else den + tap_d
    return taps.select(
        "event_type",
        "day",
        F.col("n").cast("bigint").alias("n"),
        F.round(num / den, 6).alias("ewma"),
    )


# ---------------------------------------------------------------------------
# token_entropy: per-document unigram entropy (corpus quality signal)
# ---------------------------------------------------------------------------

_ENTROPY_SQL = """
WITH toks AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS tok
    FROM documents WHERE doc_id % 7 = 0
),
counts AS (
    SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS c
    FROM toks WHERE tok <> '' GROUP BY doc_id, tok
),
per_doc AS (
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_distinct,
           CAST(SUM(CAST(round(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)), 9)
                         AS DECIMAL(18,9))) AS DOUBLE) AS clnc
    FROM counts GROUP BY doc_id
)
SELECT doc_id, n_tokens, n_distinct,
       round(ln(CAST(n_tokens AS DOUBLE)) - clnc / CAST(n_tokens AS DOUBLE), 6)
           AS entropy
FROM per_doc
"""


@register(
    "token_entropy",
    _ENTROPY_SQL,
    "per-document token entropy (low entropy == boilerplate) with exact decimal staging",
)
def q_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of the token distribution per document,
    H = ln(n) - sum(c*ln c)/n — the standard repetition/boilerplate
    quality gate in LLM corpus prep.  The inner sum is order-dependent
    in doubles, so each term is rounded to 9 decimals and summed in
    DECIMAL (exact, associative) — Spark's parallel partials then
    hash-match the sequential oracle.  explode + two hash aggregates on
    doc_id; no Python, no global window."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 7 == 0)
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    ).where(F.col("tok") != "")
    counts = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    cd = F.col("c").cast("double")
    per_doc = counts.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.sum(F.round(cd * F.log(cd), 9).cast("decimal(18,9)"))
        .cast("double")
        .alias("clnc"),
    )
    nt = F.col("n_tokens").cast("double")
    return per_doc.select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        F.round(F.log(nt) - F.col("clnc") / nt, 6).alias("entropy"),
    )


# ---------------------------------------------------------------------------
# pii_redaction: regex detect + global mask, fused into one scan
# ---------------------------------------------------------------------------

_PII_SQL = """
WITH msgs AS (
    SELECT c_mktsegment,
           c_name || ' reach me at 555-'
                  || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0')
                  || CASE WHEN c_custkey % 3 = 0
                          THEN ' or ' || lower(replace(c_name, '#', ''))
                               || '@example.com'
                          ELSE '' END AS msg
    FROM customer
),
scanned AS (
    SELECT c_mktsegment,
           len(regexp_extract_all(msg, '[0-9]{3}-[0-9]{4}')) AS n_phones,
           len(regexp_extract_all(msg, '[a-z0-9]+@[a-z]+\\.[a-z]+')) AS n_emails,
           regexp_replace(
               regexp_replace(msg, '[0-9]{3}-[0-9]{4}', '[PHONE]', 'g'),
               '[a-z0-9]+@[a-z]+\\.[a-z]+', '[EMAIL]', 'g') AS redacted
    FROM msgs
)
SELECT c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_messages,
       CAST(SUM(n_phones) AS BIGINT) AS total_phones,
       CAST(SUM(n_emails) AS BIGINT) AS total_emails,
       CAST(SUM(CASE WHEN n_emails > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS msgs_with_email,
       MIN(redacted) AS sample_redacted
FROM scanned GROUP BY c_mktsegment
"""


@register(
    "pii_redaction",
    _PII_SQL,
    "regex PII detect + global mask (phones/emails) fused into one scan-projection",
)
def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing as it runs in corpus prep: regexp_count to measure
    leakage, nested regexp_replace to mask — all JVM built-ins in one
    projection over the scan (no Python, no second pass).  The regexes
    stay in the dialect subset Java and RE2 share (no backrefs or
    lookaround).  Fixture text has no real PII, so the message column
    is synthesized deterministically from customer fields; the operator
    shape is exactly the production one."""
    cust = load_table(spark, sf_dir, "customer")
    msg = F.concat(
        F.col("c_name"),
        F.lit(" reach me at 555-"),
        F.lpad((F.col("c_custkey") % 10000).cast("string"), 4, "0"),
        F.when(
            F.col("c_custkey") % 3 == 0,
            F.concat(
                F.lit(" or "),
                F.lower(F.replace(F.col("c_name"), F.lit("#"), F.lit(""))),
                F.lit("@example.com"),
            ),
        ).otherwise(F.lit("")),
    )
    phone_re = r"[0-9]{3}-[0-9]{4}"
    email_re = r"[a-z0-9]+@[a-z]+\.[a-z]+"
    scanned = cust.select(
        "c_mktsegment",
        F.regexp_count(msg, F.lit(phone_re)).alias("n_phones"),
        F.regexp_count(msg, F.lit(email_re)).alias("n_emails"),
        F.regexp_replace(
            F.regexp_replace(msg, phone_re, "[PHONE]"), email_re, "[EMAIL]"
        ).alias("redacted"),
    )
    return scanned.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_messages"),
        F.sum("n_phones").alias("total_phones"),
        F.sum("n_emails").alias("total_emails"),
        F.sum((F.col("n_emails") > 0).cast("long")).alias("msgs_with_email"),
        F.min("redacted").alias("sample_redacted"),
    )


# ---------------------------------------------------------------------------
# engagement_bitmap: day-of-month activity packed into a 31-bit mask
# ---------------------------------------------------------------------------

_BITMAP_SQL = """
WITH marks AS (
    SELECT user_id, date_trunc('month', CAST(ts AS DATE)) AS month,
           bit_or(CAST(1 AS BIGINT) << (CAST(day(CAST(ts AS DATE)) AS INTEGER) - 1))
               AS day_mask
    FROM events GROUP BY 1, 2
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_months,
       CAST(SUM(bit_count(day_mask)) AS BIGINT) AS active_days,
       CAST(MAX(bit_count(day_mask)) AS BIGINT) AS max_month_days,
       CAST(bit_or(day_mask) AS BIGINT) AS any_month_mask
FROM marks GROUP BY user_id
"""


@register(
    "engagement_bitmap",
    _BITMAP_SQL,
    "per-user day-of-month activity bitmaps (BIT_OR pack + popcount)",
)
def q_engagement_bitmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention-feature encoding at scale: one bigint bitmask per
    user-month replaces one row per user-day (31× smaller state), and
    popcount recovers days-active without re-scanning the fact.  Two
    hash aggregates on (user, month) then (user); BIT_OR/BIT_COUNT are
    integer-exact so the oracle matches bit-for-bit."""
    ev = load_table(spark, sf_dir, "events")
    # shiftleft's Python binding wants a literal shift; the SQL form
    # takes a column shift amount
    day_bit = F.expr("shiftleft(cast(1 as bigint), day(to_date(ts)) - 1)")
    marks = ev.groupBy(
        "user_id", F.trunc(F.to_date("ts"), "month").alias("month")
    ).agg(F.bit_or(day_bit).alias("day_mask"))
    return marks.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_months"),
        F.sum(F.bit_count("day_mask")).alias("active_days"),
        F.max(F.bit_count("day_mask")).cast("bigint").alias("max_month_days"),
        F.bit_or("day_mask").alias("any_month_mask"),
    )


# ---------------------------------------------------------------------------
# grid_density: fixed-grid geo binning of GPS fixes
# ---------------------------------------------------------------------------

_GRID_SQL = """
WITH pts AS (
    SELECT user_id,
           CAST(floor((value / 5 - 20) * 2) AS INTEGER) AS cell_lat,
           CAST(floor((value - 120) * 2) AS INTEGER) AS cell_lon
    FROM events
)
SELECT cell_lat, cell_lon,
       CAST(COUNT(*) AS BIGINT) AS n_fixes,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_devices
FROM pts GROUP BY cell_lat, cell_lon
"""


@register(
    "grid_density",
    _GRID_SQL,
    "fixed-grid spatial density of GPS fixes (integer cell keys, no geometry lib)",
)
def q_grid_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial pre-aggregation: half-degree grid cells as integer keys
    (floor of scaled lat/lon — deterministic in both engines), one hash
    aggregate for fix counts and distinct devices.  This integer-cell
    reduction is what makes heatmaps and cell-keyed spatial joins
    feasible at 100 TB — downstream operators join on the cell id, not
    on geometry.  Coordinates synthesized from the fixture exactly as
    in trip_distance_daily (functions/geo contract)."""
    ev = load_table(spark, sf_dir, "events")
    lat = F.col("value") / 5 - 20
    lon = F.col("value") - 120
    pts = ev.select(
        "user_id",
        F.floor(lat * 2).cast("int").alias("cell_lat"),
        F.floor(lon * 2).cast("int").alias("cell_lon"),
    )
    return pts.groupBy("cell_lat", "cell_lon").agg(
        F.count(F.lit(1)).alias("n_fixes"),
        F.countDistinct("user_id").alias("n_devices"),
    )


# ---------------------------------------------------------------------------
# prefix_dedup_stats: first-k-token prefix collapse (template-spam pass)
# ---------------------------------------------------------------------------

_PREFIX_SQL = """
WITH pfx AS (
    SELECT doc_id, source,
           md5(array_to_string(list_slice(string_split(text, ' '), 1, 8), ' '))
               AS prefix_hash
    FROM documents
),
groups AS (
    SELECT source, prefix_hash, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS canonical_doc
    FROM pfx GROUP BY source, prefix_hash
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_prefix_groups,
       CAST(SUM(n_docs) AS BIGINT) AS n_docs,
       CAST(SUM(n_docs) - COUNT(*) AS BIGINT) AS n_redundant,
       CAST(SUM(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dup_groups,
       CAST(MAX(n_docs) AS BIGINT) AS largest_group
FROM groups GROUP BY source
"""


@register(
    "prefix_dedup_stats",
    _PREFIX_SQL,
    "first-8-token prefix dedup (template-spam pass before MinHash)",
)
def q_prefix_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cheap exact pass that precedes MinHash in corpus dedup:
    documents sharing their first-8-token prefix collapse to the
    min-doc_id canonical.  One md5 per doc (JVM codegen), one shuffle
    on (source, prefix_hash), then a per-source rollup — removes
    templated spam for a fraction of LSH's cost, shrinking the corpus
    MinHash has to shingle.  Parity: operators/dedup.py exact family;
    SURVEY.md LLM-pipeline dedup section."""
    docs = load_table(spark, sf_dir, "documents")
    prefix = F.array_join(F.slice(F.split("text", " "), 1, 8), " ")
    pfx = docs.select("doc_id", "source", F.md5(prefix).alias("prefix_hash"))
    groups = pfx.groupBy("source", "prefix_hash").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("canonical_doc"),
    )
    return groups.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_prefix_groups"),
        F.sum("n_docs").alias("n_docs"),
        (F.sum("n_docs") - F.count(F.lit(1))).alias("n_redundant"),
        F.sum((F.col("n_docs") > 1).cast("long")).alias("n_dup_groups"),
        F.max("n_docs").alias("largest_group"),
    )


# ---------------------------------------------------------------------------
# kmv_distinct_sketch: k-minimum-values cardinality estimate, fully
# deterministic (md5 hash space) and therefore oracle-able — unlike
# HLL, whose sketch layout is engine-private.
# ---------------------------------------------------------------------------

_KMV_K = 64
_KMV_SQL = f"""
WITH hashes AS (
    SELECT DISTINCT event_type,
           CAST(('0x' || substr(md5('kmv:' || CAST(user_id AS VARCHAR)), 1, 15))
                AS BIGINT) AS h
    FROM events
),
ranked AS (
    SELECT event_type, h,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rk
    FROM hashes
),
kth AS (
    SELECT event_type,
           CAST(MAX(CASE WHEN rk = {_KMV_K} THEN h END) AS BIGINT) AS h_k,
           CAST(COUNT(*) AS BIGINT) AS n_hashes
    FROM ranked WHERE rk <= {_KMV_K} GROUP BY event_type
),
exact AS (
    SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users
    FROM events GROUP BY event_type
)
SELECT k.event_type,
       e.exact_users,
       CASE WHEN k.h_k IS NULL THEN CAST(k.n_hashes AS DOUBLE)
            ELSE round(({_KMV_K} - 1) * {float(1 << 60)!r}
                       / CAST(k.h_k AS DOUBLE), 6)
       END AS kmv_estimate
FROM kth k JOIN exact e ON k.event_type = e.event_type
"""


@register(
    "kmv_distinct_sketch",
    _KMV_SQL,
    f"KMV (k={_KMV_K} minimum hash values) distinct-user estimate vs exact",
)
def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable cardinality sketch that the oracle can replay: hash
    users into the md5 60-bit space, keep the k smallest distinct
    values per group, estimate distinct = (k-1)/h_k (normalized).
    Unlike HLL registers, the k-minimum set is engine-independent, so
    the estimate is bit-reproducible — and the sketch is mergeable
    (union of k-min sets, re-take k smallest), which is what a
    100 TB rollup needs: per-partition k-min sets merge at O(k) per
    group instead of re-scanning.  When a group has fewer than k
    distinct hashes the sketch IS the exact set (n_hashes).  The rank
    window runs per event_type over DISTINCT hashes; at extreme
    cardinality you'd replace it with a per-partition top-k merge —
    same result, noted for scale."""
    from datalakehouse_spark.operators.dedup import md5_hash60

    ev = load_table(spark, sf_dir, "events")
    hashes = ev.select(
        "event_type",
        md5_hash60(F.concat(F.lit("kmv:"), F.col("user_id").cast("string"))).alias(
            "h"
        ),
    ).distinct()
    w = Window.partitionBy("event_type").orderBy("h")
    ranked = hashes.select(
        "event_type", "h", F.row_number().over(w).alias("rk")
    ).where(F.col("rk") <= _KMV_K)
    kth = ranked.groupBy("event_type").agg(
        F.max(F.when(F.col("rk") == _KMV_K, F.col("h"))).alias("h_k"),
        F.count(F.lit(1)).alias("n_hashes"),
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    est = (
        F.when(F.col("h_k").isNull(), F.col("n_hashes").cast("double"))
        .otherwise(
            F.round(
                F.lit(float(_KMV_K - 1) * float(1 << 60))
                / F.col("h_k").cast("double"),
                6,
            )
        )
    )
    return kth.join(exact, "event_type").select(
        "event_type", "exact_users", est.alias("kmv_estimate")
    )


# ---------------------------------------------------------------------------
# dq_expectations: Deequ-style data-quality audit across the star schema
# ---------------------------------------------------------------------------

_DQ_SQL = """
SELECT 'orders_fk_customer' AS check_name,
       CAST(COUNT(*) AS BIGINT) AS n_checked,
       CAST(SUM(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_violations
FROM orders LEFT JOIN customer ON o_custkey = c_custkey
UNION ALL
SELECT 'lineitem_fk_orders',
       CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey
UNION ALL
SELECT 'lineitem_discount_range',
       CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 0.1 THEN 1 ELSE 0 END)
            AS BIGINT)
FROM lineitem
UNION ALL
SELECT 'events_value_nonnegative',
       CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CASE WHEN value < 0 THEN 1 ELSE 0 END) AS BIGINT)
FROM events
UNION ALL
SELECT 'events_props_json_k',
       CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CASE WHEN json_extract(props, '$.k') IS NULL THEN 1 ELSE 0 END)
            AS BIGINT)
FROM events
UNION ALL
SELECT 'documents_nonempty_text',
       CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CASE WHEN text IS NULL OR length(text) = 0 THEN 1 ELSE 0 END)
            AS BIGINT)
FROM documents
UNION ALL
SELECT 'customer_acctbal_floor',
       CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CASE WHEN c_acctbal < -1000 THEN 1 ELSE 0 END) AS BIGINT)
FROM customer
"""


@register(
    "dq_expectations",
    _DQ_SQL,
    "Deequ-style data-quality audit: FK orphans, range, null and JSON checks",
)
def q_dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint verification as a first-class query: referential
    integrity (LEFT JOIN + null probe — the orphan check that catches
    broken ingests), range and null-rate expectations, and JSON-shape
    validation, each reduced to one (checked, violations) row and
    UNION ALLed into a single report.  Dimension sides of the FK
    probes are broadcast; every check is a scan + count, so the whole
    audit is one pass per table at any scale.  Parity: the reference's
    ingest validation / DLQ splits (streaming jobs) applied batch-wide."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    lineitem = load_table(spark, sf_dir, "lineitem")
    events = load_table(spark, sf_dir, "events")
    documents = load_table(spark, sf_dir, "documents")

    def check(name: str, df: DataFrame, viol) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).alias("n_checked"),
            F.sum(viol.cast("long")).alias("n_violations"),
        ).select(F.lit(name).alias("check_name"), "n_checked", "n_violations")

    fk_orders = orders.join(
        F.broadcast(customer.select("c_custkey")),
        orders.o_custkey == F.col("c_custkey"),
        "left",
    )
    fk_lineitem = lineitem.join(
        orders.select("o_orderkey"),
        lineitem.l_orderkey == F.col("o_orderkey"),
        "left",
    )
    checks = [
        check("orders_fk_customer", fk_orders, F.col("c_custkey").isNull()),
        check("lineitem_fk_orders", fk_lineitem, F.col("o_orderkey").isNull()),
        check(
            "lineitem_discount_range",
            lineitem,
            (F.col("l_discount") < 0) | (F.col("l_discount") > 0.1),
        ),
        check("events_value_nonnegative", events, F.col("value") < 0),
        check(
            "events_props_json_k",
            events,
            F.get_json_object("props", "$.k").isNull(),
        ),
        check(
            "documents_nonempty_text",
            documents,
            F.col("text").isNull() | (F.length("text") == 0),
        ),
        check("customer_acctbal_floor", customer, F.col("c_acctbal") < -1000),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionAll(c)
    return out


# ---------------------------------------------------------------------------
# growth_rates: week-over-week revenue deltas via lag
# ---------------------------------------------------------------------------

_GROWTH_SQL = """
WITH weekly AS (
    SELECT date_trunc('week', CAST(o_orderdate AS DATE)) AS week,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders GROUP BY 1
),
lagged AS (
    SELECT week, revenue, n_orders,
           LAG(revenue) OVER (ORDER BY week) AS prev_revenue
    FROM weekly
)
SELECT week, revenue, n_orders,
       round(revenue - COALESCE(prev_revenue, 0.0), 2) AS wow_delta,
       CASE WHEN prev_revenue IS NULL OR prev_revenue = 0 THEN NULL
            ELSE round((revenue - prev_revenue) / prev_revenue, 6) END
           AS wow_pct
FROM lagged
"""


@register(
    "growth_rates",
    _GROWTH_SQL,
    "week-over-week revenue growth (decimal-staged sums + lag deltas)",
)
def q_growth_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Period-over-period reporting: ISO-week buckets (both engines
    truncate to Monday), decimal-staged revenue sums, then LAG over the
    tiny weekly series for absolute and percentage deltas.  The window
    is over O(weeks) rows — the fact is touched once by the weekly
    aggregate.  Division only where the previous week exists; one
    IEEE division replicated identically in the oracle."""
    from datalakehouse_spark.functions.numeric import dsum

    orders = load_table(spark, sf_dir, "orders")
    weekly = orders.groupBy(
        F.trunc(F.to_date("o_orderdate"), "week").alias("week")
    ).agg(
        dsum("o_totalprice").alias("revenue"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    w = Window.orderBy("week")
    lagged = weekly.select(
        "week", "revenue", "n_orders", F.lag("revenue").over(w).alias("prev_revenue")
    )
    wow_pct = F.when(
        F.col("prev_revenue").isNull() | (F.col("prev_revenue") == 0), F.lit(None)
    ).otherwise(
        F.round((F.col("revenue") - F.col("prev_revenue")) / F.col("prev_revenue"), 6)
    )
    return lagged.select(
        "week",
        "revenue",
        "n_orders",
        F.round(F.col("revenue") - F.coalesce("prev_revenue", F.lit(0.0)), 2).alias(
            "wow_delta"
        ),
        wow_pct.alias("wow_pct"),
    )


# ---------------------------------------------------------------------------
# mad_outliers: robust (median/MAD) outlier detection per group
# ---------------------------------------------------------------------------

_MAD_SQL = """
WITH med AS (
    SELECT event_type, quantile_cont(value, 0.5) AS med
    FROM events GROUP BY event_type
),
dev AS (
    SELECT e.event_type, e.value, m.med, abs(e.value - m.med) AS adev
    FROM events e JOIN med m ON e.event_type = m.event_type
),
mad AS (
    SELECT event_type, quantile_cont(adev, 0.5) AS mad FROM dev
    GROUP BY event_type
)
SELECT d.event_type,
       round(MIN(d.med), 6) AS median_value,
       round(MIN(m.mad), 6) AS mad,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN m.mad > 0
                      AND abs(d.value - d.med) > 3 * 1.4826 * m.mad
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM dev d JOIN mad m ON d.event_type = m.event_type
GROUP BY d.event_type
"""


@register(
    "mad_outliers",
    _MAD_SQL,
    "robust outlier detection via median/MAD (3-sigma-equivalent robust z)",
)
def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean/stddev outlier gates break under the very outliers they
    hunt; the robust form uses the median and the median absolute
    deviation (×1.4826 ≈ sigma for normal data).  Two exact-percentile
    aggregates (same interpolated semantics both engines, proven by
    exact_percentiles) with the per-group medians broadcast back —
    the fact is scanned twice, never shuffled on anything wider than
    event_type."""
    ev = load_table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type", "value", "med", F.abs(F.col("value") - F.col("med")).alias("adev")
    )
    # round 17 negative result: carrying med through the MAD aggregate
    # (min over a single-valued group) to cut the 4th scan measured
    # 0.69 → 4.77 s min-of-5 paired — mixing the TypedImperative
    # percentile with a plain min forces the whole aggregate down the
    # slow ObjectHashAggregate path for every row; kept the two-stat
    # broadcast-join form
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(adev, 0.5)").alias("mad")
    )
    joined = dev.join(F.broadcast(mad), "event_type")
    is_out = (F.col("mad") > 0) & (
        F.abs(F.col("value") - F.col("med")) > 3 * 1.4826 * F.col("mad")
    )
    return joined.groupBy("event_type").agg(
        F.round(F.min("med"), 6).alias("median_value"),
        F.round(F.min("mad"), 6).alias("mad"),
        F.count(F.lit(1)).alias("n"),
        F.sum(is_out.cast("long")).alias("n_outliers"),
    )


# ---------------------------------------------------------------------------
# shingle_novelty_daily: corpus freshness — fraction of never-before-seen
# 3-gram shingles arriving each day
# ---------------------------------------------------------------------------

_NOVELTY_SQL = """
WITH ev_docs AS (
    -- deterministically assign each document an arrival day by hashing
    -- its id onto the fixture's 30-day window
    SELECT doc_id, text,
           DATE '2024-01-01' + CAST(CAST(
               ('0x' || substr(md5('day:' || CAST(doc_id AS VARCHAR)), 1, 15))
               AS BIGINT) % 30 AS INTEGER) AS day
    FROM documents
),
toks AS (
    SELECT doc_id, day, string_split(text, ' ') AS t FROM ev_docs
),
raw AS (
    SELECT day,
           unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                   FOR i IN range(1, len(t) - 1)]) AS shingle
    FROM toks WHERE len(t) >= 3
),
-- hash shingles to 60-bit ints BEFORE the distinct: the shuffle then
-- moves 8-byte keys instead of ~25-byte strings
shingles AS (
    SELECT DISTINCT day,
           CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) AS h
    FROM raw
),
first_seen AS (
    SELECT h, MIN(day) AS first_day FROM shingles GROUP BY h
),
per_day AS (
    SELECT s.day,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN f.first_day = s.day THEN 1 ELSE 0 END) AS BIGINT)
               AS n_novel
    FROM shingles s JOIN first_seen f ON s.h = f.h
    GROUP BY s.day
)
SELECT day, n_shingles, n_novel,
       round(CAST(n_novel AS DOUBLE) / CAST(n_shingles AS DOUBLE), 6)
           AS novelty_rate
FROM per_day
"""


@register(
    "shingle_novelty_daily",
    _NOVELTY_SQL,
    "daily fraction of never-before-seen 3-gram shingles (corpus freshness)",
)
def q_shingle_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-freshness monitoring: how much of each day's arriving
    text is genuinely new 3-gram material vs re-crawled boilerplate.
    The cumulative-state-free formulation (same trick as
    running_distinct_users): each distinct shingle contributes novelty
    only on its MIN(day), so two hash aggregates on the shingle key
    replace any running distinct state.  Shingling is a posexplode
    over the token array — n_tokens rows per doc, one shuffle on the
    shingle hash.  Arrival days are md5-derived from doc_id so the
    metric is deterministic on the static fixture."""
    from datalakehouse_spark.operators.dedup import md5_hash60

    docs = load_table(spark, sf_dir, "documents")
    day = F.date_add(
        F.lit("2024-01-01").cast("date"),
        (md5_hash60(F.concat(F.lit("day:"), F.col("doc_id").cast("string"))) % 30)
        .cast("int"),
    )
    toks = docs.select("doc_id", day.alias("day"), F.split("text", " ").alias("t"))
    # build shingles from the token array in place (no positional re-join)
    raw = toks.select(
        "day",
        F.explode(
            F.expr(
                "transform(sequence(0, greatest(size(t) - 3, -1)), "
                "i -> concat_ws(' ', t[i], t[i+1], t[i+2]))"
            )
        ).alias("shingle"),
    )
    # hash before the distinct so the shuffle key is an 8-byte bigint
    # (round 17 negative result: a window MIN over h instead of the
    # groupBy+join-back halves the scans but measured 1.61 → 2.52 s
    # min-of-5 paired — the sort-based window loses to two codegen'd
    # hash aggregates at this scale; kept the join form)
    sh = raw.select("day", md5_hash60("shingle").alias("h")).distinct()
    first_seen = sh.groupBy("h").agg(F.min("day").alias("first_day"))
    per_day = (
        sh.join(first_seen, "h")
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum((F.col("first_day") == F.col("day")).cast("long")).alias("n_novel"),
        )
    )
    return per_day.select(
        "day",
        "n_shingles",
        "n_novel",
        F.round(
            F.col("n_novel").cast("double") / F.col("n_shingles").cast("double"), 6
        ).alias("novelty_rate"),
    )


# ---------------------------------------------------------------------------
# distribution_rebalance: importance-resample sources to a target mix
# ---------------------------------------------------------------------------

# fixture sources are src0..src19, uniformly sized; the target mix
# concentrates the corpus on the first five (the "high-quality" tier)
# and thins the long tail to 1.3% each — so both down-sampling
# (keep_rate < 1) and keep-everything (rate clamped to 1) paths are
# exercised.
_REBALANCE_TARGETS = {
    "src0": 0.30,
    "src1": 0.20,
    "src2": 0.15,
    "src3": 0.10,
    "src4": 0.05,
}
_REBALANCE_DEFAULT = 0.013

_REBALANCE_SQL = f"""
WITH totals AS (
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM documents GROUP BY source
),
grand AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM totals),
rates AS (
    SELECT t.source, t.n, g.total,
           -- CAST: DuckDB types bare numeric literals DECIMAL; the CASE
           -- must come out DOUBLE to string-match Spark's double literals
           CAST(CASE t.source
               {" ".join(f"WHEN '{s}' THEN {p!r}" for s, p in _REBALANCE_TARGETS.items())}
               ELSE {_REBALANCE_DEFAULT!r} END AS DOUBLE) AS target_share
    FROM totals t CROSS JOIN grand g
),
plan_rates AS (
    SELECT source, n, target_share,
           least(1.0, target_share * CAST(total AS DOUBLE) / CAST(n AS DOUBLE))
               AS keep_rate
    FROM rates
),
kept AS (
    SELECT d.source,
           CAST(SUM(CASE WHEN
               CAST(('0x' || substr(md5('rb:' || CAST(d.doc_id AS VARCHAR)), 1, 15))
                   AS BIGINT) / {float(1 << 60)!r} < r.keep_rate
               THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM documents d JOIN plan_rates r ON d.source = r.source
    GROUP BY d.source
)
SELECT r.source, r.n AS n_docs, round(r.target_share, 6) AS target_share,
       round(r.keep_rate, 6) AS keep_rate, k.n_kept
FROM plan_rates r JOIN kept k ON r.source = k.source
"""


@register(
    "distribution_rebalance",
    _REBALANCE_SQL,
    "importance-resample sources toward a target training mix (deterministic Bernoulli)",
)
def q_distribution_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix construction: given target source proportions,
    downsample each over-represented source at rate
    min(1, target_share * total / count) with the salted-md5 uniform
    variate (rerun- and partitioning-independent, unlike rand()).
    The rate table is O(sources) and broadcast; the keep decision is a
    scan-fused filter — one pass over the corpus at any scale.
    Undersized sources keep rate 1.0 (upsampling is a separate
    repeat-explode op)."""
    from datalakehouse_spark.operators.dedup import md5_hash60

    docs = load_table(spark, sf_dir, "documents")
    totals = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    grand = totals.agg(F.sum("n").alias("total"))
    target = F.create_map(
        *[x for s, p in _REBALANCE_TARGETS.items() for x in (F.lit(s), F.lit(p))]
    )
    rates = totals.crossJoin(F.broadcast(grand)).select(
        "source",
        "n",
        F.coalesce(target[F.col("source")], F.lit(_REBALANCE_DEFAULT)).alias(
            "target_share"
        ),
        F.least(
            F.lit(1.0),
            F.coalesce(target[F.col("source")], F.lit(_REBALANCE_DEFAULT))
            * F.col("total").cast("double")
            / F.col("n").cast("double"),
        ).alias("keep_rate"),
    )
    u = md5_hash60(
        F.concat(F.lit("rb:"), F.col("doc_id").cast("string"))
    ) / F.lit(float(1 << 60))
    kept = (
        docs.join(F.broadcast(rates.select("source", "keep_rate")), "source")
        .groupBy("source")
        .agg(F.sum((u < F.col("keep_rate")).cast("long")).alias("n_kept"))
    )
    return rates.join(kept, "source").select(
        "source",
        F.col("n").alias("n_docs"),
        F.round("target_share", 6).alias("target_share"),
        F.round("keep_rate", 6).alias("keep_rate"),
        "n_kept",
    )


# ---------------------------------------------------------------------------
# fuzzy_dup_candidates: blocked Levenshtein entity matching
# ---------------------------------------------------------------------------

_FUZZY_SQL = """
WITH keyed AS (
    SELECT c_custkey, c_name, c_mktsegment,
           substr(c_name, 1, 16) AS block_key
    FROM customer
),
pairs AS (
    SELECT a.c_custkey AS left_key, b.c_custkey AS right_key,
           levenshtein(a.c_name, b.c_name) AS dist
    FROM keyed a JOIN keyed b
      ON a.block_key = b.block_key AND a.c_custkey < b.c_custkey
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(CASE WHEN dist <= 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_candidates,
       CAST(MIN(dist) AS BIGINT) AS min_dist,
       CAST(MAX(dist) AS BIGINT) AS max_dist
FROM pairs
"""


@register(
    "fuzzy_dup_candidates",
    _FUZZY_SQL,
    "entity resolution: prefix-blocked Levenshtein candidate pairs",
)
def q_fuzzy_dup_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy entity matching the scale-safe way: never all-pairs —
    records meet only inside their name-prefix block (an equi-join
    key), and Levenshtein runs on the few pairs that survive blocking.
    Block sizing is the whole game: a 14-char prefix left one ~10k-row
    block at sf0.1 (≈50M pairs, 203 s measured); the 16-char prefix
    bounds blocks at ≤100 last-2-digit variants — pair count drops
    ~70× and grows linearly with the table, which is the O(n·B)
    contract a 100 TB entity-resolution pass needs (add a second
    phonetic block pass for recall, never a wider prefix).  The
    distance is integer-exact in both engines."""
    cust = load_table(spark, sf_dir, "customer")
    # Round 16 (guide §1.2, per-task work): the join key guarantees the
    # first 16 chars of both names are EQUAL, and edit distance is
    # invariant under stripping a shared prefix (the DP's first rows
    # and columns over identical prefixes contribute 0), so Levenshtein
    # runs on the short suffixes — O(|s|²) per pair on ~2-char tails
    # instead of full 18-char names, identical distances.
    keyed = cust.select(
        "c_custkey",
        F.substring("c_name", 1, 16).alias("block_key"),
        F.expr("substring(c_name, 17)").alias("name_sfx"),
    )
    a, b = keyed.alias("a"), keyed.alias("b")
    pairs = a.join(
        b,
        (F.col("a.block_key") == F.col("b.block_key"))
        & (F.col("a.c_custkey") < F.col("b.c_custkey")),
    ).select(F.levenshtein(F.col("a.name_sfx"), F.col("b.name_sfx")).alias("dist"))
    return pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum((F.col("dist") <= 2).cast("long")).alias("n_candidates"),
        F.min("dist").cast("bigint").alias("min_dist"),
        F.max("dist").cast("bigint").alias("max_dist"),
    )


# ---------------------------------------------------------------------------
# hierarchy_rollup: subtree aggregation over a decimal-digit hierarchy
# (materialized-path explode — the scale-safe alternative to recursion)
# ---------------------------------------------------------------------------

_HIER_DEPTH = 7  # user_id < 10^6 in all fixtures; /10 per level reaches 0

# ancestors of one event are distinct by construction (n // 10^d
# strictly shrinks until 0, where the sequence saturates); the
# saturated tail is deduped inside the per-event list
_HIER_SQL = f"""
WITH anc AS (
    -- explicit floor: DuckDB CAST(DOUBLE AS BIGINT) ROUNDS (Spark's
    -- cast truncates), so a bare cast of the division would disagree
    SELECT unnest(list_distinct([CAST(floor(user_id / power(10, d)) AS BIGINT)
                                 FOR d IN range(0, {_HIER_DEPTH})])) AS node,
           value
    FROM events
)
SELECT node,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS subtree_value
FROM anc GROUP BY node
"""


@register(
    "hierarchy_rollup",
    _HIER_SQL,
    "subtree rollup via materialized ancestor-path explode (no recursion)",
)
def q_hierarchy_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical aggregation without a recursive join: each user id
    is a node whose parent is id/10 (a synthetic org chart over the
    fixture), and every event contributes to all its ancestors.  The
    materialized-path form — explode the (bounded-depth) ancestor list,
    one hash aggregate on the node — is how subtree rollups scale: cost
    is depth × fact size with ONE shuffle, versus a recursive
    CTE/iterative join whose every level re-shuffles the frontier
    (Spark lacks recursive CTEs; the DuckDB oracle uses the identical
    path expansion).  The saturated tail of the path (…//10^d == 0) is
    deduped per event so the root counts each event once."""
    from datalakehouse_spark.functions.numeric import dsum

    ev = load_table(spark, sf_dir, "events")
    anc = ev.select(
        F.explode(
            F.array_distinct(
                F.array(
                    *[
                        (F.col("user_id") / F.lit(10**d)).cast("bigint").alias(f"a{d}")
                        for d in range(_HIER_DEPTH)
                    ]
                )
            )
        ).alias("node"),
        "value",
    )
    return anc.groupBy("node").agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum("value").alias("subtree_value"),
    )


# ---------------------------------------------------------------------------
# debounce_events: drop same-type events within a refractory gap
# ---------------------------------------------------------------------------

_DEBOUNCE_SQL = """
WITH gaps AS (
    SELECT event_type,
           epoch_us(ts) - LAG(epoch_us(ts)) OVER (
               PARTITION BY user_id, event_type
               ORDER BY epoch_us(ts), event_id) AS gap_us
    FROM events
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CASE WHEN gap_us IS NULL OR gap_us > 5000000
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN gap_us IS NOT NULL AND gap_us <= 5000000
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_debounced
FROM gaps GROUP BY event_type
"""


@register(
    "debounce_events",
    _DEBOUNCE_SQL,
    "refractory-gap dedup: drop same-type events within 5s of the previous",
)
def q_debounce_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Double-fire suppression (the batch twin of streaming
    dropDuplicatesWithinWatermark): an event survives if it's the first
    of its (user, type) stream or arrived more than 5 s after the
    previous one.  One LAG window on the natural (user, type) key —
    epoch-microsecond integer gaps, so the keep decision is exact in
    both engines.  Chained debounce (gap from previous KEPT event)
    needs running state — that variant lives in streaming; this is the
    standard previous-RAW-event form."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.unix_micros("ts"), "event_id"
    )
    us = F.unix_micros("ts")
    gaps = ev.select(
        "event_type", (us - F.lag(us).over(w)).alias("gap_us")
    )
    keep = F.col("gap_us").isNull() | (F.col("gap_us") > 5_000_000)
    return gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(keep.cast("long")).alias("n_kept"),
        F.sum((~keep).cast("long")).alias("n_debounced"),
    )


# ---------------------------------------------------------------------------
# purchase_attribution: last-touch click attribution via conditional window
# ---------------------------------------------------------------------------

_ATTRIB_SQL = """
WITH stream AS (
    SELECT user_id, event_type, value, epoch_us(ts) AS us, event_id,
           CAST(ts AS DATE) AS day,
           MAX(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ) AS last_click_us
    FROM events
),
purchases AS (
    SELECT day, value, last_click_us,
           CASE WHEN last_click_us IS NOT NULL
                 AND us - last_click_us <= 86400000000
                THEN 1 ELSE 0 END AS attributed
    FROM stream WHERE event_type = 'purchase'
)
SELECT day,
       CAST(COUNT(*) AS BIGINT) AS n_purchases,
       CAST(SUM(attributed) AS BIGINT) AS n_attributed,
       CAST(SUM(CASE WHEN attributed = 1
                     THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE)
           AS attributed_value
FROM purchases GROUP BY day
"""


@register(
    "purchase_attribution",
    _ATTRIB_SQL,
    "last-touch attribution: purchases credited to the nearest prior click (24h lookback)",
)
def q_purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing attribution as one pass over the interleaved event
    stream: a conditional running MAX (last click timestamp so far)
    over each user's ordered stream gives every purchase its
    most-recent prior click without a self-join; the 24 h lookback and
    the credit sum are then row-local.  One shuffle on user_id — the
    self-join formulation (purchases × clicks, filter to nearest)
    shuffles both sides AND risks a pair blow-up on clicky users.
    Decimal-staged value sum; gap test in integer microseconds."""
    from datalakehouse_spark.functions.numeric import dsum

    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    w = (
        Window.partitionBy("user_id")
        .orderBy(us, "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    stream = ev.select(
        "user_id",
        "event_type",
        "value",
        us.alias("us"),
        F.to_date("ts").alias("day"),
        F.max(F.when(F.col("event_type") == "click", us)).over(w).alias(
            "last_click_us"
        ),
    )
    purchases = stream.where(F.col("event_type") == "purchase").select(
        "day",
        "value",
        (
            F.col("last_click_us").isNotNull()
            & ((F.col("us") - F.col("last_click_us")) <= 86_400_000_000)
        )
        .cast("int")
        .alias("attributed"),
    )
    return purchases.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.sum("attributed").cast("bigint").alias("n_attributed"),
        dsum(F.when(F.col("attributed") == 1, F.col("value"))).alias(
            "attributed_value"
        ),
    )


# ---------------------------------------------------------------------------
# dow_seasonality: day-of-week index per event type
# ---------------------------------------------------------------------------

# day-of-week via integer date arithmetic from a fixed Monday anchor —
# engine-independent (Spark dayofweek() counts Sunday=1, DuckDB dow()
# Sunday=0; a datediff mod 7 sidesteps both conventions)
_DOW_SQL = """
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS day,
           CAST(COUNT(*) AS BIGINT) AS c
    FROM events GROUP BY 1, 2
),
keyed AS (
    SELECT event_type, c,
           CAST(date_diff('day', DATE '2024-01-01', day) % 7 AS INTEGER) AS dow
    FROM daily
),
tot AS (
    SELECT event_type,
           CAST(SUM(c) AS BIGINT) AS total_events,
           CAST(COUNT(*) AS BIGINT) AS total_days
    FROM keyed GROUP BY event_type
)
SELECT k.event_type, k.dow,
       CAST(SUM(k.c) AS BIGINT) AS n_events,
       CAST(COUNT(*) AS BIGINT) AS n_days,
       round(CAST(SUM(k.c) * t.total_days AS DOUBLE)
             / CAST(COUNT(*) * t.total_events AS DOUBLE), 6) AS seasonality_idx
FROM keyed k JOIN tot t ON k.event_type = t.event_type
GROUP BY k.event_type, k.dow, t.total_days, t.total_events
"""


@register(
    "dow_seasonality",
    _DOW_SQL,
    "day-of-week seasonality index per event type (integer-exact dow arithmetic)",
)
def q_dow_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly seasonality profile: the ratio of a weekday's average
    daily volume to the overall average.  Day-of-week comes from
    datediff-mod-7 against a fixed Monday anchor because the engines
    disagree on dayofweek numbering; the index is one division of two
    exact integer products, so it's bit-identical.  Cost: one daily
    rollup (the only fact shuffle), then O(types×7) arithmetic."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("c")
    )
    keyed = daily.select(
        "event_type",
        "c",
        (F.datediff("day", F.lit("2024-01-01").cast("date")) % 7).cast("int").alias(
            "dow"
        ),
    )
    tot = keyed.groupBy("event_type").agg(
        F.sum("c").alias("total_events"), F.count(F.lit(1)).alias("total_days")
    )
    per = keyed.groupBy("event_type", "dow").agg(
        F.sum("c").alias("n_events"), F.count(F.lit(1)).alias("n_days")
    )
    j = per.join(F.broadcast(tot), "event_type")
    return j.select(
        "event_type",
        "dow",
        "n_events",
        "n_days",
        F.round(
            (F.col("n_events") * F.col("total_days")).cast("double")
            / (F.col("n_days") * F.col("total_events")).cast("double"),
            6,
        ).alias("seasonality_idx"),
    )


# ---------------------------------------------------------------------------
# anomaly_days: 2-sigma daily-volume anomalies with EXACT integer tests
# ---------------------------------------------------------------------------

_ANOMALY_SQL = """
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS day,
           CAST(COUNT(*) AS BIGINT) AS c
    FROM events GROUP BY 1, 2
),
stats AS (
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(c) AS BIGINT) AS s,
           CAST(SUM(c * c) AS BIGINT) AS q
    FROM daily GROUP BY event_type
)
SELECT d.event_type,
       CAST(MIN(st.n) AS BIGINT) AS n_days,
       CAST(SUM(CASE WHEN
                (d.c * st.n - st.s) * (d.c * st.n - st.s) * (st.n - 1)
                    > 4 * st.n * (st.n * st.q - st.s * st.s)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalous,
       round(MAX(abs(CAST(d.c AS DOUBLE) - CAST(st.s AS DOUBLE) / st.n)), 6)
           AS max_abs_deviation
FROM daily d JOIN stats st ON d.event_type = st.event_type
GROUP BY d.event_type
"""


@register(
    "anomaly_days",
    _ANOMALY_SQL,
    "2-sigma daily-volume anomaly days per type — exact integer-arithmetic test",
)
def q_anomaly_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume anomaly detection with a test that can't flip on float
    ulps: |c - mean| > 2·sd is algebraically rearranged to
    (c·n − S)²·(n−1) > 4·n·(n·Q − S²) over the integer daily counts
    (S = Σc, Q = Σc²) — both sides are exact int64, so Spark and the
    oracle agree on every boundary case (a stddev_samp formulation
    diverges in the last ulp between Welford partials and the
    sequential scan).  One daily rollup, a broadcast of the O(types)
    stats row, one final aggregate."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("c")
    )
    stats = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("s"),
        F.sum(F.col("c") * F.col("c")).alias("q"),
    )
    d = daily.join(F.broadcast(stats), "event_type")
    lhs = (F.col("c") * F.col("n") - F.col("s"))
    is_anom = (lhs * lhs * (F.col("n") - 1)) > (
        F.lit(4) * F.col("n") * (F.col("n") * F.col("q") - F.col("s") * F.col("s"))
    )
    return d.groupBy("event_type").agg(
        F.min("n").alias("n_days"),
        F.sum(is_anom.cast("long")).alias("n_anomalous"),
        F.round(
            F.max(
                F.abs(F.col("c").cast("double") - F.col("s").cast("double") / F.col("n"))
            ),
            6,
        ).alias("max_abs_deviation"),
    )


# ---------------------------------------------------------------------------
# bloom_membership_accounting: deterministic Bloom filter as a bitmap
# relation — build, probe, and measure the false-positive rate
# ---------------------------------------------------------------------------

_BLOOM_BITS = 65536  # 2048 words × 32 bits
_BLOOM_K = 4

def _bloom_hash_sql(expr: str, i: int) -> str:
    return (
        f"CAST(('0x' || substr(md5('bf{i}:' || CAST({expr} AS VARCHAR)), 1, 15)) "
        f"AS BIGINT) % {_BLOOM_BITS}"
    )


_BLOOM_SQL = f"""
WITH member_bits AS (
    SELECT DISTINCT (b.idx // 32) AS word, (b.idx % 32) AS bit
    FROM customer, unnest([{", ".join(_bloom_hash_sql("c_custkey", i) for i in range(_BLOOM_K))}]) AS b(idx)
),
bloom AS (
    SELECT word, bit_or(CAST(1 AS BIGINT) << CAST(bit AS INTEGER)) AS bits
    FROM member_bits GROUP BY word
),
probes AS (
    SELECT DISTINCT o_custkey + 500 AS key FROM orders
),
probe_bits AS (
    SELECT p.key, (b.idx // 32) AS word, (b.idx % 32) AS bit
    FROM probes p, unnest([{", ".join(_bloom_hash_sql("p.key", i) for i in range(_BLOOM_K))}]) AS b(idx)
),
checked AS (
    SELECT pb.key,
           CAST(SUM(CASE WHEN (bl.bits >> CAST(pb.bit AS INTEGER)) & 1 = 1
                         THEN 1 ELSE 0 END) AS BIGINT) AS hits
    FROM probe_bits pb LEFT JOIN bloom bl ON pb.word = bl.word
    GROUP BY pb.key
),
verdicts AS (
    SELECT c.key,
           CASE WHEN c.hits = {_BLOOM_K} THEN 1 ELSE 0 END AS bloom_pos,
           CASE WHEN cu.c_custkey IS NOT NULL THEN 1 ELSE 0 END AS is_member
    FROM checked c LEFT JOIN customer cu ON c.key = cu.c_custkey
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_probes,
       CAST(SUM(bloom_pos) AS BIGINT) AS n_bloom_positive,
       CAST(SUM(is_member) AS BIGINT) AS n_true_members,
       CAST(SUM(CASE WHEN bloom_pos = 1 AND is_member = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_false_positives,
       CAST(SUM(CASE WHEN bloom_pos = 0 AND is_member = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_false_negatives,
       round(CAST(SUM(CASE WHEN bloom_pos = 1 AND is_member = 0 THEN 1 ELSE 0 END)
                  AS DOUBLE)
             / greatest(CAST(SUM(CASE WHEN is_member = 0 THEN 1 ELSE 0 END)
                             AS DOUBLE), 1.0), 6) AS fpr
FROM verdicts
"""


@register(
    "bloom_membership_accounting",
    _BLOOM_SQL,
    f"deterministic Bloom filter ({_BLOOM_BITS} bits, k={_BLOOM_K}): build, probe, measured FPR",
)
def q_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A Bloom filter the oracle can replay bit-for-bit: k salted-md5
    hash positions per key, the bitmap materialized as a (word, bits)
    relation via BIT_OR (≤2048 rows — broadcastable anywhere), probes
    join on the word id and AND out their bit.  The accounting joins
    the Bloom verdict against exact membership to measure the realized
    false-positive rate — and pins n_false_negatives == 0, the Bloom
    guarantee, as oracle-checked output.  This is the semantic twin of
    the runtime bloom-filter join pruning Spark injects (plan-asserted
    in test_plans.py), exposed as data so its selectivity is testable.
    32-bit words sidestep both engines' int64 sign-bit shift edge."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    from datalakehouse_spark.operators.dedup import md5_hash60

    def idxs(col):
        return F.array(
            *[
                (
                    md5_hash60(F.concat(F.lit(f"bf{i}:"), col.cast("string")))
                    % _BLOOM_BITS
                )
                for i in range(_BLOOM_K)
            ]
        )

    member_bits = (
        cust.select(F.explode(idxs(F.col("c_custkey"))).alias("idx"))
        .select((F.col("idx") / 32).cast("bigint").alias("word"),
                (F.col("idx") % 32).alias("bit"))
        .distinct()
    )
    bloom = member_bits.groupBy("word").agg(
        F.expr("bit_or(shiftleft(cast(1 as bigint), cast(bit as int)))").alias("bits")
    )
    probes = orders.select((F.col("o_custkey") + 500).alias("key")).distinct()
    probe_bits = probes.select(
        "key", F.explode(idxs(F.col("key"))).alias("idx")
    ).select(
        "key",
        (F.col("idx") / 32).cast("bigint").alias("word"),
        (F.col("idx") % 32).alias("bit"),
    )
    checked = (
        probe_bits.join(F.broadcast(bloom), "word", "left")
        .select(
            "key",
            F.expr(
                "case when (shiftright(bits, cast(bit as int)) & 1) = 1 "
                "then 1 else 0 end"
            ).alias("hit"),
        )
        .groupBy("key")
        .agg(F.sum("hit").alias("hits"))
    )
    verdicts = checked.join(
        F.broadcast(cust.select("c_custkey")),
        checked.key == F.col("c_custkey"),
        "left",
    ).select(
        (F.col("hits") == _BLOOM_K).cast("int").alias("bloom_pos"),
        F.col("c_custkey").isNotNull().cast("int").alias("is_member"),
    )
    fp = F.sum(((F.col("bloom_pos") == 1) & (F.col("is_member") == 0)).cast("long"))
    non_member = F.sum((F.col("is_member") == 0).cast("long"))
    return verdicts.agg(
        F.count(F.lit(1)).alias("n_probes"),
        F.sum("bloom_pos").cast("bigint").alias("n_bloom_positive"),
        F.sum("is_member").cast("bigint").alias("n_true_members"),
        fp.alias("n_false_positives"),
        F.sum(((F.col("bloom_pos") == 0) & (F.col("is_member") == 1)).cast("long")).alias(
            "n_false_negatives"
        ),
        F.round(
            fp.cast("double") / F.greatest(non_member.cast("double"), F.lit(1.0)), 6
        ).alias("fpr"),
    )


# ---------------------------------------------------------------------------
# bigram_logprob_quality: corpus-trained bigram LM as a perplexity filter
# ---------------------------------------------------------------------------

_BIGRAM_SQL = """
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
bi AS (
    SELECT doc_id,
           unnest([t[i] || ' ' || t[i+1] FOR i IN range(1, len(t))]) AS bg
    FROM toks WHERE len(t) >= 2
),
bg_counts AS (
    SELECT bg, CAST(COUNT(*) AS BIGINT) AS c_bg FROM bi GROUP BY bg
),
uni AS (
    SELECT doc_id, unnest(t[1:len(t)-1]) AS w1
    FROM toks WHERE len(t) >= 2
),
w1_counts AS (
    SELECT w1, CAST(COUNT(*) AS BIGINT) AS c_w1 FROM uni GROUP BY w1
),
scored AS (
    SELECT b.doc_id,
           CAST(round(ln(CAST(g.c_bg AS DOUBLE) / CAST(u.c_w1 AS DOUBLE)), 9)
                AS DECIMAL(18,9)) AS lp
    FROM bi b
    JOIN bg_counts g ON b.bg = g.bg
    JOIN w1_counts u ON u.w1 = split_part(b.bg, ' ', 1)
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       round(CAST(SUM(lp) AS DOUBLE) / COUNT(*), 6) AS avg_logprob
FROM scored
WHERE doc_id % 5 = 0
GROUP BY doc_id
"""


@register(
    "bigram_logprob_quality",
    _BIGRAM_SQL,
    "corpus-trained bigram LM avg log-prob per doc (perplexity-filter shape)",
)
def q_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The perplexity quality filter without an external model: train
    MLE bigram probabilities P(w2|w1) = c(w1 w2)/c(w1) on the corpus
    itself, score each document by its average bigram log-probability
    (high = templated/boilerplate, low = unusual text).  Plan shape:
    the count builds and the scoring side each re-derive the bigram
    explode from the columnar scan (recomputing a narrow explode is
    cheaper at scale than persisting the exploded fact); the two
    probability joins are fact-sized equi joins on the bigram /
    leading-token keys — the same shuffles any distributed LM scorer
    pays.  Per-bigram ln is one IEEE op on an
    integer ratio (identical both engines); the per-doc sum is
    decimal-staged at 9 decimals so parallel partials hash-match the
    sequential oracle."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("t")).where(
        F.size("t") >= 2
    )
    bi = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, size(t) - 2), "
                "i -> concat_ws(' ', t[i], t[i+1]))"
            )
        ).alias("bg"),
    )
    bg_counts = bi.groupBy("bg").agg(F.count(F.lit(1)).alias("c_bg"))
    uni = toks.select(
        F.explode(F.slice("t", 1, F.size("t") - 1)).alias("w1")
    )
    w1_counts = uni.groupBy("w1").agg(F.count(F.lit(1)).alias("c_w1"))
    scored = (
        bi.join(bg_counts, "bg")
        .withColumn("w1", F.split_part(F.col("bg"), F.lit(" "), F.lit(1)))
        .join(w1_counts, "w1")
        .select(
            "doc_id",
            F.round(
                F.log(F.col("c_bg").cast("double") / F.col("c_w1").cast("double")), 9
            )
            .cast("decimal(18,9)")
            .alias("lp"),
        )
    )
    return (
        scored.where(F.col("doc_id") % 5 == 0)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(
                F.sum("lp").cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_logprob"),
        )
    )


# ---------------------------------------------------------------------------
# containment_near_dup: asymmetric containment — catches doc-inside-doc
# relations that symmetric Jaccard dilutes away
# ---------------------------------------------------------------------------

_CONTAINMENT_SQL = """
WITH g AS (
    SELECT doc_id,
           list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                          FOR i IN range(1, len(t) - 1)]) AS sh
    FROM (SELECT doc_id, string_split(text, ' ') AS t
          FROM documents
          WHERE CAST(('0x' || substr(md5(substr(text, 1, 64)), 1, 15))
                     AS BIGINT) % 12 = 0)
    WHERE len(t) >= 3
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       round(len(list_intersect(a.sh, b.sh))
             / CAST(least(len(a.sh), len(b.sh)) AS DOUBLE), 6) AS containment,
       round(len(list_intersect(a.sh, b.sh))
             / CAST(greatest(len(a.sh) + len(b.sh)
                             - len(list_intersect(a.sh, b.sh)), 1) AS DOUBLE),
             6) AS jaccard
FROM g a JOIN g b ON a.doc_id < b.doc_id
WHERE len(list_intersect(a.sh, b.sh))
      >= 0.5 * least(len(a.sh), len(b.sh))
"""


@register(
    "containment_near_dup",
    _CONTAINMENT_SQL,
    "asymmetric containment dedup tier: |A∩B|/min(|A|,|B|) over token 3-grams",
)
def q_containment_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup relation Jaccard misses: when a short document is
    embedded inside a long one, |A∩B|/|A∪B| is diluted by the long
    doc's extra shingles while containment |A∩B|/min(|A|,|B|) saturates
    at 1.  Exact-verify tier shape like char_ngram_jaccard, but sampled
    by TEXT-PREFIX HASH rather than doc id: id-sampling almost never
    co-samples a duplicate with its partner (ids are unrelated to
    content), while prefix-hash blocks keep dup families together — the
    same reason production verify tiers sample by content block.  At
    scale, candidate generation is the LSH band join (containment would
    use the SHORTER doc's minhashes only, which band-bucketing already
    approximates).  Both metrics are emitted so the asymmetry is
    visible; integer set sizes make the ratios single-division
    deterministic."""
    from datalakehouse_spark.operators.dedup import md5_hash60

    docs = (
        load_table(spark, sf_dir, "documents")
        .where(md5_hash60(F.substring("text", 1, 64)) % 12 == 0)
        .repartition(spark.sparkContext.defaultParallelism)
    )
    toks = docs.select("doc_id", F.split("text", " ").alias("t")).where(
        F.size("t") >= 3
    )
    sh = F.array_distinct(
        F.expr(
            "transform(sequence(0, size(t) - 3), "
            "i -> concat_ws(' ', t[i], t[i+1], t[i+2]))"
        )
    )
    g = toks.select("doc_id", sh.alias("sh"))
    a = g.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sa"))
    b = g.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sb"))
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    inter = F.size(F.array_intersect("sa", "sb"))
    containment = inter / F.least(F.size("sa"), F.size("sb")).cast("double")
    jac = inter / F.greatest(
        F.size("sa") + F.size("sb") - inter, F.lit(1)
    ).cast("double")
    return pairs.where(
        inter >= 0.5 * F.least(F.size("sa"), F.size("sb"))
    ).select(
        "id_a",
        "id_b",
        F.round(containment, 6).alias("containment"),
        F.round(jac, 6).alias("jaccard"),
    )


# ---------------------------------------------------------------------------
# winback_users: re-engagement after a 7-day-plus dormancy gap
# ---------------------------------------------------------------------------

_WINBACK_SQL = """
WITH active AS (
    SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
),
gaps AS (
    SELECT user_id, day,
           date_diff('day',
               LAG(day) OVER (PARTITION BY user_id ORDER BY day), day) AS gap
    FROM active
)
SELECT day,
       CAST(COUNT(*) AS BIGINT) AS active_users,
       CAST(SUM(CASE WHEN gap >= 7 THEN 1 ELSE 0 END) AS BIGINT) AS winbacks,
       CAST(SUM(CASE WHEN gap IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS new_users
FROM gaps GROUP BY day
"""


@register(
    "winback_users",
    _WINBACK_SQL,
    "re-engagement detection: users returning after a 7-day-plus dormancy gap",
)
def q_winback_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth-analytics staple: per day, how many active users are
    returning from dormancy (previous active day ≥7 days back) vs
    brand-new.  The distinct (user, day) reduction is the only
    fact-sized shuffle; the LAG window rides the user partitioning over
    the tiny per-user day series.  Day gaps are integer datediffs —
    exact in both engines."""
    ev = load_table(spark, sf_dir, "events")
    active = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    gaps = active.select(
        "day", F.datediff("day", F.lag("day").over(w)).alias("gap")
    )
    return gaps.groupBy("day").agg(
        F.count(F.lit(1)).alias("active_users"),
        # explicit otherwise(0): on the first fixture day every gap is
        # NULL, and (NULL >= 7)::long sums to NULL, not the oracle's 0
        F.sum(F.when(F.col("gap") >= 7, 1).otherwise(0)).alias("winbacks"),
        F.sum(F.when(F.col("gap").isNull(), 1).otherwise(0)).alias("new_users"),
    )


# ---------------------------------------------------------------------------
# dau_wau_stickiness: DAU/WAU engagement ratio per ISO week
# ---------------------------------------------------------------------------

_STICKINESS_SQL = """
WITH active AS (
    SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
),
keyed AS (
    SELECT user_id, day, date_trunc('week', day) AS week FROM active
),
dau AS (
    SELECT week, day, CAST(COUNT(*) AS BIGINT) AS dau
    FROM keyed GROUP BY week, day
),
wau AS (
    SELECT week, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau
    FROM keyed GROUP BY week
),
d AS (
    SELECT week,
           CAST(SUM(dau) AS BIGINT) AS sum_dau,
           CAST(COUNT(*) AS BIGINT) AS n_days
    FROM dau GROUP BY week
)
SELECT d.week, d.sum_dau, d.n_days, w.wau,
       round(CAST(d.sum_dau AS DOUBLE) / (d.n_days * w.wau), 6) AS stickiness
FROM d JOIN wau w ON d.week = w.week
"""


@register(
    "dau_wau_stickiness",
    _STICKINESS_SQL,
    "DAU/WAU stickiness per ISO week (avg daily actives over weekly actives)",
)
def q_dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engagement depth: average DAU divided by WAU per ISO week
    (1.0 = every weekly user active every day).  One distinct
    (user, day) reduction feeds both branches; the DAU and WAU
    aggregates run over that already-small set, and the ratio is one
    division of exact integers.  Both engines truncate weeks to
    Monday."""
    ev = load_table(spark, sf_dir, "events")
    active = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    keyed = active.select(
        "user_id", "day", F.trunc("day", "week").alias("week")
    )
    dau = keyed.groupBy("week", "day").agg(F.count(F.lit(1)).alias("dau"))
    wau = keyed.groupBy("week").agg(F.countDistinct("user_id").alias("wau"))
    d = dau.groupBy("week").agg(
        F.sum("dau").alias("sum_dau"), F.count(F.lit(1)).alias("n_days")
    )
    j = d.join(wau, "week")
    return j.select(
        "week",
        "sum_dau",
        "n_days",
        "wau",
        F.round(
            F.col("sum_dau").cast("double") / (F.col("n_days") * F.col("wau")), 6
        ).alias("stickiness"),
    )


# ---------------------------------------------------------------------------
# langid_confusion: evaluate the stopword langid heuristic against the
# fixture's ground-truth lang column
# ---------------------------------------------------------------------------


def _langid_confusion_sql() -> str:
    from datalakehouse_spark.registry_ext import _LANGID_SQL

    return f"""
WITH pred AS ({_LANGID_SQL}),
joined AS (
    SELECT d.lang, p.lang_pred
    FROM documents d JOIN pred p ON d.doc_id = p.doc_id
),
totals AS (
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS lang_total
    FROM joined GROUP BY lang
)
SELECT j.lang, j.lang_pred,
       CAST(COUNT(*) AS BIGINT) AS n,
       round(CAST(COUNT(*) AS DOUBLE) / CAST(t.lang_total AS DOUBLE), 6)
           AS frac_of_actual
FROM joined j JOIN totals t ON j.lang = t.lang
GROUP BY j.lang, j.lang_pred, t.lang_total
"""


@register(
    "langid_confusion",
    _langid_confusion_sql(),
    "language-ID confusion matrix vs ground-truth lang labels",
)
def q_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-quality accounting for the langid heuristic: the full
    (actual, predicted) confusion matrix with per-actual-language
    recall fractions, joined against the fixture's ground-truth lang
    column.  The prediction pass is the existing scan-fused stopword
    scorer; the join is on doc_id (co-partitioned aggregate inputs),
    and the matrix itself is O(langs²) rows.  This is the evaluation
    loop a corpus pipeline runs when tuning filter thresholds — as a
    query, not a notebook."""
    from datalakehouse_spark.operators import textstats as TS

    docs = load_table(spark, sf_dir, "documents")
    # Round 17 negative result (kept for the record): dropping the
    # doc_id self-join (lang rides the langid_df scan) + a window for
    # the totals cut the plan from 4 scans to 1 but measured 1.02 →
    # 1.55 s min-of-5 in a paired A/B (control improved) — the extra
    # scans are cheap columnar reads while the window + single fat
    # scan serialize the interpreted langid lambdas on one pass.
    pred = TS.langid_df(docs).select("doc_id", "lang_pred")
    joined = docs.select("doc_id", "lang").join(pred, "doc_id").select(
        "lang", "lang_pred"
    )
    totals = joined.groupBy("lang").agg(F.count(F.lit(1)).alias("lang_total"))
    return (
        joined.groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n"))
        .join(F.broadcast(totals), "lang")
        .select(
            "lang",
            "lang_pred",
            "n",
            F.round(
                F.col("n").cast("double") / F.col("lang_total").cast("double"), 6
            ).alias("frac_of_actual"),
        )
    )


# ---------------------------------------------------------------------------
# label_centroid_distances: embedding-space class separability
# ---------------------------------------------------------------------------

_CENTROID_SQL = """
WITH dims AS (
    SELECT label, i,
           CAST(SUM(CAST(embedding[i] AS DOUBLE)) AS DOUBLE) / COUNT(*) AS c
    FROM embeddings, range(1, 65) r(i)
    GROUP BY label, i
),
pairs AS (
    SELECT a.label AS label_a, b.label AS label_b,
           CAST(round((a.c - b.c) * (a.c - b.c), 9) AS DECIMAL(18,9)) AS term
    FROM dims a JOIN dims b ON a.i = b.i AND a.label < b.label
)
SELECT label_a, label_b,
       round(sqrt(CAST(SUM(term) AS DOUBLE)), 6) AS centroid_l2
FROM pairs GROUP BY label_a, label_b
"""


@register(
    "label_centroid_distances",
    _CENTROID_SQL,
    "pairwise L2 between per-label embedding centroids (class separability)",
)
def q_label_centroid_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space health check: pairwise distances between class
    centroids (collapsing centroids = labels the embedding can't
    separate — drift alarm for retraining).  Per-(label, dim) means via
    ONE posexplode aggregate (the only fact-sized shuffle — 64×rows,
    map-side partials down to labels×64); the pairwise stage runs on
    the O(labels×64) centroid relation.  The corpus sums are exactly
    associative (float32-precision addends in double), and the
    per-dim squared terms are decimal-staged so the 64-term sums are
    order-independent in both engines."""
    emb = load_table(spark, sf_dir, "embeddings")
    dims = (
        emb.select("label", F.posexplode("embedding").alias("i", "x"))
        .groupBy("label", "i")
        .agg((F.sum(F.col("x").cast("double")) / F.count(F.lit(1))).alias("c"))
    )
    a = dims.select(
        F.col("label").alias("label_a"), F.col("i").alias("i"), F.col("c").alias("ca")
    )
    b = dims.select(
        F.col("label").alias("label_b"), F.col("i").alias("ib"), F.col("c").alias("cb")
    )
    pairs = a.join(
        b, (F.col("i") == F.col("ib")) & (F.col("label_a") < F.col("label_b"))
    ).select(
        "label_a",
        "label_b",
        F.round((F.col("ca") - F.col("cb")) * (F.col("ca") - F.col("cb")), 9)
        .cast("decimal(18,9)")
        .alias("term"),
    )
    return pairs.groupBy("label_a", "label_b").agg(
        F.round(F.sqrt(F.sum("term").cast("double")), 6).alias("centroid_l2")
    )


# ---------------------------------------------------------------------------
# weighted_median: quantized-CDF weighted quantiles (the distributed shape)
# ---------------------------------------------------------------------------

_WMEDIAN_SQL = """
WITH w AS (
    SELECT event_type,
           round(value, 2) AS bin,
           1 + event_id % 5 AS wt
    FROM events
),
hist AS (
    SELECT event_type, bin, CAST(SUM(wt) AS BIGINT) AS bin_wt
    FROM w GROUP BY event_type, bin
),
cdf AS (
    SELECT event_type, bin, bin_wt,
           CAST(SUM(bin_wt) OVER (PARTITION BY event_type ORDER BY bin
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_wt,
           CAST(SUM(bin_wt) OVER (PARTITION BY event_type) AS BIGINT) AS total_wt
    FROM hist
)
SELECT event_type,
       CAST(MIN(CASE WHEN 2 * cum_wt >= total_wt THEN bin END) AS DOUBLE)
           AS weighted_median,
       CAST(MIN(total_wt) AS BIGINT) AS total_weight,
       CAST(COUNT(*) AS BIGINT) AS n_bins
FROM cdf GROUP BY event_type
"""


@register(
    "weighted_median",
    _WMEDIAN_SQL,
    "weighted median via quantized CDF (bin histogram -> running cumulative weight)",
)
def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted quantiles the way they distribute: quantize values to
    cents, ONE hash aggregate builds the per-(group, bin) weight
    histogram (this is the only fact-sized shuffle — map-side partials
    collapse duplicate bins), then the cumulative-weight walk runs over
    the small bin relation and the median is the first bin where
    2·cum ≥ total.  The naive form — a running sum over every raw row
    sorted by value — is a per-group single task at any scale; the
    histogram form bounds the sequential part at n_bins.  Weights are
    synthesized deterministically (1 + event_id % 5); every comparison
    is integer."""
    ev = load_table(spark, sf_dir, "events")
    w = ev.select(
        "event_type",
        F.round("value", 2).alias("bin"),
        (F.lit(1) + F.col("event_id") % 5).alias("wt"),
    )
    hist = w.groupBy("event_type", "bin").agg(F.sum("wt").alias("bin_wt"))
    cum = Window.partitionBy("event_type").orderBy("bin").rowsBetween(
        Window.unboundedPreceding, 0
    )
    tot = Window.partitionBy("event_type")
    cdf = hist.select(
        "event_type",
        "bin",
        F.sum("bin_wt").over(cum).alias("cum_wt"),
        F.sum("bin_wt").over(tot).alias("total_wt"),
    )
    return cdf.groupBy("event_type").agg(
        F.min(F.when(2 * F.col("cum_wt") >= F.col("total_wt"), F.col("bin")))
        .cast("double")
        .alias("weighted_median"),
        F.min("total_wt").alias("total_weight"),
        F.count(F.lit(1)).alias("n_bins"),
    )


# ---------------------------------------------------------------------------
# point_in_time_join: facts joined to the dimension version valid at
# event time (SCD2 lookup — the anti-leakage join for feature builds)
# ---------------------------------------------------------------------------

# synthesized SCD2 dimension: every user carries 3 versions, each valid
# 10 days from 2024-01-01 (the fixture's event window), attribute
# changes per version — deterministic in both engines
_PIT_SQL = """
WITH users AS (SELECT DISTINCT user_id FROM events),
dim AS (
    SELECT u.user_id, v.version,
           DATE '2024-01-01' + CAST(v.version * 10 AS INTEGER) AS valid_from,
           DATE '2024-01-01' + CAST((v.version + 1) * 10 AS INTEGER) AS valid_to,
           u.user_id * 10 + v.version AS tier_score
    FROM users u, (SELECT unnest([0, 1, 2]) AS version) v
),
joined AS (
    SELECT e.user_id, e.value, d.version, d.tier_score
    FROM events e JOIN dim d
      ON e.user_id = d.user_id
     AND CAST(e.ts AS DATE) >= d.valid_from
     AND CAST(e.ts AS DATE) < d.valid_to
)
SELECT version,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
       CAST(SUM(tier_score) AS BIGINT) AS sum_tier
FROM joined GROUP BY version
"""


@register(
    "point_in_time_join",
    _PIT_SQL,
    "SCD2 point-in-time join: facts matched to the dim version valid at event time",
)
def q_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The anti-leakage join of feature engineering: each event must
    see the dimension attributes AS OF its own timestamp, never a later
    version (training-serving skew otherwise).  The SCD2 dimension is
    synthesized (3 ten-day versions per user over the fixture window);
    the join is an equi join on user_id with the validity range as a
    residual predicate — versions-per-key is small and bounded, so this
    stays a hash join (never a BNLJ), which is exactly how a
    partitioned SCD2 dim joins at 100 TB.  Money sums decimal-staged;
    date bounds are integer date arithmetic."""
    ev = load_table(spark, sf_dir, "events")
    from datalakehouse_spark.functions.numeric import dsum

    users = ev.select("user_id").distinct()
    anchor = F.lit("2024-01-01").cast("date")
    # version fan-out via explode, not a cross join — no BNLJ node, and
    # the dim build stays a narrow projection of the user list
    dim = users.select(
        "user_id", F.explode(F.sequence(F.lit(0), F.lit(2))).alias("version")
    ).select(
        "user_id",
        "version",
        F.date_add(anchor, F.col("version") * 10).alias("valid_from"),
        F.date_add(anchor, (F.col("version") + 1) * 10).alias("valid_to"),
        (F.col("user_id") * 10 + F.col("version")).alias("tier_score"),
    )
    # explicit aliases: dim derives FROM events (distinct users), so
    # unqualified attributes would be lineage-ambiguous
    e, d = ev.alias("e"), dim.alias("d")
    day = F.to_date(F.col("e.ts"))
    joined = e.join(
        d,
        (F.col("e.user_id") == F.col("d.user_id"))
        & (day >= F.col("d.valid_from"))
        & (day < F.col("d.valid_to")),
    ).select(
        F.col("e.user_id").alias("uid"),
        F.col("e.value").alias("value"),
        F.col("d.version").alias("version"),
        F.col("d.tier_score").alias("tier_score"),
    )
    return joined.groupBy("version").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("uid").alias("n_users"),
        dsum("value").alias("sum_value"),
        F.sum("tier_score").alias("sum_tier"),
    )


# ---------------------------------------------------------------------------
# time_to_convert: click->purchase latency percentiles per day
# ---------------------------------------------------------------------------

_TTC_SQL = """
WITH stream AS (
    SELECT user_id, event_type, epoch_us(ts) AS us, event_id,
           CAST(ts AS DATE) AS day,
           MAX(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ) AS last_click_us
    FROM events
),
conv AS (
    SELECT day, us - last_click_us AS latency_us
    FROM stream
    WHERE event_type = 'purchase' AND last_click_us IS NOT NULL
      AND us - last_click_us <= 86400000000
),
ranked AS (
    SELECT day, latency_us,
           ROW_NUMBER() OVER (PARTITION BY day ORDER BY latency_us) AS rn,
           COUNT(*) OVER (PARTITION BY day) AS n
    FROM conv
)
SELECT day,
       CAST(MIN(n) AS BIGINT) AS n_conversions,
       CAST(MIN(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT)
                     THEN latency_us END) AS DOUBLE) / 1000000.0 AS p50_s,
       CAST(MIN(CASE WHEN rn = CAST(ceil(0.9 * n) AS BIGINT)
                     THEN latency_us END) AS DOUBLE) / 1000000.0 AS p90_s,
       CAST(MAX(latency_us) AS DOUBLE) / 1000000.0 AS max_s
FROM ranked GROUP BY day
"""


@register(
    "time_to_convert",
    _TTC_SQL,
    "click-to-purchase latency percentiles per day (conversion funnel timing)",
)
def q_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel timing on top of the attribution scan: the same
    conditional running MAX that credits purchases to their nearest
    prior click also yields the conversion latency; percentiles are
    ORDER STATISTICS (the ceil(p·n)-th smallest integer-microsecond
    latency) rather than interpolated quantiles — interpolation
    formulas differ between engines in the last ulp and can cross a
    rounding boundary, while an order statistic is an exact integer
    pick divided once.  One user-partitioned window over the fact,
    one per-day rank window over the small conversion set."""
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    w = (
        Window.partitionBy("user_id")
        .orderBy(us, "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    stream = ev.select(
        "event_type",
        us.alias("us"),
        F.to_date("ts").alias("day"),
        F.max(F.when(F.col("event_type") == "click", us)).over(w).alias(
            "last_click_us"
        ),
    )
    conv = stream.where(
        (F.col("event_type") == "purchase")
        & F.col("last_click_us").isNotNull()
        & ((F.col("us") - F.col("last_click_us")) <= 86_400_000_000)
    ).select("day", (F.col("us") - F.col("last_click_us")).alias("latency_us"))
    wd = Window.partitionBy("day")
    ranked = conv.select(
        "day",
        "latency_us",
        F.row_number().over(wd.orderBy("latency_us")).alias("rn"),
        F.count(F.lit(1)).over(wd).alias("n"),
    )
    pick = lambda p: F.min(  # noqa: E731
        F.when(
            F.col("rn") == F.ceil(F.lit(p) * F.col("n")).cast("bigint"),
            F.col("latency_us"),
        )
    ).cast("double") / 1_000_000.0
    return ranked.groupBy("day").agg(
        F.min("n").alias("n_conversions"),
        pick(0.5).alias("p50_s"),
        pick(0.9).alias("p90_s"),
        (F.max("latency_us").cast("double") / 1_000_000.0).alias("max_s"),
    )


# ---------------------------------------------------------------------------
# conversion_wilson_ci: rate estimates that survive small denominators
# ---------------------------------------------------------------------------

_WILSON_SQL = """
WITH counts AS (
    SELECT user_id % 10 AS cohort,
           CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT)
               AS views,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS purchases
    FROM events GROUP BY 1
),
rates AS (
    -- trials = views + purchases: purchases are not a subset of views
    -- in the fixture, so purchases/views alone can exceed 1 (and a
    -- Wilson sqrt goes negative); the outcome-share form is a true
    -- binomial proportion
    SELECT cohort, views, purchases,
           views + purchases AS trials,
           CAST(purchases AS DOUBLE) / CAST(views + purchases AS DOUBLE) AS p,
           -- CAST: DuckDB types the bare literal DECIMAL and z*z then
           -- overflows decimal precision
           CAST(1.959963984540054 AS DOUBLE) AS z
    FROM counts WHERE views > 0
)
SELECT cohort, views, purchases,
       round(p, 6) AS rate,
       round((p + z*z/(2*trials)
              - z * sqrt((p*(1.0-p) + z*z/(4*trials)) / trials))
             / (1.0 + z*z/trials), 6) AS wilson_low,
       round((p + z*z/(2*trials)
              + z * sqrt((p*(1.0-p) + z*z/(4*trials)) / trials))
             / (1.0 + z*z/trials), 6) AS wilson_high
FROM rates
"""


@register(
    "conversion_wilson_ci",
    _WILSON_SQL,
    "per-cohort conversion rate with 95% Wilson interval (small-n-safe)",
)
def q_conversion_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rate reporting that doesn't lie at small denominators: the
    Wilson score interval (the binomial CI that stays inside [0,1] and
    behaves at n→small, unlike the normal approximation).  One
    conditional aggregate builds per-cohort (views, purchases); the
    interval is pure scalar arithmetic written in ONE fixed expression
    order so both engines produce the identical doubles before the
    final round.  The z literal is spelled to the exact double for
    97.5%."""
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy((F.col("user_id") % 10).alias("cohort")).agg(
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("views"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "purchases"
        ),
    )
    z = F.lit(1.959963984540054)
    trials = F.col("views") + F.col("purchases")
    p = F.col("purchases").cast("double") / trials.cast("double")
    center = p + z * z / (2 * trials)
    margin = z * F.sqrt((p * (F.lit(1.0) - p) + z * z / (4 * trials)) / trials)
    denom = F.lit(1.0) + z * z / trials
    return counts.where(F.col("views") > 0).select(
        "cohort",
        "views",
        "purchases",
        F.round(p, 6).alias("rate"),
        F.round((center - margin) / denom, 6).alias("wilson_low"),
        F.round((center + margin) / denom, 6).alias("wilson_high"),
    )


# ---------------------------------------------------------------------------
# gapfill_interpolated: calendar densify + linear interpolation
# ---------------------------------------------------------------------------

_GAPFILL_INTERP_SQL = """
WITH observed AS (
    SELECT event_type, CAST(ts AS DATE) AS day,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v
    FROM events
    GROUP BY 1, 2
),
punched AS (  -- deterministic holes so interpolation has work to do
    SELECT * FROM observed WHERE dayofmonth(day) % 5 <> 2
),
bounds AS (
    SELECT event_type, MIN(day) AS d0, MAX(day) AS d1 FROM observed
    GROUP BY event_type
),
calendar AS (
    -- list-valued range(): the table-function generate_series can't
    -- take lateral column bounds in DuckDB
    SELECT event_type,
           d0 + CAST(i AS INTEGER) AS day
    FROM bounds, unnest(range(0, date_diff('day', d0, d1) + 1)) t(i)
),
joined AS (
    SELECT c.event_type, c.day, p.v AS observed_v
    FROM calendar c LEFT JOIN punched p
      ON c.event_type = p.event_type AND c.day = p.day
),
ctx AS (
    SELECT event_type, day, observed_v,
           last_value(observed_v IGNORE NULLS) OVER w_prev AS prev_v,
           last_value(CASE WHEN observed_v IS NOT NULL THEN day END
                      IGNORE NULLS) OVER w_prev AS prev_d,
           first_value(observed_v IGNORE NULLS) OVER w_next AS next_v,
           first_value(CASE WHEN observed_v IS NOT NULL THEN day END
                       IGNORE NULLS) OVER w_next AS next_d
    FROM joined
    WINDOW
      w_prev AS (PARTITION BY event_type ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      w_next AS (PARTITION BY event_type ORDER BY day
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT event_type, day,
       round(observed_v, 6) AS observed_v,
       CASE WHEN observed_v IS NOT NULL THEN 0 ELSE 1 END AS was_gap,
       round(CASE
           WHEN observed_v IS NOT NULL THEN observed_v
           WHEN prev_v IS NULL THEN next_v
           WHEN next_v IS NULL THEN prev_v
           ELSE prev_v + (next_v - prev_v)
                * CAST(date_diff('day', prev_d, day) AS DOUBLE)
                / CAST(date_diff('day', prev_d, next_d) AS DOUBLE)
       END, 6) AS filled_v
FROM ctx
"""


@register(
    "gapfill_interpolated",
    _GAPFILL_INTERP_SQL,
    "calendar densify + linear interpolation over missing daily values",
)
def q_gapfill_interpolated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series repair: densify each series over its full calendar
    span and linearly interpolate the holes (edges clamp to the nearest
    observation).  Neighbor lookups are IGNORE-NULLS window frames —
    one forward, one backward over the same (type, day) sort, so the
    series shuffles once; the calendar explode is O(types × days).
    Holes are punched deterministically (day-of-month % 5 == 2) since
    the fixture is dense; the interpolation weight is a ratio of
    integer datediffs, one multiply-divide in fixed order."""
    from datalakehouse_spark.functions.numeric import dsum

    ev = load_table(spark, sf_dir, "events")
    observed = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        dsum("value").alias("v")
    )
    punched = observed.where(F.dayofmonth("day") % 5 != 2)
    bounds = observed.groupBy("event_type").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    calendar = bounds.select(
        "event_type", F.explode(F.sequence("d0", "d1")).alias("day")
    )
    joined = calendar.join(
        punched.withColumnRenamed("v", "observed_v"), ["event_type", "day"], "left"
    )
    w_prev = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_next = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    obs_day = F.when(F.col("observed_v").isNotNull(), F.col("day"))
    ctx = joined.select(
        "event_type",
        "day",
        "observed_v",
        F.last("observed_v", ignorenulls=True).over(w_prev).alias("prev_v"),
        F.last(obs_day, ignorenulls=True).over(w_prev).alias("prev_d"),
        F.first("observed_v", ignorenulls=True).over(w_next).alias("next_v"),
        F.first(obs_day, ignorenulls=True).over(w_next).alias("next_d"),
    )
    interp = F.col("prev_v") + (F.col("next_v") - F.col("prev_v")) * (
        F.datediff("day", "prev_d").cast("double")
        / F.datediff("next_d", "prev_d").cast("double")
    )
    filled = (
        F.when(F.col("observed_v").isNotNull(), F.col("observed_v"))
        .when(F.col("prev_v").isNull(), F.col("next_v"))
        .when(F.col("next_v").isNull(), F.col("prev_v"))
        .otherwise(interp)
    )
    return ctx.select(
        "event_type",
        "day",
        F.round("observed_v", 6).alias("observed_v"),
        F.col("observed_v").isNull().cast("int").alias("was_gap"),
        F.round(filled, 6).alias("filled_v"),
    )


# ---------------------------------------------------------------------------
# session_landing_exit: entry/exit event types per 30-minute session
# ---------------------------------------------------------------------------

_LANDING_SQL = """
WITH ordered AS (
    SELECT user_id, event_type, epoch_us(ts) AS us, event_id,
           CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER (
                    PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
                    > 1800000000
                 OR LAG(epoch_us(ts)) OVER (
                    PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
                    IS NULL
                THEN 1 ELSE 0 END AS is_start
    FROM events
),
sessions AS (
    SELECT user_id, event_type, us, event_id,
           CAST(SUM(is_start) OVER (PARTITION BY user_id
                ORDER BY us, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS session_no
    FROM ordered
),
endpoints AS (
    SELECT user_id, session_no,
           MIN({'us': us, 'event_id': event_id, 'event_type': event_type})
               AS first_ev,
           MAX({'us': us, 'event_id': event_id, 'event_type': event_type})
               AS last_ev
    FROM sessions GROUP BY user_id, session_no
)
SELECT first_ev.event_type AS landing, last_ev.event_type AS exit_type,
       CAST(COUNT(*) AS BIGINT) AS n_sessions
FROM endpoints
GROUP BY 1, 2
"""


@register(
    "session_landing_exit",
    _LANDING_SQL,
    "per-session landing/exit event types (30-min gap sessions, struct-min endpoints)",
)
def q_session_landing_exit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entry/exit analysis: sessionize by 30-minute inactivity gaps
    (the LAG + running-SUM-of-starts pattern), then take each session's
    first and last events as MIN/MAX over (time, id, type) structs —
    a skew-immune aggregate (a row_number window would rescan per
    session; struct-min is one hash aggregate with map-side partials,
    and the (us, event_id) prefix makes the pick total-ordered in both
    engines).  Two shuffles total: the user window and the endpoint
    aggregate."""
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    w = Window.partitionBy("user_id").orderBy(us, "event_id")
    prev = F.lag(us).over(w)
    ordered = ev.select(
        "user_id",
        "event_type",
        us.alias("us"),
        "event_id",
        (prev.isNull() | ((us - prev) > 1_800_000_000)).cast("int").alias(
            "is_start"
        ),
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    sessions = ordered.select(
        "user_id",
        "event_type",
        "us",
        "event_id",
        F.sum("is_start").over(w_run).alias("session_no"),
    )
    ep = F.struct("us", "event_id", "event_type")
    endpoints = sessions.groupBy("user_id", "session_no").agg(
        F.min(ep).alias("first_ev"), F.max(ep).alias("last_ev")
    )
    return endpoints.groupBy(
        F.col("first_ev.event_type").alias("landing"),
        F.col("last_ev.event_type").alias("exit_type"),
    ).agg(F.count(F.lit(1)).alias("n_sessions"))


# ---------------------------------------------------------------------------
# top_movers: biggest day-over-day volume swings per event type
# ---------------------------------------------------------------------------

_MOVERS_SQL = """
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS day,
           CAST(COUNT(*) AS BIGINT) AS c
    FROM events GROUP BY 1, 2
),
delta AS (
    SELECT event_type, day, c,
           c - LAG(c) OVER (PARTITION BY event_type ORDER BY day) AS dod
    FROM daily
),
ranked AS (
    SELECT event_type, day, c, dod,
           ROW_NUMBER() OVER (PARTITION BY event_type
               ORDER BY abs(dod) DESC, day) AS rk
    FROM delta WHERE dod IS NOT NULL
)
SELECT event_type, day, c AS n_events, CAST(dod AS BIGINT) AS dod_change
FROM ranked WHERE rk <= 3
"""


@register(
    "top_movers",
    _MOVERS_SQL,
    "top-3 day-over-day volume swings per event type (|Δ| ranked, date tiebreak)",
)
def q_top_movers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change detection for dashboards: LAG gives day-over-day deltas
    on the tiny daily rollup; per-type rank by |Δ| (date as a total-
    order tiebreak) surfaces the three biggest swings.  Only the rollup
    touches the fact; deltas and ranks are integer-exact windows over
    O(types × days) rows."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("c")
    )
    w = Window.partitionBy("event_type").orderBy("day")
    delta = daily.select(
        "event_type", "day", "c", (F.col("c") - F.lag("c").over(w)).alias("dod")
    ).where(F.col("dod").isNotNull())
    w_rank = Window.partitionBy("event_type").orderBy(
        F.abs("dod").desc(), F.col("day")
    )
    return (
        delta.select(
            "event_type", "day", "c", "dod", F.row_number().over(w_rank).alias("rk")
        )
        .where(F.col("rk") <= 3)
        .select(
            "event_type",
            "day",
            F.col("c").alias("n_events"),
            F.col("dod").alias("dod_change"),
        )
    )


# ---------------------------------------------------------------------------
# kmv_rolling_distinct: 7-day rolling distinct-user ESTIMATE by merging
# per-day KMV sketches — the sketch-rollup pattern, oracle-replayable
# ---------------------------------------------------------------------------

_KMV_ROLL_SQL = f"""
WITH day_hashes AS (
    SELECT DISTINCT CAST(ts AS DATE) AS day,
           CAST(('0x' || substr(md5('kmv:' || CAST(user_id AS VARCHAR)), 1, 15))
                AS BIGINT) AS h
    FROM events
),
day_kmin AS (
    SELECT day, h FROM (
        SELECT day, h,
               ROW_NUMBER() OVER (PARTITION BY day ORDER BY h) AS rk
        FROM day_hashes
    ) WHERE rk <= {_KMV_K}
),
days AS (SELECT DISTINCT day FROM day_hashes),
merged AS (
    SELECT DISTINCT d.day, m.h
    FROM days d JOIN day_kmin m
      ON m.day <= d.day AND m.day > d.day - 7
),
ranked AS (
    SELECT day, h, ROW_NUMBER() OVER (PARTITION BY day ORDER BY h) AS rk
    FROM merged
),
est AS (
    SELECT day,
           CAST(MAX(CASE WHEN rk = {_KMV_K} THEN h END) AS BIGINT) AS h_k,
           CAST(COUNT(*) AS BIGINT) AS n_hashes
    FROM ranked WHERE rk <= {_KMV_K} GROUP BY day
),
exact AS (
    SELECT d.day, CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS exact_users
    FROM (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events) a
    JOIN days d ON a.day <= d.day AND a.day > d.day - 7
    GROUP BY d.day
)
SELECT e.day, x.exact_users,
       CASE WHEN e.h_k IS NULL THEN CAST(e.n_hashes AS DOUBLE)
            ELSE round(({_KMV_K} - 1) * {float(1 << 60)!r}
                       / CAST(e.h_k AS DOUBLE), 6)
       END AS kmv_estimate
FROM est e JOIN exact x ON e.day = x.day
"""


@register(
    "kmv_rolling_distinct",
    _KMV_ROLL_SQL,
    "7-day rolling distinct users by MERGING per-day KMV sketches (vs exact)",
)
def q_kmv_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reason sketches exist: the 7-day rolling estimate never
    re-touches the fact — per-day k-min sets (k×days tiny rows) are
    merged per window by re-taking the k smallest of the union, which
    is EXACTLY the full-window KMV (k-min of a union == k-min of merged
    k-min sets, unit-proven in test_round5_ops).  The exact rolling
    COUNT DISTINCT alongside re-joins every (day, user) row per window
    — 7× the distinct fact — which is precisely the cost curve the
    sketch flattens at 100 TB.  All hashes are 60-bit md5 ints; the
    estimate is one division."""
    from datalakehouse_spark.operators.dedup import md5_hash60

    ev = load_table(spark, sf_dir, "events")
    day_hashes = ev.select(
        F.to_date("ts").alias("day"),
        md5_hash60(F.concat(F.lit("kmv:"), F.col("user_id").cast("string"))).alias(
            "h"
        ),
    ).distinct()
    w_day = Window.partitionBy("day").orderBy("h")
    day_kmin = (
        day_hashes.select("day", "h", F.row_number().over(w_day).alias("rk"))
        .where(F.col("rk") <= _KMV_K)
        .select("day", "h")
    )
    days = day_hashes.select("day").distinct()
    d, m = days.alias("d"), day_kmin.alias("m")
    # range condition rewritten as a target-day EXPLODE + equi join:
    # each sketch day serves targets day..day+6 (d-7 < m.day <= d), so
    # the plan is a hash join on day, never a nested loop
    targets = F.explode(
        F.sequence(F.col("m.day"), F.date_add(F.col("m.day"), 6))
    )
    merged = (
        m.select(targets.alias("day"), F.col("m.h").alias("h"))
        .join(days, "day")  # drop targets past the observed range
        .distinct()
    )
    ranked = merged.select(
        "day", "h", F.row_number().over(w_day).alias("rk")
    ).where(F.col("rk") <= _KMV_K)
    est = ranked.groupBy("day").agg(
        F.max(F.when(F.col("rk") == _KMV_K, F.col("h"))).alias("h_k"),
        F.count(F.lit(1)).alias("n_hashes"),
    )
    active = ev.select(F.to_date("ts").alias("day"), "user_id").distinct()
    a = active.alias("a")
    a_targets = F.explode(
        F.sequence(F.col("a.day"), F.date_add(F.col("a.day"), 6))
    )
    exact = (
        a.select(a_targets.alias("day"), F.col("a.user_id").alias("user_id"))
        .join(days, "day")
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("exact_users"))
    )
    estimate = (
        F.when(F.col("h_k").isNull(), F.col("n_hashes").cast("double"))
        .otherwise(
            F.round(
                F.lit(float(_KMV_K - 1) * float(1 << 60))
                / F.col("h_k").cast("double"),
                6,
            )
        )
    )
    return est.join(exact, "day").select(
        "day", "exact_users", estimate.alias("kmv_estimate")
    )


# ---------------------------------------------------------------------------
# cuped_adjustment: pre-period covariate variance reduction (CUPED)
# ---------------------------------------------------------------------------

_CUPED_SQL = """
WITH per_user AS (
    SELECT user_id,
           CAST(SUM(CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
                         THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS x,
           CAST(SUM(CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-16'
                         THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS y
    FROM events GROUP BY user_id
),
complete AS (
    SELECT COALESCE(x, 0.0) AS x, COALESCE(y, 0.0) AS y FROM per_user
),
sums AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(round(x, 2) AS DECIMAL(18,2))) AS DOUBLE) AS sx,
           CAST(SUM(CAST(round(y, 2) AS DECIMAL(18,2))) AS DOUBLE) AS sy,
           CAST(SUM(CAST(round(x * x, 4) AS DECIMAL(28,4))) AS DOUBLE) AS sxx,
           CAST(SUM(CAST(round(y * y, 4) AS DECIMAL(28,4))) AS DOUBLE) AS syy,
           CAST(SUM(CAST(round(x * y, 4) AS DECIMAL(28,4))) AS DOUBLE) AS sxy
    FROM complete
)
SELECT n,
       round(sy / n, 6) AS mean_post,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS theta,
       round((n * sxy - sx * sy) * (n * sxy - sx * sy)
             / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
           AS variance_reduction
FROM sums
"""


@register(
    "cuped_adjustment",
    _CUPED_SQL,
    "CUPED: pre-period covariate theta + achieved variance reduction (corr^2)",
)
def q_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experimentation workhorse: regress each user's post-period
    metric on their pre-period value (theta = cov/var) — the CUPED
    adjustment that shrinks A/B test variance by corr².  Determinism
    is the interesting part: per-user sums are exact cents (DECIMAL),
    so x·y has at most 4 decimal digits and round(x·y, 4) staged back
    into DECIMAL makes every moment sum exact and order-independent;
    theta/corr² are then fixed-order scalar arithmetic on identical
    doubles.  One shuffle on user_id, one scalar aggregate."""
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-16").cast("date")
    dec = lambda c: c.cast("decimal(18,2)")  # noqa: E731
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.when(F.to_date("ts") < cutoff, dec(F.col("value"))))
        .cast("double")
        .alias("x"),
        F.sum(F.when(F.to_date("ts") >= cutoff, dec(F.col("value"))))
        .cast("double")
        .alias("y"),
    )
    complete = per_user.select(
        F.coalesce("x", F.lit(0.0)).alias("x"), F.coalesce("y", F.lit(0.0)).alias("y")
    )
    s = complete.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("x"), 2).cast("decimal(18,2)")).cast("double").alias("sx"),
        F.sum(F.round(F.col("y"), 2).cast("decimal(18,2)")).cast("double").alias("sy"),
        F.sum(F.round(F.col("x") * F.col("x"), 4).cast("decimal(28,4)"))
        .cast("double")
        .alias("sxx"),
        F.sum(F.round(F.col("y") * F.col("y"), 4).cast("decimal(28,4)"))
        .cast("double")
        .alias("syy"),
        F.sum(F.round(F.col("x") * F.col("y"), 4).cast("decimal(28,4)"))
        .cast("double")
        .alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    cov_n = n * sxy - sx * sy
    var_x = n * sxx - sx * sx
    var_y = n * syy - sy * sy
    return s.select(
        "n",
        F.round(sy / n, 6).alias("mean_post"),
        F.round(cov_n / var_x, 6).alias("theta"),
        F.round(cov_n * cov_n / (var_x * var_y), 6).alias("variance_reduction"),
    )


# ---------------------------------------------------------------------------
# mutual_information: association between event type and hour of day
# ---------------------------------------------------------------------------

_MI_SQL = """
WITH joint AS (
    SELECT event_type, EXTRACT(HOUR FROM ts) AS hr,
           CAST(COUNT(*) AS BIGINT) AS nij
    FROM events GROUP BY 1, 2
),
tot AS (SELECT CAST(SUM(nij) AS BIGINT) AS n FROM joint),
mi AS (
    SELECT j.event_type, j.hr, j.nij, t.n,
           CAST(SUM(j.nij) OVER (PARTITION BY j.event_type) AS BIGINT) AS ni,
           CAST(SUM(j.nij) OVER (PARTITION BY j.hr) AS BIGINT) AS nj
    FROM joint j CROSS JOIN tot t
)
SELECT CAST(MIN(n) AS BIGINT) AS n_events,
       round(CAST(SUM(CAST(round(
           (CAST(nij AS DOUBLE) / n)
           * ln(CAST(nij AS DOUBLE) * n / (CAST(ni AS DOUBLE) * nj)), 12)
           AS DECIMAL(18,12))) AS DOUBLE), 6) AS mi_nats
FROM mi
"""


@register(
    "mutual_information",
    _MI_SQL,
    "mutual information between event type and hour of day (decimal-staged)",
)
def q_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association strength without assuming linearity: I(type; hour)
    in nats from the joint and marginal counts.  One hash aggregate
    over the fact builds the O(types×24) joint table; the marginals are
    windows over it and every MI term is a single ln of an integer
    ratio, rounded at 12 decimals and summed in DECIMAL so the
    cross-cell total is order-independent in both engines."""
    ev = load_table(spark, sf_dir, "events")
    joint = ev.groupBy("event_type", F.hour("ts").alias("hr")).agg(
        F.count(F.lit(1)).alias("nij")
    )
    tot = joint.agg(F.sum("nij").alias("n"))
    mi = joint.crossJoin(F.broadcast(tot)).select(
        "nij",
        "n",
        F.sum("nij").over(Window.partitionBy("event_type")).alias("ni"),
        F.sum("nij").over(Window.partitionBy("hr")).alias("nj"),
    )
    term = (F.col("nij").cast("double") / F.col("n")) * F.log(
        F.col("nij").cast("double")
        * F.col("n")
        / (F.col("ni").cast("double") * F.col("nj"))
    )
    return mi.agg(
        F.min("n").alias("n_events"),
        F.round(
            F.sum(F.round(term, 12).cast("decimal(18,12)")).cast("double"), 6
        ).alias("mi_nats"),
    )


# ---------------------------------------------------------------------------
# streaming_metered_ingest: drain the event stream through a metered
# foreachBatch sink; the observe-ledger totals are the scored output
# ---------------------------------------------------------------------------

_METERED_SQL = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
           AS purchases,
       CAST(SUM(CASE WHEN value < 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS negative_values
FROM events
"""


@register(
    "streaming_metered_ingest",
    _METERED_SQL,
    "streaming ingest with write-job observe metrics; ledger totals == batch truth",
    eager=True,  # materializing surface: drains a streaming query on the stream thread
)
def q_streaming_metered_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Observability as a correctness surface: drain the file-source
    event stream through a foreachBatch sink wrapped with observe()
    counters (pipelines/observability.metered_sink), then return the
    ledger TOTALS — which the oracle checks against a batch scan of the
    same fixture.  The metrics ride each micro-batch's own write job
    (no second scan), so agreement here proves the exactly-once drain
    delivered every row exactly once AND the counters are trustworthy.
    Per-epoch granularity stays in tests (epoch count depends on file
    layout); the totals are layout-independent."""
    from datalakehouse_spark.pipelines.observability import metered_sink
    from datalakehouse_spark.scratch import fresh_scratch
    from datalakehouse_spark.streaming.jobs import events_stream

    base = fresh_scratch("metered_ingest")
    out = base + "/out"

    def write_batch(batch: DataFrame, epoch_id: int) -> None:
        batch.write.mode("append").parquet(out)

    sink, ledger = metered_sink(
        write_batch,
        checks={
            "purchases": F.col("event_type") == "purchase",
            "negative_values": F.col("value") < 0,
        },
    )
    q = (
        events_stream(spark, sf_dir)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", base + "/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    totals = {
        "n_rows": sum(m["n_rows"] for m in ledger),
        "purchases": sum(m["purchases"] for m in ledger),
        "negative_values": sum(m["negative_values"] for m in ledger),
    }
    return spark.createDataFrame(
        [(totals["n_rows"], totals["purchases"], totals["negative_values"])],
        "n_rows bigint, purchases bigint, negative_values bigint",
    )


# ---------------------------------------------------------------------------
# weekly_autocorrelation: lag-7 Pearson r of the daily series
# ---------------------------------------------------------------------------

_AUTOCORR_SQL = """
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS day,
           CAST(COUNT(*) AS BIGINT) AS c
    FROM events GROUP BY 1, 2
),
pairs AS (
    SELECT d.event_type, d.c AS x, l.c AS y
    FROM daily d JOIN daily l
      ON d.event_type = l.event_type AND l.day = d.day - 7
),
s AS (
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
           CAST(SUM(x * x) AS BIGINT) AS sxx,
           CAST(SUM(y * y) AS BIGINT) AS syy,
           CAST(SUM(x * y) AS BIGINT) AS sxy
    FROM pairs GROUP BY event_type
)
SELECT event_type, n,
       round((n * sxy - sx * sy)
             / sqrt(CAST((n * sxx - sx * sx) AS DOUBLE)
                    * (n * syy - sy * sy)), 6) AS lag7_autocorr
FROM s WHERE (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
"""


@register(
    "weekly_autocorrelation",
    _AUTOCORR_SQL,
    "lag-7 autocorrelation of daily volumes (weekly-cycle detector, exact moments)",
)
def q_weekly_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does the series repeat weekly?  Pearson r between each day's
    count and the count 7 days earlier — the self-join on (type,
    day-7) runs over the tiny daily rollup, and every moment is an
    exact int64 sum of integer counts, so r is one fixed-order scalar
    expression on identical inputs in both engines (the same
    no-stddev-ulps discipline as anomaly_days)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("c")
    )
    d, l = daily.alias("d"), daily.alias("l")
    pairs = d.join(
        l,
        (F.col("d.event_type") == F.col("l.event_type"))
        & (F.col("l.day") == F.date_sub(F.col("d.day"), 7)),
    ).select(
        F.col("d.event_type").alias("event_type"),
        F.col("d.c").alias("x"),
        F.col("l.c").alias("y"),
    )
    s = pairs.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    var_x = n * F.col("sxx") - sx * sx
    var_y = n * F.col("syy") - sy * sy
    r = (n * F.col("sxy") - sx * sy) / F.sqrt(var_x.cast("double") * var_y)
    return s.where((var_x > 0) & (var_y > 0)).select(
        "event_type", "n", F.round(r, 6).alias("lag7_autocorr")
    )


# ---------------------------------------------------------------------------
# benford_first_digit: leading-digit distribution vs Benford's law
# ---------------------------------------------------------------------------

_BENFORD_SQL = """
WITH cents AS (
    SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) AS c
    FROM orders WHERE o_totalprice > 0
),
digits AS (
    -- leading digit via INTEGER-to-string: log10 on doubles differs in
    -- ulps between engines at exact powers; int formatting cannot
    SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS INTEGER) AS d
    FROM cents WHERE c > 0
),
counts AS (
    SELECT d, CAST(COUNT(*) AS BIGINT) AS n FROM digits GROUP BY d
),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM counts)
SELECT c.d AS digit, c.n,
       round(CAST(c.n AS DOUBLE) / t.total, 6) AS observed_p,
       round(ln(1.0 + 1.0 / c.d) / ln(10.0), 6) AS benford_p
FROM counts c CROSS JOIN tot t
"""


@register(
    "benford_first_digit",
    _BENFORD_SQL,
    "leading-digit distribution vs Benford's law (fraud/DQ screen)",
)
def q_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The classic anomaly screen: natural money amounts follow
    log10(1 + 1/d) leading-digit frequencies; synthetic or manipulated
    ones don't (the fixture's uniform-ish prices visibly deviate —
    that's the point of the report).  The digit is taken from the
    INTEGER cents string — a log10-based extraction differs between
    libm implementations in the last ulp exactly at powers of ten,
    while integer formatting is exact everywhere.  One scan, one
    9-row aggregate."""
    orders = load_table(spark, sf_dir, "orders")
    cents = orders.where(F.col("o_totalprice") > 0).select(
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("c")
    )
    digits = cents.where(F.col("c") > 0).select(
        F.substring(F.col("c").cast("string"), 1, 1).cast("int").alias("d")
    )
    counts = digits.groupBy("d").agg(F.count(F.lit(1)).alias("n"))
    tot = counts.agg(F.sum("n").alias("total"))
    return counts.crossJoin(F.broadcast(tot)).select(
        F.col("d").alias("digit"),
        "n",
        F.round(F.col("n").cast("double") / F.col("total"), 6).alias("observed_p"),
        F.round(
            F.log(F.lit(1.0) + F.lit(1.0) / F.col("d")) / F.log(F.lit(10.0)), 6
        ).alias("benford_p"),
    )


# ---------------------------------------------------------------------------
# ltv_deciles_pareto: revenue concentration across user-value deciles
# ---------------------------------------------------------------------------

_LTV_SQL = """
WITH ltv AS (
    SELECT user_id,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM events WHERE event_type = 'purchase'
    GROUP BY user_id
),
banded AS (
    SELECT user_id, revenue,
           NTILE(10) OVER (ORDER BY revenue DESC, user_id) AS decile
    FROM ltv
),
per_decile AS (
    SELECT decile,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(CAST(round(revenue, 2) AS DECIMAL(18,2))) AS DOUBLE)
               AS revenue
    FROM banded GROUP BY decile
),
tot AS (SELECT CAST(SUM(CAST(round(revenue, 2) AS DECIMAL(18,2))) AS DOUBLE)
            AS total FROM ltv)
SELECT d.decile, d.n_users,
       round(d.revenue, 2) AS revenue,
       round(d.revenue / t.total, 6) AS share,
       round(CAST(SUM(CAST(round(d.revenue, 2) AS DECIMAL(18,2)))
                  OVER (ORDER BY d.decile
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS DOUBLE) / t.total, 6) AS cum_share
FROM per_decile d CROSS JOIN tot t
"""


@register(
    "ltv_deciles_pareto",
    _LTV_SQL,
    "user-LTV deciles with revenue share + cumulative concentration (Pareto curve)",
    # iterative / diagnostic: range-bucket split sample + per-bucket count
    # embedded as literals (operators/ranking.py)
    eager=True,
)
def q_ltv_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration reporting: rank users by purchase LTV,
    band into deciles (user_id as the total-order tiebreak so NTILE
    splits identically in both engines), and report each band's share
    plus the cumulative Pareto curve.  Round-6 de-globalization: the
    O(users) NTILE window is now rank arithmetic on a distributed global
    row_number (``operators.ranking``), and the 10-row cumulative window
    is a broadcast triangular self-join — no unpartitioned WindowExec
    anywhere.  Per-user and per-decile sums stay decimal-staged."""
    from datalakehouse_spark.functions.numeric import dsum
    from datalakehouse_spark.operators.ranking import ntile_from_rank, with_global_rank

    ev = load_table(spark, sf_dir, "events")
    ltv = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(dsum("value").alias("revenue"))
        # four consumers, but NO persist: the groupBy(user_id) exchange
        # is identical under every branch, so Spark's ReusedExchange
        # materializes the corpus shuffle once and only the O(users)
        # reduces re-run — measured faster than a persist round-trip
    )
    n_df = ltv.agg(F.count(F.lit(1)).cast("long").alias("__n"))
    ranked = with_global_rank(
        ltv, [("revenue", False), ("user_id", True)], rank_col="__r"
    )
    banded = ranked.crossJoin(F.broadcast(n_df)).select(
        "revenue", ntile_from_rank(F.col("__r"), F.col("__n"), 10).alias("decile")
    )
    dec2 = lambda c: F.round(c, 2).cast("decimal(18,2)")  # noqa: E731
    per_decile = banded.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(dec2(F.col("revenue"))).cast("double").alias("revenue"),
    )
    tot = ltv.agg(F.sum(dec2(F.col("revenue"))).cast("double").alias("total"))
    a, b = per_decile.alias("a"), per_decile.alias("b")
    cum = (
        a.join(F.broadcast(b), F.col("b.decile") <= F.col("a.decile"))
        .groupBy(
            F.col("a.decile").alias("decile"),
            F.col("a.n_users").alias("n_users"),
            F.col("a.revenue").alias("revenue"),
        )
        .agg(F.sum(dec2(F.col("b.revenue"))).cast("double").alias("__cum"))
    )
    return cum.crossJoin(F.broadcast(tot)).select(
        "decile",
        "n_users",
        F.round("revenue", 2).alias("revenue"),
        F.round(F.col("revenue") / F.col("total"), 6).alias("share"),
        F.round(F.col("__cum") / F.col("total"), 6).alias("cum_share"),
    )


# ---------------------------------------------------------------------------
# revenue_reconciliation: header-vs-lines cross-table consistency audit
# ---------------------------------------------------------------------------

_RECON_SQL = """
WITH lines AS (
    SELECT l_orderkey,
           CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount)
                               * (1 + l_tax), 2) AS DECIMAL(18,2)))
                AS DOUBLE) AS line_total
    FROM lineitem GROUP BY l_orderkey
),
recon AS (
    SELECT o.o_orderstatus,
           abs(o.o_totalprice - COALESCE(l.line_total, 0.0)) AS diff,
           CASE WHEN l.l_orderkey IS NULL THEN 1 ELSE 0 END AS missing_lines
    FROM orders o LEFT JOIN lines l ON o.o_orderkey = l.l_orderkey
)
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(missing_lines) AS BIGINT) AS orders_without_lines,
       CAST(SUM(CASE WHEN missing_lines = 0 AND diff <= 0.01
                     THEN 1 ELSE 0 END) AS BIGINT) AS reconciled,
       round(MAX(CASE WHEN missing_lines = 0 THEN diff END), 2) AS max_diff
FROM recon GROUP BY o_orderstatus
"""


@register(
    "revenue_reconciliation",
    _RECON_SQL,
    "orders-header vs lineitem-rollup reconciliation (cross-fact DQ audit)",
)
def q_revenue_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cross-fact consistency audit every warehouse runs: does the
    order header total equal the line-level rollup?  Line extensions
    are rounded to cents and decimal-summed (exact, order-independent),
    the header join is on the natural key, and the report counts
    reconciled-within-a-cent orders, headerless mismatches, and the
    worst absolute gap per status.  One shuffle on orderkey; at 100 TB
    both facts would be bucketed on it and the join co-located."""
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    ext = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax")),
        2,
    ).cast("decimal(18,2)")
    lines = lineitem.groupBy("l_orderkey").agg(
        F.sum(ext).cast("double").alias("line_total")
    )
    recon = orders.join(
        lines, orders.o_orderkey == lines.l_orderkey, "left"
    ).select(
        "o_orderstatus",
        F.abs(
            F.col("o_totalprice") - F.coalesce("line_total", F.lit(0.0))
        ).alias("diff"),
        F.col("l_orderkey").isNull().cast("int").alias("missing_lines"),
    )
    return recon.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("missing_lines").cast("bigint").alias("orders_without_lines"),
        F.sum(
            F.when((F.col("missing_lines") == 0) & (F.col("diff") <= 0.01), 1)
            .otherwise(0)
        ).alias("reconciled"),
        F.round(
            F.max(F.when(F.col("missing_lines") == 0, F.col("diff"))), 2
        ).alias("max_diff"),
    )


# ---------------------------------------------------------------------------
# lsh_recall_accounting: measured MinHash-LSH recall against exhaustive
# Jaccard truth on a co-sampled block — completes the recall-ledger set
# (ann_recall_accounting / pq_recall_accounting cover the ANN tiers)
# ---------------------------------------------------------------------------


#: Absolute truth-block size (round-6 fix): the exhaustive-Jaccard truth
#: join is O(cap²) — a CONSTANT — at any corpus size, where the previous
#: 1/12 FRACTION sample made it O((n/12)²), quadratic at 100 TB.
_LSH_RECALL_CAP = 512


def _lsh_recall_sql() -> str:
    from datalakehouse_spark.registry_ext import _near_dup_sql

    body = _near_dup_sql()
    # shadow `documents` with the prefix-hash sample: the CTE name
    # rebinds every downstream reference while its own definition still
    # reads the base view (standard non-recursive CTE scoping)
    sample_cte = (
        # schema-qualify the base view: DuckDB treats a bare same-name
        # reference inside the CTE as circular
        "WITH documents AS (\n"
        "    SELECT * FROM main.documents\n"
        "    ORDER BY CAST(('0x' || substr(md5(substr(text, 1, 64)), 1, 15))\n"
        "             AS BIGINT), doc_id\n"
        f"    LIMIT {_LSH_RECALL_CAP}\n"
        "), "
    )
    assert body.lstrip().startswith("WITH ")
    inner = sample_cte + body.lstrip()[len("WITH ") :]
    return f"""
WITH lsh AS ({inner}),
sampled AS (
    SELECT doc_id, text FROM main.documents
    ORDER BY CAST(('0x' || substr(md5(substr(text, 1, 64)), 1, 15))
             AS BIGINT), doc_id
    LIMIT {_LSH_RECALL_CAP}
),
n2 AS (SELECT doc_id, {{toks}} AS toks FROM sampled),
s2 AS (SELECT doc_id, {{shingles}} AS sh FROM n2),
truth AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b
    FROM s2 a JOIN s2 b ON a.doc_id < b.doc_id
    WHERE len(list_filter(a.sh, x -> list_contains(b.sh, x)))
          / greatest(len(a.sh) + len(b.sh)
                     - len(list_filter(a.sh, x -> list_contains(b.sh, x))), 1)
          >= 0.6
)
SELECT CAST((SELECT COUNT(*) FROM sampled) AS BIGINT) AS n_docs,
       CAST((SELECT COUNT(*) FROM truth) AS BIGINT) AS exact_pairs,
       CAST((SELECT COUNT(*) FROM lsh) AS BIGINT) AS lsh_pairs,
       round(CAST((SELECT COUNT(*) FROM lsh) AS DOUBLE)
             / greatest(CAST((SELECT COUNT(*) FROM truth) AS DOUBLE), 1.0), 6)
           AS recall
"""


def _lsh_recall_sql_filled() -> str:
    from datalakehouse_spark.registry_ext import _SHINGLES, _TOKS

    return _lsh_recall_sql().replace("{toks}", _TOKS).replace(
        "{shingles}", _SHINGLES
    )


@register(
    "lsh_recall_accounting",
    _lsh_recall_sql_filled(),
    "MinHash-LSH recall vs exhaustive Jaccard truth on a prefix-hash sample block",
    eager=True,  # iterative / diagnostic
)
def q_lsh_recall_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup tier's recall, measured instead of assumed: on a
    content-block sample (prefix-hash ORDERED, lowest ``_LSH_RECALL_CAP``
    hashes taken — dup families share a prefix hash so they stay
    together, unlike id sampling) compute ALL Jaccard-≥0.6 pairs
    exhaustively, run the production LSH pipeline on the same docs, and
    report found/truth.  The cap is ABSOLUTE, so the exhaustive truth
    join is O(cap²) at any corpus size (round-6 fix: the prior 1/12
    fraction sample grew quadratically with the corpus).  Verified LSH
    pairs are a subset of truth (the pipeline exact-verifies
    candidates), so precision is 1.0 by construction and recall is the
    whole story — band/bucket parameters that drop it show up HERE, as
    a number, before they silently eat a corpus.  Caveat: the absolute
    cap can split a duplicate family exactly at the LIMIT boundary
    (family members share a prefix hash; the doc_id tiebreak cuts
    mid-family), slightly biasing recall on the boundary family — a
    metric-quality wrinkle, not a parity bug (both engines take the
    same deterministic 512 docs).  Sibling ledgers:
    ann_recall_accounting (hyperplane LSH), pq_recall_accounting (ADC).
    Diagnostic entry class: the three counts are eager by design."""
    from datalakehouse_spark.operators import dedup as D

    docs = load_table(spark, sf_dir, "documents")
    from datalakehouse_spark.operators.dedup import md5_hash60

    sample = (
        docs.withColumn("__h", md5_hash60(F.substring("text", 1, 64)))
        .orderBy("__h", "doc_id")
        .limit(_LSH_RECALL_CAP)
        .drop("__h")
        # a global limit lands on one partition — spread the block back
        # out before the shingle explode + LSH band join
        .repartition("doc_id")
        # the sample subtree (full-corpus orderBy + limit) fans out into
        # FIVE consumers (LSH pipeline, both jaccard legs, pair ids,
        # n_docs) — persist + count materializes it ONCE (round-7 fix:
        # the uncached form re-ran the global sort per eager action,
        # 3.84 → 5.60 s regression in round 6's bench)
        .persist()
    )
    n_docs = sample.count()
    lsh_pairs = D.near_dup_pairs(sample)
    ids = sample.select("doc_id")
    a, b = ids.alias("a"), ids.alias("b")
    all_pairs = a.join(b, F.col("a.doc_id") < F.col("b.doc_id")).select(
        F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
    )
    truth = D.jaccard_pairs(sample, all_pairs).where(F.col("jaccard") >= 0.6)
    n_truth = truth.count()
    n_lsh = lsh_pairs.count()
    sample.unpersist()
    recall = round(n_lsh / max(n_truth, 1.0), 6)
    return spark.createDataFrame(
        [(n_docs, n_truth, n_lsh, recall)],
        "n_docs bigint, exact_pairs bigint, lsh_pairs bigint, recall double",
    )


# ---------------------------------------------------------------------------
# skyline_2d: Pareto-frontier (non-dominated) customers
# ---------------------------------------------------------------------------

_SKYLINE_SQL = """
WITH activity AS (
    SELECT c.c_custkey, c.c_acctbal,
           CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders
    FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey, c.c_acctbal
),
swept AS (
    SELECT c_custkey, c_acctbal, n_orders,
           MAX(n_orders) OVER (ORDER BY c_acctbal DESC, c_custkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS best_prev
    FROM activity
)
SELECT c_custkey, round(c_acctbal, 2) AS acctbal, n_orders
FROM swept
WHERE best_prev IS NULL OR n_orders > best_prev
"""


@register(
    "skyline_2d",
    _SKYLINE_SQL,
    "2D skyline (Pareto frontier): customers non-dominated in (acctbal, order count)",
    # iterative / diagnostic: range-bucket split sample + per-bucket count
    # embedded as literals (operators/ranking.py)
    eager=True,
)
def q_skyline_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skyline operator in its 2D sweep form: sort one dimension
    descending and keep each point that beats the running MAX of the
    other — a point survives iff nothing both richer AND more active
    precedes it.  The tiebreak (c_custkey) makes the sweep total-
    ordered, so equal-balance points dominate deterministically in both
    engines.  Round 6 delivers the partition-local-skyline + merge the
    round-5 docstring promised: ``with_prefix_max`` range-buckets on
    acctbal, sweeps each bucket with a PARTITIONED window, and merges
    via the broadcast prefix-max of earlier (strictly richer) buckets —
    no single-partition WindowExec over the customer aggregate."""
    from datalakehouse_spark.operators.ranking import with_prefix_max

    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    activity = (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey", "c_acctbal")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    swept = with_prefix_max(
        activity,
        [("c_acctbal", False), ("c_custkey", True)],
        "n_orders",
        out_col="best_prev",
    )
    return swept.where(
        F.col("best_prev").isNull() | (F.col("n_orders") > F.col("best_prev"))
    ).select(
        "c_custkey", F.round("c_acctbal", 2).alias("acctbal"), "n_orders"
    )


# ---------------------------------------------------------------------------
# ab_test_ttest: deterministic assignment + Welch t on exact moments
# ---------------------------------------------------------------------------

_ABTEST_SQL = """
WITH assigned AS (
    SELECT CAST(('0x' || substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 15))
                AS BIGINT) % 2 AS arm,
           user_id
    FROM (SELECT DISTINCT user_id FROM events)
),
metrics AS (
    SELECT a.arm,
           CAST(SUM(CASE WHEN e.event_type = 'purchase'
                         THEN CAST(e.value AS DECIMAL(18,2)) END) AS DOUBLE)
               AS y
    FROM assigned a JOIN events e ON e.user_id = a.user_id
    GROUP BY a.arm, a.user_id
),
complete AS (SELECT arm, COALESCE(y, 0.0) AS y FROM metrics),
s AS (
    SELECT arm,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(round(y, 2) AS DECIMAL(18,2))) AS DOUBLE) AS sy,
           CAST(SUM(CAST(round(y * y, 4) AS DECIMAL(28,4))) AS DOUBLE) AS syy
    FROM complete GROUP BY arm
),
wide AS (
    SELECT MAX(CASE WHEN arm = 0 THEN n END) AS n0,
           MAX(CASE WHEN arm = 0 THEN sy END) AS sy0,
           MAX(CASE WHEN arm = 0 THEN syy END) AS syy0,
           MAX(CASE WHEN arm = 1 THEN n END) AS n1,
           MAX(CASE WHEN arm = 1 THEN sy END) AS sy1,
           MAX(CASE WHEN arm = 1 THEN syy END) AS syy1
    FROM s
)
SELECT CAST(n0 AS BIGINT) AS n_control, CAST(n1 AS BIGINT) AS n_treat,
       round(sy0 / n0, 6) AS mean_control,
       round(sy1 / n1, 6) AS mean_treat,
       round(sy1 / n1 - sy0 / n0, 6) AS lift,
       round((sy1 / n1 - sy0 / n0)
             / sqrt((syy0 - sy0 * sy0 / n0) / (n0 * (n0 - 1))
                    + (syy1 - sy1 * sy1 / n1) / (n1 * (n1 - 1))), 6)
           AS welch_t
FROM wide
"""


@register(
    "ab_test_ttest",
    _ABTEST_SQL,
    "hash-assigned A/B arms + Welch t-statistic on exact decimal moments",
)
def q_ab_test_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The experimentation read-out: users deterministically hash-
    assigned to arms (salted md5 — stable across reruns and engines,
    unlike rand() bucketing), per-user purchase revenue as the metric,
    Welch's t on the arm means.  All moments are cents-exact decimal
    sums (same losslessness argument as CUPED), so the t-statistic is
    one fixed-order scalar expression on identical doubles.  Shuffles:
    the user aggregate and the O(2) arm rollup."""
    from datalakehouse_spark.operators.dedup import md5_hash60

    ev = load_table(spark, sf_dir, "events")
    users = ev.select("user_id").distinct()
    assigned = users.select(
        "user_id",
        (md5_hash60(F.concat(F.lit("ab:"), F.col("user_id").cast("string"))) % 2)
        .alias("arm"),
    )
    dec = lambda c: c.cast("decimal(18,2)")  # noqa: E731
    metrics = (
        assigned.join(ev, "user_id")
        .groupBy("arm", "user_id")
        .agg(
            F.sum(
                F.when(F.col("event_type") == "purchase", dec(F.col("value")))
            )
            .cast("double")
            .alias("y")
        )
        .select("arm", F.coalesce("y", F.lit(0.0)).alias("y"))
    )
    s = metrics.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("y"), 2).cast("decimal(18,2)")).cast("double").alias("sy"),
        F.sum(F.round(F.col("y") * F.col("y"), 4).cast("decimal(28,4)"))
        .cast("double")
        .alias("syy"),
    )
    wide = s.agg(
        *[
            F.max(F.when(F.col("arm") == a, F.col(c))).alias(f"{c}{a}")
            for a in (0, 1)
            for c in ("n", "sy", "syy")
        ]
    )
    n0, sy0, syy0 = F.col("n0"), F.col("sy0"), F.col("syy0")
    n1, sy1, syy1 = F.col("n1"), F.col("sy1"), F.col("syy1")
    lift = sy1 / n1 - sy0 / n0
    se = F.sqrt(
        (syy0 - sy0 * sy0 / n0) / (n0 * (n0 - 1))
        + (syy1 - sy1 * sy1 / n1) / (n1 * (n1 - 1))
    )
    return wide.select(
        n0.cast("bigint").alias("n_control"),
        n1.cast("bigint").alias("n_treat"),
        F.round(sy0 / n0, 6).alias("mean_control"),
        F.round(sy1 / n1, 6).alias("mean_treat"),
        F.round(lift, 6).alias("lift"),
        F.round(lift / se, 6).alias("welch_t"),
    )


# ---------------------------------------------------------------------------
# triangle_count: triangles in the near-dup graph (cluster cohesion)
# ---------------------------------------------------------------------------


def _triangle_sql() -> str:
    from datalakehouse_spark.registry_ext import _near_dup_sql

    return f"""
WITH nd AS ({_near_dup_sql()}),
e AS (SELECT id_a AS a, id_b AS b FROM nd),
tri AS (
    SELECT e1.a, e1.b, e2.b AS c
    FROM e e1 JOIN e e2 ON e2.a = e1.b
    JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
)
SELECT CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_edges,
       CAST(COUNT(*) AS BIGINT) AS n_triangles,
       CAST(COUNT(DISTINCT a) + COUNT(DISTINCT b) + COUNT(DISTINCT c)
            AS BIGINT) AS corner_cardinality
FROM tri
"""


@register(
    "triangle_count",
    _triangle_sql(),
    "oriented triangle count over the near-dup graph (cluster-cohesion signal)",
    eager=True,  # iterative / diagnostic
)
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph analytics beyond PageRank/CC: triangles measure how
    CLIQUE-LIKE dup clusters are (chains of borderline pairs form few
    triangles; true duplicate families are dense).  The oriented-edge
    formulation — edges stored a<b, triangles found as two joins on
    the ordered endpoints — counts each triangle exactly once with no
    permutation blow-up, the standard distributed shape (at 100 TB
    you'd pre-partition edges by low-degree endpoint).  Edge list comes
    from the production LSH pipeline; counts are integer-exact."""
    from datalakehouse_spark.operators import dedup as D

    docs = load_table(spark, sf_dir, "documents")
    e = D.near_dup_pairs(docs).select(
        F.col("id_a").alias("a"), F.col("id_b").alias("b")
    )
    from datalakehouse_spark.materialize import materialize

    e = materialize(e)  # the LSH pipeline must not re-execute per join leg
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.a") == F.col("e1.b"))
        .join(
            e3,
            (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")),
        )
        .select(
            F.col("e1.a").alias("a"),
            F.col("e1.b").alias("b"),
            F.col("e2.b").alias("c"),
        )
    )
    n_edges = e.count()
    agg = tri.agg(
        F.count(F.lit(1)).alias("n_triangles"),
        (
            F.countDistinct("a") + F.countDistinct("b") + F.countDistinct("c")
        ).alias("corner_cardinality"),
    ).collect()[0]
    return spark.createDataFrame(
        [(n_edges, agg["n_triangles"], agg["corner_cardinality"])],
        "n_edges bigint, n_triangles bigint, corner_cardinality bigint",
    )


# ---------------------------------------------------------------------------
# chi_square_independence: classical test on the type x hour table
# ---------------------------------------------------------------------------

_CHI2_SQL = """
WITH joint AS (
    SELECT event_type, EXTRACT(HOUR FROM ts) AS hr,
           CAST(COUNT(*) AS BIGINT) AS nij
    FROM events GROUP BY 1, 2
),
tot AS (SELECT CAST(SUM(nij) AS BIGINT) AS n FROM joint),
cells AS (
    SELECT j.nij, t.n,
           CAST(SUM(j.nij) OVER (PARTITION BY j.event_type) AS BIGINT) AS ni,
           CAST(SUM(j.nij) OVER (PARTITION BY j.hr) AS BIGINT) AS nj
    FROM joint j CROSS JOIN tot t
),
terms AS (
    SELECT n,
           CAST(round(
               (nij - CAST(ni AS DOUBLE) * nj / n)
               * (nij - CAST(ni AS DOUBLE) * nj / n)
               / (CAST(ni AS DOUBLE) * nj / n), 9) AS DECIMAL(18,9)) AS t2
    FROM cells
)
SELECT CAST(MIN(n) AS BIGINT) AS n_events,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       round(CAST(SUM(t2) AS DOUBLE), 6) AS chi2
FROM terms
"""


@register(
    "chi_square_independence",
    _CHI2_SQL,
    "chi-square independence statistic on the type x hour contingency table",
)
def q_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The frequentist twin of mutual_information: Σ (O−E)²/E over the
    contingency cells, with expected counts from the margins.  Each
    cell term is a fixed-order double expression on integer counts,
    rounded at 9 decimals and decimal-summed so the cross-cell total is
    order-independent.  Same single fact aggregate as MI — the two
    statistics share their plan shape."""
    ev = load_table(spark, sf_dir, "events")
    joint = ev.groupBy("event_type", F.hour("ts").alias("hr")).agg(
        F.count(F.lit(1)).alias("nij")
    )
    tot = joint.agg(F.sum("nij").alias("n"))
    cells = joint.crossJoin(F.broadcast(tot)).select(
        "nij",
        "n",
        F.sum("nij").over(Window.partitionBy("event_type")).alias("ni"),
        F.sum("nij").over(Window.partitionBy("hr")).alias("nj"),
    )
    expected = F.col("ni").cast("double") * F.col("nj") / F.col("n")
    term = (F.col("nij") - expected) * (F.col("nij") - expected) / expected
    return cells.agg(
        F.min("n").alias("n_events"),
        F.count(F.lit(1)).alias("n_cells"),
        F.round(
            F.sum(F.round(term, 9).cast("decimal(18,9)")).cast("double"), 6
        ).alias("chi2"),
    )


# ---------------------------------------------------------------------------
# association_rules: support/confidence/lift of event-type pairs
# co-occurring within a session
# ---------------------------------------------------------------------------

_ASSOC_SQL = """
WITH ordered AS (
    SELECT user_id, event_type, epoch_us(ts) AS us, event_id,
           CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER (
                    PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
                    > 1800000000
                 OR LAG(epoch_us(ts)) OVER (
                    PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
                    IS NULL
                THEN 1 ELSE 0 END AS is_start
    FROM events
),
sess AS (
    SELECT user_id, event_type,
           CAST(SUM(is_start) OVER (PARTITION BY user_id
                ORDER BY us, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS session_no
    FROM ordered
),
baskets AS (
    SELECT DISTINCT user_id, session_no, event_type FROM sess
),
n_baskets AS (
    SELECT CAST(COUNT(DISTINCT (user_id, session_no)) AS BIGINT) AS total
    FROM baskets
),
item_counts AS (
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
    FROM baskets GROUP BY event_type
),
pair_counts AS (
    SELECT a.event_type AS lhs, b.event_type AS rhs,
           CAST(COUNT(*) AS BIGINT) AS n_both
    FROM baskets a JOIN baskets b
      ON a.user_id = b.user_id AND a.session_no = b.session_no
     AND a.event_type < b.event_type
    GROUP BY 1, 2
)
SELECT p.lhs, p.rhs, p.n_both,
       round(CAST(p.n_both AS DOUBLE) / t.total, 6) AS support,
       round(CAST(p.n_both AS DOUBLE) / l.n, 6) AS confidence,
       round(CAST(p.n_both AS DOUBLE) * t.total
             / (CAST(l.n AS DOUBLE) * r.n), 6) AS lift
FROM pair_counts p
JOIN item_counts l ON l.event_type = p.lhs
JOIN item_counts r ON r.event_type = p.rhs
CROSS JOIN n_baskets t
"""


@register(
    "association_rules",
    _ASSOC_SQL,
    "session-basket association rules: support / confidence / lift per type pair",
    eager=True,  # iterative / diagnostic
)
def q_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket analysis with sessions as baskets: distinct
    (session, type) membership, pair co-occurrence via a self equi-join
    on the session key (ordered types — each pair once), and
    support/confidence/lift as integer-ratio divisions.  The basket
    reduction is the only fact-sized shuffle; pair counts live on the
    session key, so skew is bounded by types-per-session (≤5 here,
    always small).  Apriori pruning (drop items under min-support
    before pairing) is the scale extension, unneeded at 5 types."""
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    w = Window.partitionBy("user_id").orderBy(us, "event_id")
    prev = F.lag(us).over(w)
    ordered = ev.select(
        "user_id",
        "event_type",
        us.alias("us"),
        "event_id",
        (prev.isNull() | ((us - prev) > 1_800_000_000)).cast("int").alias(
            "is_start"
        ),
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    baskets = (
        ordered.select(
            "user_id",
            "event_type",
            F.sum("is_start").over(w_run).alias("session_no"),
        )
        .distinct()
        # four consumers (total count, item counts, both pair-join legs)
        # — materialize the sessionize+distinct subtree once instead of
        # re-executing it per leg (round-7 uncached-fan-out sweep)
    )
    from datalakehouse_spark.materialize import materialize

    baskets = materialize(baskets)
    total = baskets.select("user_id", "session_no").distinct().count()
    item = baskets.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    a, b = baskets.alias("a"), baskets.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.session_no") == F.col("b.session_no"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("lhs"), F.col("b.event_type").alias("rhs")
        )
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    l = item.select(F.col("event_type").alias("lhs"), F.col("n").alias("n_l"))
    r = item.select(F.col("event_type").alias("rhs"), F.col("n").alias("n_r"))
    return (
        pairs.join(F.broadcast(l), "lhs")
        .join(F.broadcast(r), "rhs")
        .select(
            "lhs",
            "rhs",
            "n_both",
            F.round(F.col("n_both").cast("double") / F.lit(total), 6).alias(
                "support"
            ),
            F.round(F.col("n_both").cast("double") / F.col("n_l"), 6).alias(
                "confidence"
            ),
            F.round(
                F.col("n_both").cast("double")
                * F.lit(total)
                / (F.col("n_l").cast("double") * F.col("n_r")),
                6,
            ).alias("lift"),
        )
    )


# ---------------------------------------------------------------------------
# trend_slopes: OLS trend of the daily series, exact integer moments
# ---------------------------------------------------------------------------

_TREND_SQL = """
WITH daily AS (
    SELECT event_type,
           CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
                AS BIGINT) AS t,
           CAST(COUNT(*) AS BIGINT) AS y
    FROM events GROUP BY 1, 2
),
s AS (
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(t) AS BIGINT) AS st, CAST(SUM(y) AS BIGINT) AS sy,
           CAST(SUM(t * t) AS BIGINT) AS stt,
           CAST(SUM(y * y) AS BIGINT) AS syy,
           CAST(SUM(t * y) AS BIGINT) AS sty
    FROM daily GROUP BY event_type
)
SELECT event_type, n,
       round(CAST(n * sty - st * sy AS DOUBLE) / (n * stt - st * st), 6)
           AS slope_per_day,
       round((CAST(sy AS DOUBLE) - CAST(n * sty - st * sy AS DOUBLE)
              / (n * stt - st * st) * st) / n, 6) AS intercept,
       round(CAST(n * sty - st * sy AS DOUBLE) * (n * sty - st * sy)
             / (CAST(n * stt - st * st AS DOUBLE) * (n * syy - sy * sy)), 6)
           AS r2
FROM s WHERE (n * stt - st * st) > 0 AND (n * syy - sy * sy) > 0
"""


@register(
    "trend_slopes",
    _TREND_SQL,
    "per-type OLS daily trend (slope / intercept / r^2 on exact int64 moments)",
)
def q_trend_slopes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Is the series growing?  Least-squares slope of daily volume
    against the day index — every moment (Σt, Σy, Σt², Σty, Σy²) is an
    exact int64 sum over the tiny daily rollup, so slope, intercept and
    r² are fixed-order scalar expressions with zero cross-engine
    drift.  The regression family's distributed shape: one fact
    rollup, moments as map-side partials, O(groups) arithmetic."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
        .cast("bigint")
        .alias("t"),
    ).agg(F.count(F.lit(1)).alias("y"))
    s = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("t").alias("st"),
        F.sum("y").alias("sy"),
        F.sum(F.col("t") * F.col("t")).alias("stt"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("t") * F.col("y")).alias("sty"),
    )
    n, st, sy = F.col("n"), F.col("st"), F.col("sy")
    stt, syy, sty = F.col("stt"), F.col("syy"), F.col("sty")
    cov_n = n * sty - st * sy
    var_t = n * stt - st * st
    var_y = n * syy - sy * sy
    slope = cov_n.cast("double") / var_t
    return s.where((var_t > 0) & (var_y > 0)).select(
        "event_type",
        "n",
        F.round(slope, 6).alias("slope_per_day"),
        F.round((sy.cast("double") - slope * st) / n, 6).alias("intercept"),
        F.round(
            cov_n.cast("double") * cov_n / (var_t.cast("double") * var_y), 6
        ).alias("r2"),
    )


# ---------------------------------------------------------------------------
# cusum_changepoint: integer-exact CUSUM shift detection per series
# ---------------------------------------------------------------------------

_CUSUM_SQL = """
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS day,
           CAST(COUNT(*) AS BIGINT) AS c
    FROM events GROUP BY 1, 2
),
stats AS (
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(c) AS BIGINT) AS s
    FROM daily GROUP BY event_type
),
cusum AS (
    SELECT d.event_type, d.day,
           CAST(SUM(d.c * st.n - st.s) OVER (PARTITION BY d.event_type
                ORDER BY d.day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS k,          -- n * CUSUM_t (scaled to stay integer)
           st.n, st.s
    FROM daily d JOIN stats st ON d.event_type = st.event_type
),
peak AS (
    SELECT event_type,
           MAX({'m': abs(k), 'day': day}) AS best,
           CAST(MIN(n) AS BIGINT) AS n, CAST(MIN(s) AS BIGINT) AS s
    FROM cusum GROUP BY event_type
)
SELECT event_type,
       best.day AS changepoint_day,
       round(CAST(best.m AS DOUBLE) / n, 6) AS max_abs_cusum
FROM peak
"""


@register(
    "cusum_changepoint",
    _CUSUM_SQL,
    "CUSUM level-shift detection: argmax |cumulative deviation|, integer-exact",
)
def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Where did the series change level?  CUSUM_t = Σ(c_i − mean)
    peaks at the shift point; scaling by n keeps every partial sum an
    exact int64 (n·c_i − S), so the argmax cannot flip on float error
    — the same exactness discipline as anomaly_days/trend_slopes.  The
    argmax itself is a struct-MAX aggregate ((|k|, day) pairs — one
    hash aggregate, no second window or self-join), and the running
    sum rides the per-type window over the daily rollup."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("c")
    )
    stats = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum("c").alias("s")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cusum = daily.join(F.broadcast(stats), "event_type").select(
        "event_type",
        "day",
        F.sum(F.col("c") * F.col("n") - F.col("s")).over(w).alias("k"),
        "n",
    )
    peak = cusum.groupBy("event_type").agg(
        F.max(F.struct(F.abs("k").alias("m"), F.col("day").alias("day"))).alias(
            "best"
        ),
        F.min("n").alias("n"),
    )
    return peak.select(
        "event_type",
        F.col("best.day").alias("changepoint_day"),
        F.round(F.col("best.m").cast("double") / F.col("n"), 6).alias(
            "max_abs_cusum"
        ),
    )


# ---------------------------------------------------------------------------
# dup_graph_degrees: degree distribution of the near-dup graph
# ---------------------------------------------------------------------------


def _dup_degree_sql() -> str:
    from datalakehouse_spark.registry_ext import _near_dup_sql

    return f"""
WITH nd AS ({_near_dup_sql()}),
deg AS (
    SELECT v, CAST(COUNT(*) AS BIGINT) AS degree FROM (
        SELECT id_a AS v FROM nd UNION ALL SELECT id_b FROM nd
    ) GROUP BY v
)
SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_nodes
FROM deg GROUP BY degree
"""


@register(
    "dup_graph_degrees",
    _dup_degree_sql(),
    "degree distribution of the near-dup graph (boilerplate hub detector)",
    eager=True,  # iterative / diagnostic
)
def q_dup_graph_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup graph's shape in one histogram: a heavy-degree tail
    means boilerplate hubs (one template matching hundreds of docs) —
    the exact condition that melts bucket joins and motivates the
    hot-bucket salting in operators/dedup.  Degrees via UNION ALL of
    both edge endpoints + one hash aggregate; the histogram is a second
    tiny aggregate.  Watching this distribution drift across crawl
    snapshots is how a 100 TB pipeline notices template spam early."""
    from datalakehouse_spark.operators import dedup as D

    docs = load_table(spark, sf_dir, "documents")
    from datalakehouse_spark.materialize import materialize

    e = materialize(D.near_dup_pairs(docs))
    deg = (
        e.select(F.col("id_a").alias("v"))
        .unionAll(e.select(F.col("id_b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_nodes"))


# ---------------------------------------------------------------------------
# gini_coefficient: revenue inequality, exact rank formulation
# ---------------------------------------------------------------------------

_GINI_SQL = """
WITH ltv AS (
    SELECT user_id,
           CAST(SUM(CASE WHEN event_type = 'purchase'
                         THEN CAST(value AS DECIMAL(18,2)) ELSE
                         CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS y
    FROM events GROUP BY user_id
),
ranked AS (
    SELECT y, ROW_NUMBER() OVER (ORDER BY y, user_id) AS i FROM ltv
),
s AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(round(y, 2) AS DECIMAL(18,2))) AS DOUBLE) AS sy,
           CAST(SUM(CAST(round(i * y, 2) AS DECIMAL(28,2))) AS DOUBLE) AS siy
    FROM ranked
)
SELECT n, round(sy, 2) AS total_revenue,
       round(2.0 * siy / (n * sy) - CAST(n + 1 AS DOUBLE) / n, 6) AS gini
FROM s
"""


@register(
    "gini_coefficient",
    _GINI_SQL,
    "Gini coefficient of per-user purchase revenue (exact rank formulation)",
    # iterative / diagnostic: range-bucket split sample + per-bucket count
    # embedded as literals (operators/ranking.py)
    eager=True,
)
def q_gini_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inequality in one number (the Pareto deciles' scalar summary):
    G = 2·Σ(i·y_i)/(n·Σy) − (n+1)/n over ascending-ranked revenues.
    The rank is total-ordered by (y, user_id) so ties break identically
    in both engines; i·y of a cents-exact double is itself cents-exact,
    so both moment sums stage losslessly into DECIMAL.  One user
    aggregate, one DISTRIBUTED global rank over users (round-7 fix: the
    previous ``Window.orderBy`` funneled every user through one task —
    ``ranking.with_global_rank`` range-buckets instead), one scalar row
    out."""
    from pyspark.sql import functions as F

    from datalakehouse_spark.operators.ranking import with_global_rank

    ev = load_table(spark, sf_dir, "events")
    dec = lambda c: c.cast("decimal(18,2)")  # noqa: E731
    ltv = ev.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("event_type") == "purchase", dec(F.col("value"))).otherwise(
                F.lit(0).cast("decimal(18,2)")
            )
        )
        .cast("double")
        .alias("y")
    )
    # cache=True: the bucketed frame is O(users) rows — one
    # checkpointed materialization costs far less than re-running the
    # corpus scan + user aggregate for the bucket-count branch
    ranked = with_global_rank(
        ltv, [("y", True), ("user_id", True)], rank_col="i", cache=True
    ).select("y", "i")
    s = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("y"), 2).cast("decimal(18,2)")).cast("double").alias("sy"),
        F.sum(F.round(F.col("i") * F.col("y"), 2).cast("decimal(28,2)"))
        .cast("double")
        .alias("siy"),
    )
    n, sy, siy = F.col("n"), F.col("sy"), F.col("siy")
    return s.select(
        "n",
        F.round(sy, 2).alias("total_revenue"),
        F.round(
            F.lit(2.0) * siy / (n * sy) - (n + 1).cast("double") / n, 6
        ).alias("gini"),
    )


# ---------------------------------------------------------------------------
# zipf_token_ranks: rank-frequency law check over the corpus vocabulary
# ---------------------------------------------------------------------------

_ZIPF_SQL = """
WITH toks AS (
    SELECT unnest(string_split(text, ' ')) AS tok FROM documents
),
counts AS (
    SELECT tok, CAST(COUNT(*) AS BIGINT) AS freq
    FROM toks WHERE tok <> '' GROUP BY tok
),
ranked AS (
    SELECT tok, freq,
           ROW_NUMBER() OVER (ORDER BY freq DESC, tok) AS rank
    FROM counts
)
SELECT rank, tok, freq,
       round(ln(CAST(rank AS DOUBLE)), 6) AS ln_rank,
       round(ln(CAST(freq AS DOUBLE)), 6) AS ln_freq
FROM ranked WHERE rank <= 50
"""


@register(
    "zipf_token_ranks",
    _ZIPF_SQL,
    "token rank-frequency table (Zipf-law check; natural text ~ slope -1 in log-log)",
)
def q_zipf_token_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-linguistics sanity check: natural language follows
    freq ∝ 1/rank (slope ≈ −1 in log-log); synthetic or template-heavy
    corpora visibly deviate, which makes this a cheap generation-vs-
    crawl discriminator.  One token explode + hash aggregate; round-6
    de-globalization: the top-50 is taken FIRST (orderBy+limit compiles
    to TakeOrderedAndProject — per-partition heaps, never a full-vocab
    single-partition row_number window), then the 50 survivors are
    ranked by a broadcast triangular self-join (rank = 1 + #dominators),
    so ranking cost is O(50²) at any corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(F.split("text", " ")).alias("tok")).where(
        F.col("tok") != ""
    )
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("freq"))
    top = counts.orderBy(F.col("freq").desc(), F.col("tok")).limit(50)
    a, b = top.alias("a"), top.alias("b")
    dominates = (F.col("b.freq") > F.col("a.freq")) | (
        (F.col("b.freq") == F.col("a.freq")) & (F.col("b.tok") < F.col("a.tok"))
    )
    ranked = (
        a.join(F.broadcast(b), dominates, "left")
        .groupBy(F.col("a.tok").alias("tok"), F.col("a.freq").alias("freq"))
        .agg((F.count(F.col("b.tok")) + 1).cast("int").alias("rank"))
    )
    return ranked.select(
        "rank",
        "tok",
        "freq",
        F.round(F.log(F.col("rank").cast("double")), 6).alias("ln_rank"),
        F.round(F.log(F.col("freq").cast("double")), 6).alias("ln_freq"),
    )


# ---------------------------------------------------------------------------
# kmeans_inertia_sweep: elbow accounting — within-cluster SS vs k
# ---------------------------------------------------------------------------

_INERTIA_KS = (2, 4, 8)
_INERTIA_ITERS = 2


def _inertia_sweep_sql() -> str:
    from datalakehouse_spark.registry_ext import _ivf_assign_parts

    sqdist = (
        "list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        "[(CAST(e.embedding[i] AS DOUBLE) - c.centroid[i]) * "
        "(CAST(e.embedding[i] AS DOUBLE) - c.centroid[i]) FOR i IN range(1, 65)]),"
        " (x, y) -> x + y)"
    )
    T = _INERTIA_ITERS
    branches = []
    for k in _INERTIA_KS:
        parts = " ".join(_ivf_assign_parts(k, T))
        branches.append(
            f"""(
    WITH {parts},
    mins AS (
        SELECT e.vec_id, MIN({sqdist}) AS m
        FROM a0 e CROSS JOIN cent{T} c GROUP BY e.vec_id
    )
    SELECT {k} AS k,
           CAST((SELECT COUNT(DISTINCT cluster) FROM a{T}) AS BIGINT)
               AS n_clusters,
           round(CAST(SUM(CAST(round(m, 9) AS DECIMAL(28,9))) AS DOUBLE), 6)
               AS inertia
    FROM mins
)"""
        )
    return "\nUNION ALL\n".join(branches)


@register(
    "kmeans_inertia_sweep",
    _inertia_sweep_sql(),
    f"k-means elbow sweep: within-cluster SS at k={_INERTIA_KS} (seeded builds replayed)",
    eager=True,  # build/serve split
    min_of_3=True,
)
def q_kmeans_inertia_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How many coarse clusters should the IVF index use?  The elbow
    curve — within-cluster sum of squares after the same seeded Lloyd
    build at each candidate k — answers it with data.  Round-7 fusion:
    all candidate ks share one tagged pass per Lloyd iteration
    (``kmeans_elbow_sweep``), so the sweep reads the corpus iters+1
    times total instead of |ks|×(iters+2) — same seeded math per k,
    per-vector minima decimal-staged, and the oracle replays every
    build in subquery-scoped CTE chains.  BUILD-time advisory job, not
    a serving path."""
    from datalakehouse_spark.operators.similarity import kmeans_elbow_sweep

    emb = load_table(spark, sf_dir, "embeddings")
    return kmeans_elbow_sweep(emb, _INERTIA_KS, iters=_INERTIA_ITERS)


# ---------------------------------------------------------------------------
# source_vocab_overlap: pairwise vocabulary Jaccard between sources
# ---------------------------------------------------------------------------

_VOCAB_OVERLAP_SQL = """
WITH st AS (
    SELECT DISTINCT source, unnest(string_split(text, ' ')) AS tok
    FROM documents
),
clean AS (SELECT source, tok FROM st WHERE tok <> ''),
sizes AS (
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_vocab
    FROM clean GROUP BY source
),
inter AS (
    SELECT a.source AS src_a, b.source AS src_b,
           CAST(COUNT(*) AS BIGINT) AS n_common
    FROM clean a JOIN clean b
      ON a.tok = b.tok AND a.source < b.source
    GROUP BY 1, 2
)
SELECT i.src_a, i.src_b, i.n_common,
       round(CAST(i.n_common AS DOUBLE)
             / (sa.n_vocab + sb.n_vocab - i.n_common), 6) AS vocab_jaccard
FROM inter i
JOIN sizes sa ON sa.source = i.src_a
JOIN sizes sb ON sb.source = i.src_b
"""


@register(
    "source_vocab_overlap",
    _VOCAB_OVERLAP_SQL,
    "pairwise vocabulary Jaccard between sources (corpus-diversity matrix)",
)
def q_source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix diversity at the vocabulary level: two sources with
    near-identical vocabularies add less than their row counts suggest.
    The (source, token) distinct reduction is the fact-sized shuffle;
    intersections come from ONE self equi-join on the token key
    (each token contributes its source-pair combinations), and the
    Jaccard denominators join in from the tiny per-source sizes.  At
    real vocabulary scale the token join key is hashed 60-bit (as in
    shingle_novelty_daily) — strings are fine at fixture vocab size."""
    docs = load_table(spark, sf_dir, "documents")
    st = (
        docs.select("source", F.explode(F.split("text", " ")).alias("tok"))
        .where(F.col("tok") != "")
        .distinct()
    )
    sizes = st.groupBy("source").agg(F.count(F.lit(1)).alias("n_vocab"))
    a, b = st.alias("a"), st.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("source").alias("src_a"), F.col("n_vocab").alias("na"))
    sb = sizes.select(F.col("source").alias("src_b"), F.col("n_vocab").alias("nb"))
    return (
        inter.join(F.broadcast(sa), "src_a")
        .join(F.broadcast(sb), "src_b")
        .select(
            "src_a",
            "src_b",
            "n_common",
            F.round(
                F.col("n_common").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_common")),
                6,
            ).alias("vocab_jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# corpus_health_report: one-row dashboard over the hygiene metrics
# ---------------------------------------------------------------------------


def _corpus_health_sql() -> str:
    from datalakehouse_spark.registry_ext import _LANGID_SQL

    return f"""
WITH exact_groups AS (
    SELECT text, CAST(COUNT(*) AS BIGINT) AS n FROM documents GROUP BY text
),
pred AS ({_LANGID_SQL}),
lang_match AS (
    SELECT CAST(SUM(CASE WHEN d.lang = p.lang_pred THEN 1 ELSE 0 END)
                AS BIGINT) AS n_match,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM documents d JOIN pred p ON d.doc_id = p.doc_id
)
SELECT CAST((SELECT SUM(n) FROM exact_groups) AS BIGINT) AS n_docs,
       CAST((SELECT COUNT(*) FROM exact_groups) AS BIGINT) AS n_unique_texts,
       round(1.0 - CAST((SELECT COUNT(*) FROM exact_groups) AS DOUBLE)
                   / (SELECT SUM(n) FROM exact_groups), 6) AS exact_dup_rate,
       round(CAST((SELECT n_match FROM lang_match) AS DOUBLE)
             / (SELECT n FROM lang_match), 6) AS langid_accuracy,
       CAST((SELECT SUM(n_chars) FROM documents) AS BIGINT) AS total_chars,
       round(CAST((SELECT SUM(n_chars) FROM documents) AS DOUBLE)
             / (SELECT SUM(n) FROM exact_groups), 6) AS mean_chars
"""


@register(
    "corpus_health_report",
    _corpus_health_sql(),
    "one-row corpus dashboard: dup rate, langid accuracy, size stats",
    eager=True,  # iterative / diagnostic
)
def q_corpus_health_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The top-of-dashboard scalar row a corpus pipeline publishes per
    snapshot: exact-duplication rate (1 − unique/total), language-ID
    accuracy against labels, and size aggregates — each an O(1)-output
    aggregate over one scan (the exact-dup reduction is the only
    shuffle; langid is scan-fused).  Deeper tiers (LSH clusters, chunk
    dups) have their own entries; this row is the cheap every-snapshot
    pulse.  Round-7 plan fix: lang_pred is a scan-fused expression, so
    the accuracy term needs NO self-join, and the per-row measures
    (count, chars, langid matches) ride ON the exact-dup groupBy's
    partial aggregates — the whole report is ONE scan + one shuffle +
    a 1-row rollup, down from three separate passes plus a join."""
    from datalakehouse_spark.operators import textstats as TS

    docs = load_table(spark, sf_dir, "documents")
    pred = TS.langid_df(docs)  # adds lang_pred as a pure column expression
    groups = pred.groupBy("text").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_chars").alias("chars"),
        F.sum((F.col("lang") == F.col("lang_pred")).cast("long")).alias("match"),
    )
    g = groups.agg(
        F.sum("n").alias("n_docs"),
        F.count(F.lit(1)).alias("n_unique"),
        F.sum("chars").alias("chars"),
        F.sum("match").alias("n_match"),
    ).first()
    return spark.createDataFrame(
        [
            (
                g["n_docs"],
                g["n_unique"],
                round(1.0 - g["n_unique"] / g["n_docs"], 6),
                round(g["n_match"] / g["n_docs"], 6),
                g["chars"],
                round(g["chars"] / g["n_docs"], 6),
            )
        ],
        "n_docs bigint, n_unique_texts bigint, exact_dup_rate double, "
        "langid_accuracy double, total_chars bigint, mean_chars double",
    )


# ---------------------------------------------------------------------------
# order_aging_report: open-pipeline aging buckets
# ---------------------------------------------------------------------------

_AGING_SQL = """
WITH anchor AS (
    SELECT MAX(CAST(o_orderdate AS DATE)) AS maxd FROM orders
),
aged AS (
    SELECT o.o_orderstatus,
           CAST(date_diff('day', CAST(o.o_orderdate AS DATE), a.maxd)
                AS BIGINT) AS age_days,
           o.o_totalprice
    FROM orders o CROSS JOIN anchor a
),
bucketed AS (
    SELECT o_orderstatus,
           CASE WHEN age_days < 30 THEN '0-29'
                WHEN age_days < 90 THEN '30-89'
                WHEN age_days < 365 THEN '90-364'
                ELSE '365+' END AS age_bucket,
           o_totalprice
    FROM aged
)
SELECT o_orderstatus, age_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM bucketed GROUP BY o_orderstatus, age_bucket
"""


@register(
    "order_aging_report",
    _AGING_SQL,
    "order aging buckets per status (receivables-style pipeline report)",
)
def q_order_aging_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The receivables/aging report shape: bucket every order's age
    (relative to the data's own max date — reproducible, no wall
    clock) into standard bands per status, with decimal-staged value
    totals.  The scalar max-date anchors via a broadcast cross join;
    the bucketing is one CASE projection and one hash aggregate."""
    from datalakehouse_spark.functions.numeric import dsum

    orders = load_table(spark, sf_dir, "orders")
    anchor = orders.agg(F.max(F.to_date("o_orderdate")).alias("maxd"))
    aged = orders.crossJoin(F.broadcast(anchor)).select(
        "o_orderstatus",
        F.datediff("maxd", F.to_date("o_orderdate")).cast("bigint").alias(
            "age_days"
        ),
        "o_totalprice",
    )
    bucket = (
        F.when(F.col("age_days") < 30, "0-29")
        .when(F.col("age_days") < 90, "30-89")
        .when(F.col("age_days") < 365, "90-364")
        .otherwise("365+")
    )
    return aged.select(
        "o_orderstatus", bucket.alias("age_bucket"), "o_totalprice"
    ).groupBy("o_orderstatus", "age_bucket").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice").alias("total_value"),
    )


# ---------------------------------------------------------------------------
# spatial_knn: k nearest fixes to a query point (deterministic ranking)
# ---------------------------------------------------------------------------

_SKNN_LAT0, _SKNN_LON0 = -10.0, -70.0
_SKNN_COS = 0.984807753012208  # cos(10°) as an exact double literal

_SPATIAL_KNN_SQL = f"""
WITH pts AS (
    SELECT event_id, user_id,
           (value / 5 - 20) AS lat, (value - 120) AS lon
    FROM events
),
scored AS (
    SELECT event_id, user_id,
           (lat - ({_SKNN_LAT0!r})) * (lat - ({_SKNN_LAT0!r}))
           + ((lon - ({_SKNN_LON0!r})) * {_SKNN_COS!r})
             * ((lon - ({_SKNN_LON0!r})) * {_SKNN_COS!r}) AS d2
    FROM pts
)
SELECT event_id, user_id, round(d2, 9) AS approx_deg2
FROM scored
ORDER BY d2, event_id
LIMIT 20
"""


@register(
    "spatial_knn",
    _SPATIAL_KNN_SQL,
    "20 nearest GPS fixes to a query point (equirectangular ranking, TakeOrdered)",
)
def q_spatial_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial nearest-neighbor serving: rank by the equirectangular
    approximation (Δlat² + (Δlon·cos φ₀)²) — every term is plain double
    arithmetic with literal constants, so the ORDER BY is bit-identical
    across engines, unlike trig haversine whose libm-vs-JVM ulps could
    swap tie-adjacent ranks (the trip metrics round aggregates away
    from that; a top-k ORDER BY cannot).  Plan: narrow projection into
    TakeOrderedAndProject, no shuffle; at scale the pre-filter is the
    grid_density cell index (query cell ± neighbors)."""
    ev = load_table(spark, sf_dir, "events")
    lat = F.col("value") / 5 - 20
    lon = F.col("value") - 120
    dlat = lat - F.lit(_SKNN_LAT0)
    dlon = (lon - F.lit(_SKNN_LON0)) * F.lit(_SKNN_COS)
    d2 = dlat * dlat + dlon * dlon
    return (
        ev.select("event_id", "user_id", d2.alias("d2"))
        .orderBy(F.col("d2"), F.col("event_id"))
        .limit(20)
        .select("event_id", "user_id", F.round("d2", 9).alias("approx_deg2"))
    )


# ---------------------------------------------------------------------------
# basket_size_distribution: lineitems-per-order profile
# ---------------------------------------------------------------------------

_BASKET_SQL = """
WITH sizes AS (
    SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS n_items
    FROM lineitem GROUP BY l_orderkey
)
SELECT n_items,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(n_items) AS BIGINT) AS n_lineitems
FROM sizes GROUP BY n_items
"""


@register(
    "basket_size_distribution",
    _BASKET_SQL,
    "lineitems-per-order histogram (basket profile / join-size estimator input)",
)
def q_basket_size_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-size profile — operationally, the distribution a CBO uses
    to size the orders⋈lineitem join and a planner uses to spot basket
    anomalies.  Two hash aggregates (order rollup, then the tiny
    histogram), integer-exact."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    sizes = lineitem.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("n_items"))
    return sizes.groupBy("n_items").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("n_items").alias("n_lineitems"),
    )


# ---------------------------------------------------------------------------
# repeat_purchase_intervals: inter-purchase gap statistics
# ---------------------------------------------------------------------------

_REPEAT_SQL = """
WITH purchases AS (
    SELECT user_id, epoch_us(ts) AS us, event_id FROM events
    WHERE event_type = 'purchase'
),
gaps AS (
    SELECT user_id,
           us - LAG(us) OVER (PARTITION BY user_id
                              ORDER BY us, event_id) AS gap_us
    FROM purchases
),
per_user AS (
    SELECT user_id, gap_us,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY gap_us) AS rn,
           COUNT(*) OVER (PARTITION BY user_id) AS n
    FROM gaps WHERE gap_us IS NOT NULL
),
medians AS (
    SELECT user_id,
           CAST(MIN(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT)
                         THEN gap_us END) AS BIGINT) AS med_us
    FROM per_user GROUP BY user_id
),
ranked AS (
    SELECT med_us,
           ROW_NUMBER() OVER (ORDER BY med_us) AS rn,
           COUNT(*) OVER () AS n
    FROM medians
)
SELECT CAST(MIN(n) AS BIGINT) AS n_users,
       CAST(MIN(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT)
                     THEN med_us END) AS DOUBLE) / 86400000000.0
           AS median_of_median_days,
       round(CAST(SUM(CAST(med_us AS DECIMAL(28,0))) AS DOUBLE)
             / (CAST(MIN(n) AS DOUBLE) * 86400000000.0), 6)
           AS mean_median_days
FROM ranked
"""


@register(
    "repeat_purchase_intervals",
    _REPEAT_SQL,
    "inter-purchase gap statistics (per-user order-statistic medians)",
    # iterative / diagnostic: range-bucket split sample + per-bucket count
    # embedded as literals (operators/ranking.py)
    eager=True,
)
def q_repeat_purchase_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchase-cadence metric: per-user median gap between consecutive
    purchases (LAG over the purchase stream, order-statistic pick in
    integer microseconds), summarized as the median and mean of those
    medians.  Every quantile is an exact integer order statistic (the
    time_to_convert discipline); the mean stages the integer gaps into
    DECIMAL.  The cross-user median pick uses the distributed global
    rank (``ranking.with_global_rank``), not a single-partition
    window."""
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", us.alias("us"), "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    gaps = purchases.select(
        "user_id", (F.col("us") - F.lag("us").over(w)).alias("gap_us")
    ).where(F.col("gap_us").isNotNull())
    wu = Window.partitionBy("user_id")
    per_user = gaps.select(
        "user_id",
        "gap_us",
        F.row_number().over(wu.orderBy("gap_us")).alias("rn"),
        F.count(F.lit(1)).over(wu).alias("n"),
    )
    medians = per_user.groupBy("user_id").agg(
        F.min(
            F.when(
                F.col("rn") == F.ceil(F.lit(0.5) * F.col("n")).cast("bigint"),
                F.col("gap_us"),
            )
        ).alias("med_us")
    )
    # Cross-user median pick, distributed (round-7 fix: the previous
    # Window.orderBy + COUNT() OVER () pair funneled O(users) medians
    # through one task).  The rank is total-ordered by (med_us, user_id);
    # ties share the med_us VALUE, so the rn==ceil(n/2) pick is
    # unchanged.  n is a 1-row aggregate broadcast back.
    from datalakehouse_spark.operators.ranking import with_global_rank

    n_df = medians.agg(F.count(F.lit(1)).cast("long").alias("n"))
    ranked = with_global_rank(
        medians, [("med_us", True), ("user_id", True)], rank_col="rn", cache=True
    ).select("med_us", "rn").crossJoin(F.broadcast(n_df))
    day_us = 86_400_000_000.0
    return ranked.agg(
        F.min("n").alias("n_users"),
        (
            F.min(
                F.when(
                    F.col("rn") == F.ceil(F.lit(0.5) * F.col("n")).cast("bigint"),
                    F.col("med_us"),
                )
            ).cast("double")
            / day_us
        ).alias("median_of_median_days"),
        F.round(
            F.sum(F.col("med_us").cast("decimal(28,0)")).cast("double")
            / (F.min("n").cast("double") * day_us),
            6,
        ).alias("mean_median_days"),
    )


# ---------------------------------------------------------------------------
# forecast_accuracy: MdAPE of the EWMA one-day-ahead forecast
# ---------------------------------------------------------------------------

_FC_NUM = _EWMA_NUM.replace("x0", "p0").replace("x1", "p1").replace(
    "x2", "p2"
).replace("x3", "p3").replace("x4", "p4").replace("x5", "p5").replace("x6", "p6")
_FC_DEN = _EWMA_DEN.replace("x0", "p0").replace("x1", "p1").replace(
    "x2", "p2"
).replace("x3", "p3").replace("x4", "p4").replace("x5", "p5").replace("x6", "p6")

_FORECAST_SQL = f"""
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS day,
           CAST(COUNT(*) AS DOUBLE) AS n
    FROM events GROUP BY 1, 2
),
taps AS (
    SELECT event_type, day, n,
           {", ".join(
               f"LAG(n, {k + 1}) OVER (PARTITION BY event_type ORDER BY day) AS p{k}"
               for k in range(len(_EWMA_TAPS))
           )}
    FROM daily
),
scored AS (
    -- one-day-ahead: today's forecast uses ONLY days t-1..t-7
    SELECT event_type, n,
           ({_FC_NUM}) / ({_FC_DEN}) AS pred
    FROM taps WHERE p0 IS NOT NULL
),
apes AS (
    SELECT event_type, abs(n - pred) / n AS ape FROM scored WHERE n > 0
),
ranked AS (
    SELECT event_type, ape,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY ape) AS rn,
           COUNT(*) OVER (PARTITION BY event_type) AS cnt
    FROM apes
)
SELECT event_type,
       CAST(MIN(cnt) AS BIGINT) AS n_forecasts,
       round(MIN(CASE WHEN rn = CAST(ceil(0.5 * cnt) AS BIGINT)
                      THEN ape END), 6) AS mdape,
       round(MAX(ape), 6) AS worst_ape
FROM ranked GROUP BY event_type
"""


@register(
    "forecast_accuracy",
    _FORECAST_SQL,
    "MdAPE of the EWMA one-day-ahead forecast (backtest over the fixture window)",
)
def q_forecast_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closes the forecasting loop: the same EWMA taps as ewma_daily,
    shifted one day so each prediction sees only the past, backtested
    against actuals as median absolute percentage error (median — an
    order statistic — not mean, so one blowup day can't dominate and
    no interpolation ulps can flip it).  Per-type windows over the
    daily rollup; APE is two IEEE ops in fixed order."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("double").alias("n")
    )
    w = Window.partitionBy("event_type").orderBy("day")
    taps = daily.select(
        "event_type",
        "day",
        "n",
        *[
            F.lag("n", k + 1).over(w).alias(f"p{k}")
            for k in range(len(_EWMA_TAPS))
        ],
    )
    num = None
    den = None
    for k, wt in enumerate(_EWMA_TAPS):
        pk = F.col(f"p{k}")
        tap_n = F.when(pk.isNull(), F.lit(0.0)).otherwise(F.lit(wt) * pk)
        tap_d = F.when(pk.isNull(), F.lit(0.0)).otherwise(F.lit(wt))
        num = tap_n if num is None else num + tap_n
        den = tap_d if den is None else den + tap_d
    scored = taps.where(F.col("p0").isNotNull()).select(
        "event_type", "n", (num / den).alias("pred")
    )
    apes = scored.where(F.col("n") > 0).select(
        "event_type", (F.abs(F.col("n") - F.col("pred")) / F.col("n")).alias("ape")
    )
    wt_ = Window.partitionBy("event_type")
    ranked = apes.select(
        "event_type",
        "ape",
        F.row_number().over(wt_.orderBy("ape")).alias("rn"),
        F.count(F.lit(1)).over(wt_).alias("cnt"),
    )
    return ranked.groupBy("event_type").agg(
        F.min("cnt").alias("n_forecasts"),
        F.round(
            F.min(
                F.when(
                    F.col("rn") == F.ceil(F.lit(0.5) * F.col("cnt")).cast("bigint"),
                    F.col("ape"),
                )
            ),
            6,
        ).alias("mdape"),
        F.round(F.max("ape"), 6).alias("worst_ape"),
    )


# ---------------------------------------------------------------------------
# semantic_dedup: SemDeDup — cluster-scoped embedding-cosine dedup (round 8)
# ---------------------------------------------------------------------------

_SEMDEDUP_TAU = 0.15


def _semantic_dedup_sql() -> str:
    from datalakehouse_spark.registry_ext import _ivf_assign_parts

    dot = (
        "list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        "[CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE) "
        "FOR i IN range(1, 65)]), (x, y) -> x + y)"
    )
    norm = lambda t: (  # noqa: E731
        "sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        f"[CAST({t}.embedding[i] AS DOUBLE) * CAST({t}.embedding[i] AS DOUBLE) "
        "FOR i IN range(1, 65)]), (x, y) -> x + y))"
    )
    return f"""
WITH {" ".join(_ivf_assign_parts(k=8, iters=2))},
sub AS (SELECT vec_id, embedding, cluster FROM a2 WHERE vec_id % 10 = 0),
dropped AS (
    SELECT DISTINCT b.cluster, b.vec_id
    FROM sub a JOIN sub b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
    WHERE round({dot} / ({norm('a')} * {norm('b')}), 9) >= {_SEMDEDUP_TAU}
)
SELECT s.cluster,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(d.vec_id) AS BIGINT) AS n_dropped,
       round(COUNT(d.vec_id) * 1.0 / COUNT(*), 6) AS dup_ratio
FROM sub s LEFT JOIN dropped d ON s.cluster = d.cluster AND s.vec_id = d.vec_id
GROUP BY s.cluster ORDER BY s.cluster
"""


@register(
    "semantic_dedup",
    _semantic_dedup_sql(),
    "SemDeDup: k-means cluster-scoped cosine dedup, keep-lowest-id rule",
    eager=True,  # build/serve split: the k-means build collects k x dim centroids
)
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic near-duplicates are found
    by clustering embeddings and comparing pairs ONLY within a cluster
    — the pairwise cost is Σ cluster_size², bounded by growing k with
    the corpus, never corpus².  The seeded deterministic k-means
    (operators/similarity.kmeans_clusters, same md5 init the IVF oracle
    replays) partitions the space; within each cluster every vector
    with a smaller-id neighbor at rounded cosine >= tau is dropped (the
    deterministic keep-first rule; SemDeDup's keep-farthest-from-
    centroid variant changes the pick, not the plumbing).  The id-mod
    subsample stands in for the bounded-cluster regime at toy scale
    exactly as in embedding_near_dup, and a DEGENERATE distribution
    (every vector in one cluster) is handled the way the LSH tier
    handles hot buckets: clusters over the cap are salted into bounded
    sub-joins (``_bucketed_pair_sides`` — every pair still produced
    exactly once, recall == uncapped, no size-squared task).  Output:
    per-cluster kept/dropped accounting.  Eager class: the coarse
    k-means build collects k x dim centroids — SHARED with the IVF
    serving tier via the session index cache (identical k/iters/seed,
    so the centroids are bit-identical to a retrain and to the
    oracle's replay; the dedup pass and the ANN index amortize one
    build, the production arrangement)."""
    from datalakehouse_spark.operators import similarity as S
    from datalakehouse_spark.operators.dedup import _bucketed_pair_sides
    from datalakehouse_spark.registry_ext import coarse_centroids_for

    emb = load_table(spark, sf_dir, "embeddings")
    cents = coarse_centroids_for(spark, sf_dir, n_clusters=8, kmeans_iters=2)
    sub = emb.where(F.col("vec_id") % 10 == 0).select(
        "vec_id",
        S._argmin_cluster(S._dvec("embedding"), cents).alias("cluster"),
        S._dvec("embedding").alias("v"),
    )
    left, right, jcols = _bucketed_pair_sides(
        sub, ["cluster"], "vec_id", max_bucket_size=1000, hot_bucket="salt"
    )
    a = left.select(
        F.col("vec_id").alias("id_a"), *jcols, F.col("v").alias("va")
    )
    b = right.select(
        F.col("vec_id").alias("id_b"), *jcols, F.col("v").alias("vb")
    )
    dropped = (
        a.join(b, jcols)
        .where(F.col("id_a") < F.col("id_b"))
        .where(
            F.round(S.cosine(F.col("va"), F.col("vb")), 9) >= _SEMDEDUP_TAU
        )
        .select("cluster", F.col("id_b").alias("vec_id"))
        .distinct()
        .withColumn("__dropped", F.lit(1))
    )
    return (
        sub.select("vec_id", "cluster")
        .join(dropped, ["cluster", "vec_id"], "left")
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count("__dropped").alias("n_dropped"),
            F.round(F.count("__dropped") / F.count(F.lit(1)), 6).alias("dup_ratio"),
        )
        .orderBy("cluster")
    )


# ---------------------------------------------------------------------------
# incremental_dedup_ingest: new batch vs historical digest index (round 8)
# ---------------------------------------------------------------------------

_INCR_DEDUP_SQL = """
WITH d AS (
    SELECT doc_id, source,
           md5(array_to_string(list_slice(
               string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '),
               1, 5), ' ')) AS digest
    FROM documents
),
hist AS (SELECT DISTINCT digest FROM d WHERE doc_id % 4 <> 3),
batch AS (
    SELECT doc_id, source, digest,
           ROW_NUMBER() OVER (PARTITION BY digest ORDER BY doc_id) AS rn
    FROM d WHERE doc_id % 4 = 3
)
SELECT b.source,
       CAST(COUNT(*) AS BIGINT) AS n_new,
       CAST(SUM(CASE WHEN h.digest IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dup_corpus,
       CAST(SUM(CASE WHEN h.digest IS NULL AND b.rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dup_batch,
       CAST(SUM(CASE WHEN h.digest IS NULL AND b.rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_ingested
FROM batch b LEFT JOIN hist h USING (digest)
GROUP BY b.source ORDER BY b.source
"""


@register(
    "incremental_dedup_ingest",
    _INCR_DEDUP_SQL,
    "incremental ingest dedup: new batch vs historical digest index + intra-batch",
)
def q_incremental_dedup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production continuous-crawl shape: a NEW batch (the doc_id %
    4 == 3 slice standing in for today's crawl) dedups against (a) the
    HISTORICAL corpus's persisted normalized-digest index and (b)
    itself (keep-first within the batch), and only the survivors
    ingest.  Scale posture: the check is one equi-join keyed on digest
    — Spark broadcasts the smaller side (a daily batch against a
    bucketed historical index at 100 TB; either way no all-pairs, no
    corpus shuffle beyond the digest distinct) — and the intra-batch
    keep-first is a skew-immune min(doc_id) aggregate joined back,
    never a per-digest sort window.  Per-source ingest accounting
    out."""
    from datalakehouse_spark.operators.dedup import normalize_text

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        # 5-token prefix fingerprint: crawl boilerplate shares its
        # opening tokens far more often than its full body, so the
        # prefix digest is the index a continuous-ingest dedup keeps
        # (full-body digests live in dedup_exact_normalized)
        F.md5(
            F.array_join(F.slice(F.split(normalize_text(F.col("text")), " "), 1, 5), " ")
        ).alias("digest"),
    )
    hist = docs.where(F.col("doc_id") % 4 != 3).select("digest").distinct()
    batch = docs.where(F.col("doc_id") % 4 == 3)
    # keep-first WITHOUT a per-digest sort window: a boilerplate digest
    # with millions of batch copies would funnel them through one
    # window task; min(doc_id) per digest is a map-side-combined
    # aggregate (skew-immune, the chunk_dedup precedent) and
    # doc_id == keep_id is exactly rank-1 membership
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


# ---------------------------------------------------------------------------
# ingest_drift_psi: distribution drift between historical corpus and new batch
# ---------------------------------------------------------------------------

_DRIFT_SQL = """
WITH binned AS (
    SELECT source,
           CAST(LEAST(FLOOR(n_chars / 50), 19) AS INT) AS bin,
           CAST(SUM(CASE WHEN CAST(FLOOR(doc_id / 20) AS BIGINT) % 4 <> 3
                     THEN 1 ELSE 0 END) AS BIGINT) AS h_n,
           CAST(SUM(CASE WHEN CAST(FLOOR(doc_id / 20) AS BIGINT) % 4 = 3
                     THEN 1 ELSE 0 END) AS BIGINT) AS b_n
    FROM documents GROUP BY 1, 2
),
tot AS (
    SELECT source, bin, h_n, b_n,
           CAST(SUM(h_n) OVER (PARTITION BY source) AS BIGINT) AS th,
           CAST(SUM(b_n) OVER (PARTITION BY source) AS BIGINT) AS tb,
           CAST(SUM(h_n) OVER (PARTITION BY source ORDER BY bin
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ch,
           CAST(SUM(b_n) OVER (PARTITION BY source ORDER BY bin
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cb
    FROM binned
)
SELECT source,
       CAST(MIN(th) AS BIGINT) AS n_hist,
       CAST(MIN(tb) AS BIGINT) AS n_batch,
       CASE WHEN MIN(th) = 0 OR MIN(tb) = 0 THEN NULL ELSE
       round(CAST(SUM(CAST(round(
           (GREATEST(CAST(h_n AS DOUBLE) / th, 0.000001)
            - GREATEST(CAST(b_n AS DOUBLE) / tb, 0.000001))
           * ln(GREATEST(CAST(h_n AS DOUBLE) / th, 0.000001)
                / GREATEST(CAST(b_n AS DOUBLE) / tb, 0.000001)), 12)
           AS DECIMAL(18,12))) AS DOUBLE), 6) END AS psi,
       CASE WHEN MIN(th) = 0 OR MIN(tb) = 0 THEN NULL ELSE
       round(CAST(MAX(ABS(ch * tb - cb * th)) AS DOUBLE)
             / (CAST(MIN(th) AS DOUBLE) * MIN(tb)), 6) END AS ks_d
FROM tot GROUP BY source ORDER BY source
"""


@register(
    "ingest_drift_psi",
    _DRIFT_SQL,
    "ingest drift monitor: PSI + binned KS of doc-length, historical vs new batch",
)
def q_ingest_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-data-ops drift monitor: per source, how far the NEW
    batch's document-length distribution (the floor(doc_id/20) % 4 == 3
    block slice — every source contributes to both sides) has moved from the
    HISTORICAL corpus — PSI (population stability index, the standard
    ML-ops alarm: >0.1 investigate, >0.25 block the ingest) and the
    binned two-sample KS statistic.

    Scale shape: ONE hash aggregate over the corpus builds the
    O(sources x 20) fixed-width histogram with BOTH sides as
    conditional sums (no join, no second scan); totals and CDFs are
    windows over that bounded frame.  Determinism: PSI terms are
    ln's of double ratios rounded at 12 decimals and summed in DECIMAL
    (the mutual_information convention), and the KS numerator stays in
    exact BIGINT (|cum_h*Tb - cum_b*Th|) with one final divide."""
    docs = load_table(spark, sf_dir, "documents")
    binned = docs.groupBy(
        "source",
        F.least(F.floor(F.col("n_chars") / 50), F.lit(19)).cast("int").alias("bin"),
    ).agg(
        F.sum((F.floor(F.col("doc_id") / 20) % 4 != 3).cast("long")).alias("h_n"),
        F.sum((F.floor(F.col("doc_id") / 20) % 4 == 3).cast("long")).alias("b_n"),
    )
    w = Window.partitionBy("source")
    wc = Window.partitionBy("source").orderBy("bin").rowsBetween(
        Window.unboundedPreceding, 0
    )
    tot = (
        binned.withColumn("th", F.sum("h_n").over(w))
        .withColumn("tb", F.sum("b_n").over(w))
        .withColumn("ch", F.sum("h_n").over(wc))
        .withColumn("cb", F.sum("b_n").over(wc))
    )
    eps = F.lit(0.000001)
    # try_divide: a source present on only ONE side (brand-new or
    # vanished — exactly the drift the monitor must flag) has th or tb
    # = 0, which under ANSI mode would throw DIVIDE_BY_ZERO and crash
    # the whole monitor.  try_divide yields NULL, greatest(NULL, eps)
    # = eps, and the one-sided mask below reports psi/ks_d as NULL
    # (drift undefined without a two-sided histogram; n_hist/n_batch
    # still expose which side is empty).
    p = F.greatest(F.try_divide(F.col("h_n").cast("double"), F.col("th")), eps)
    q = F.greatest(F.try_divide(F.col("b_n").cast("double"), F.col("tb")), eps)
    term = F.round((p - q) * F.log(p / q), 12).cast("decimal(18,12)")
    ks_num = F.abs(F.col("ch") * F.col("tb") - F.col("cb") * F.col("th"))
    one_sided = (F.min("th") == 0) | (F.min("tb") == 0)
    return (
        tot.groupBy("source")
        .agg(
            F.min("th").alias("n_hist"),
            F.min("tb").alias("n_batch"),
            F.when(one_sided, F.lit(None).cast("double"))
            .otherwise(F.round(F.sum(term).cast("double"), 6))
            .alias("psi"),
            F.when(one_sided, F.lit(None).cast("double"))
            .otherwise(
                F.round(
                    F.try_divide(
                        F.max(ks_num).cast("double"),
                        F.min("th").cast("double") * F.min("tb"),
                    ),
                    6,
                )
            )
            .alias("ks_d"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# embedding_drift: per-label centroid shift between historical and new batch
# ---------------------------------------------------------------------------

_EMB_DRIFT_SQL = """
WITH ex AS (
    SELECT label,
           CAST(FLOOR(vec_id / 16) AS BIGINT) % 4 = 3 AS b,
           UNNEST(range(1, 65)) AS pos,
           UNNEST([CAST(embedding[i] AS DOUBLE) FOR i IN range(1, 65)]) AS v
    FROM embeddings
),
per AS (
    SELECT label, pos,
           SUM(CASE WHEN NOT b THEN v END)
             / SUM(CASE WHEN NOT b THEN 1 ELSE 0 END) AS mh,
           SUM(CASE WHEN b THEN v END)
             / SUM(CASE WHEN b THEN 1 ELSE 0 END) AS mb,
           CAST(SUM(CASE WHEN NOT b THEN 1 ELSE 0 END) AS BIGINT) AS nh,
           CAST(SUM(CASE WHEN b THEN 1 ELSE 0 END) AS BIGINT) AS nb
    FROM ex GROUP BY label, pos
)
SELECT label,
       CAST(MIN(nh) AS BIGINT) AS n_hist,
       CAST(MIN(nb) AS BIGINT) AS n_batch,
       round(sqrt(CAST(SUM(CAST(round((mh - mb) * (mh - mb), 12)
                                AS DECIMAL(18,12))) AS DOUBLE)), 6) AS centroid_l2,
       round(CAST(SUM(CAST(round(mh * mb, 12) AS DECIMAL(18,12))) AS DOUBLE)
             / sqrt(CAST(SUM(CAST(round(mh * mh, 12) AS DECIMAL(18,12))) AS DOUBLE)
                    * CAST(SUM(CAST(round(mb * mb, 12) AS DECIMAL(18,12))) AS DOUBLE)),
             6) AS centroid_cos
FROM per GROUP BY label ORDER BY label
"""


@register(
    "embedding_drift",
    _EMB_DRIFT_SQL,
    "embedding-space drift: per-label centroid L2 shift + cosine, hist vs batch",
)
def q_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embedding-space companion to ingest_drift_psi: per label,
    how far the NEW batch's centroid (floor(vec_id/16) % 4 == 3 block)
    has moved from the historical centroid — L2 shift and cosine.  A
    representation drift alarm for a pipeline whose embedder (or
    upstream corpus mix) changes between crawls.

    Scale shape: posexplode to (label, pos) and ONE hash aggregate
    computes both sides' per-dimension sums as conditional aggregates
    (no join, no second scan; shuffle = labels x dim rows with
    map-side combine).  Determinism: per-dimension mean products are
    rounded at 12 decimals and summed in DECIMAL (the
    mutual_information convention), so the 64-term reductions are
    order-independent in both engines."""
    from datalakehouse_spark.operators import similarity as S

    emb = load_table(spark, sf_dir, "embeddings")
    is_b = (F.floor(F.col("vec_id") / 16) % 4 == 3).alias("b")
    ex = emb.select(
        "label", is_b, F.posexplode(S._dvec("embedding")).alias("pos", "v")
    )
    per = ex.groupBy("label", "pos").agg(
        (
            F.sum(F.when(~F.col("b"), F.col("v")))
            / F.sum(F.when(~F.col("b"), 1).otherwise(0))
        ).alias("mh"),
        (
            F.sum(F.when(F.col("b"), F.col("v")))
            / F.sum(F.when(F.col("b"), 1).otherwise(0))
        ).alias("mb"),
        F.sum(F.when(~F.col("b"), 1).otherwise(0)).cast("long").alias("nh"),
        F.sum(F.when(F.col("b"), 1).otherwise(0)).cast("long").alias("nb"),
    )
    dec = lambda c: F.round(c, 12).cast("decimal(18,12)")  # noqa: E731
    d = F.col("mh") - F.col("mb")
    return (
        per.groupBy("label")
        .agg(
            F.min("nh").alias("n_hist"),
            F.min("nb").alias("n_batch"),
            F.round(F.sqrt(F.sum(dec(d * d)).cast("double")), 6).alias("centroid_l2"),
            F.round(
                F.sum(dec(F.col("mh") * F.col("mb"))).cast("double")
                / F.sqrt(
                    F.sum(dec(F.col("mh") * F.col("mh"))).cast("double")
                    * F.sum(dec(F.col("mb") * F.col("mb"))).cast("double")
                ),
                6,
            ).alias("centroid_cos"),
        )
        .orderBy("label")
    )
