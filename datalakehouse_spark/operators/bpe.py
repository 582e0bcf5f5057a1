"""The subword-tokenizer skeleton, and the BPE trainer on it (round 14).

Extension surface beyond the reference (BASELINE.json north_star,
SURVEY §0's LLM-extension mandate): the three classical subword
trainers — BPE here, WordPiece (operators/wordpiece.py) and Unigram-LM
(operators/unigram.py) — share one skeleton, and each family supplies
only its local trainer, its score, its segmenter and its row shape:

* :func:`word_frequencies` — corpus → ``(w, f)``: the ONE corpus-wide
  shuffle.  Every trainer iterates over this distinct-word table (the
  subword-nmt / HF tokenizers factoring, and the 100 TB shape: a
  100 TB corpus has a bounded distinct-word set).
* :func:`train_auto` — the size-adaptive trainer.  A fused
  ``coalesce(1).mapInPandas`` probe trains a word table of at most
  ``local_rows_threshold`` rows inside ONE executor task with the
  family's local trainer (one Spark job instead of O(rounds)); the
  moment the task has seen threshold + 1 rows it emits a ``rank = -1``
  sentinel, stops consuming its input (generator early exit), and the
  family's distributed trainer takes over.  Both paths run the
  identical algorithm and accept the identical input.
* :func:`rank_table` — the learned model as a typed ``(rank, ...)``
  table built from Arrow, so it plans as a ``LocalRelation``.
* :func:`train_merges_local` / :func:`merge_loop` — the merge loop of
  BPE and WordPiece, in-memory and distributed: symbolize each word as
  its characters (no end-of-word marker), count adjacent pairs
  weighted by word frequency, keep pairs counted ``>= min_freq``, take
  the argmax by (score DESC, pair ASC — binary order of the
  ``PAIR_SEP``-joined key), apply the merge GREEDILY LEFT-TO-RIGHT
  (``'aaa'`` + ``(a, a)`` → ``[aa, a]``), and truncate lineage with
  ``localCheckpoint``.  BPE's score is the raw pair count; without
  candidates (none counted ``>= min_freq``) the loop stops.
* :func:`tokenize_stats` — the per-document ``(doc_id, n_words,
  n_chars, n_tokens)`` map stage, with a per-task distinct-word memo
  (word frequencies are Zipfian), parameterized by the family's
  ``word -> n_tokens`` count.

BPE (Sennrich et al. 2016, "Neural Machine Translation of Rare Words
with Subword Units" — public) is the frequency-argmax merge loop;
:func:`apply_merges` replays a learned merge list over new text with
the trainer's own greedy fold, so the DuckDB oracle replays BOTH with
one recursive-CTE state machine (the ``wav_codec_decode`` stateful-
oracle pattern, registry_ext6.py).

Scale posture: the word-frequency table is the only corpus-wide
shuffle; each distributed merge round is a narrow map + one hash
aggregate over the word table + a 1-row argmax collect, with the fold
as whole-stage-codegen JVM work (``aggregate``), not Python.  The only
driver-side data is the ≤ ``n_merges``-row model — never a token
table.  Tokenization is a pure map stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datalakehouse_spark.io import _ship_package

#: pair-key separator: sorts below every printable symbol, so the
#: (score DESC, pair ASC) tie-break is identical in Spark and DuckDB
#: (both compare binary UTF-8).
PAIR_SEP = "\x01"

#: the word alphabet the trainer accepts — keeping symbols in [a-z]
#: makes merged-symbol literals safe to inline in SQL expressions and
#: keeps Spark/DuckDB string comparison trivially identical (ASCII).
WORD_PATTERN = "[a-z]+"

#: (rank, left, right, merged, pair_freq): the BPE merge table
BPE_SCHEMA = "rank int, left string, right string, merged string, pair_freq long"


def word_frequencies(
    docs: DataFrame,
    text_col: str = "text",
    min_len: int = 2,
    max_len: int = 12,
) -> DataFrame:
    """Corpus → ``(w, f)`` word-frequency table (the one corpus-wide
    shuffle).  Words are lowercased ``[a-z]+`` runs with length in
    ``[min_len, max_len]`` — the bounded-alphabet contract above."""
    return (
        docs.select(
            F.explode(
                F.expr(f"regexp_extract_all(lower({text_col}), '{WORD_PATTERN}', 0)")
            ).alias("w")
        )
        .where(F.length("w").between(min_len, max_len))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("f"))
    )


def rank_table(
    spark: SparkSession, schema: str, items, to_row=tuple, start: int = 1
) -> DataFrame:
    """``items`` as rows ``(rank, *to_row(item))``, ranks counting from
    ``start``, typed exactly by the DDL ``schema`` (0 items: a typed
    empty table).  Built from an Arrow table, so it plans as a
    ``LocalRelation``: collecting it runs no Spark job, where a
    ``createDataFrame`` of a Python list scans an RDD through a Python
    worker on every action.  Unsorted."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    arrow = to_arrow_schema(StructType.fromDDL(schema))
    rows = [
        dict(zip(arrow.names, (start + i, *to_row(item))))
        for i, item in enumerate(items)
    ]
    return spark.createDataFrame(pa.Table.from_pylist(rows, schema=arrow))


def train_auto(
    spark: SparkSession,
    words: DataFrame,
    schema: str,
    local_rows_threshold: int,
    train_local,
    train_dist,
    to_row,
    from_row,
):
    """The size-adaptive trainer (module docstring): ONE narrow Spark
    action (coalesce, no limit-shuffle, so AQE doesn't split it into
    stage-jobs) either trains the ``(w, f)`` table in one task with
    ``train_local(word_freqs) -> items`` or, past
    ``local_rows_threshold`` rows, returns the sentinel, and
    ``train_dist()`` runs instead.  The probe's rows (rank, *to_row)
    come back as ``from_row(row)`` items — the conversion is where a
    family checks the learned symbols, so both paths accept the same
    input.  Returns ``(rank_table ordered by rank, items)``; empty
    words are dropped up front (they carry no pairs or pieces)."""
    from pyspark.sql.types import StructType

    cols = StructType.fromDDL(schema).names
    threshold = local_rows_threshold

    def train_batches(it):
        import pandas as _pd

        wf: list[tuple[str, int]] = []
        for pdf in it:
            wf.extend(zip(pdf["w"], (int(v) for v in pdf["f"])))
            if len(wf) > threshold:
                # sentinel: the table exceeds the single-task budget
                yield _pd.DataFrame({c: [-1 if c == "rank" else None] for c in cols})
                return
        rows = [(i + 1, *to_row(m)) for i, m in enumerate(train_local(wf))]
        yield _pd.DataFrame(rows, columns=cols)

    # the stage unpickles package functions on the workers
    _ship_package(spark)
    probe = (
        words.where(F.length("w") > 0)
        .select("w", F.col("f").cast("long").alias("f"))
        .coalesce(1)
        .mapInPandas(train_batches, schema=schema)
        .collect()
    )
    if probe and probe[0]["rank"] == -1:
        return train_dist()
    items = [from_row(r) for r in sorted(probe, key=lambda r: r["rank"])]
    return rank_table(spark, schema, items, to_row).orderBy("rank"), items


def _check_symbols(left: str, right: str) -> None:
    for s in (left, right):
        if not s or not all("a" <= c <= "z" for c in s):
            raise ValueError(f"merge symbol {s!r} outside the [a-z]+ alphabet")


def merge_row(m: tuple) -> tuple:
    """Merge item ``(left, right, *counts)`` → table row tail
    ``(left, right, merged, *counts)``."""
    return (m[0], m[1], m[0] + m[1], *m[2:])


def merge_item(row) -> tuple:
    """Merge-table row → item ``(left, right, *counts)``, with the
    alphabet guard of :func:`_merge_fold_expr` — the local path learns
    the same symbols the distributed fold would reject."""
    _check_symbols(row["left"], row["right"])
    return (row["left"], row["right"], *row[4:])


def _merge_fold_expr(left: str, right: str) -> str:
    """SQL for the greedy left-to-right merge of pair ``(left,
    right)`` over ``syms`` — an ``aggregate`` fold whose accumulator
    is the merged prefix.  ``try_element_at`` keeps the empty-prefix
    probe ANSI-safe (returns NULL, which the AND treats as false)."""
    _check_symbols(left, right)
    merged = left + right
    return (
        "aggregate(syms, CAST(array() AS array<string>), "
        "(acc, x) -> CASE WHEN size(acc) > 0 "
        f"AND try_element_at(acc, -1) = '{left}' AND x = '{right}' "
        f"THEN concat(slice(acc, 1, size(acc) - 1), array('{merged}')) "
        "ELSE concat(acc, array(x)) END)"
    )


#: adjacent-pair extraction over ``syms`` weighted by ``f``:
#: zip_with over the two length-(n-1) slices — empty (never negative)
#: for one-symbol words, so no sequence(1,0) descending trap.
_PAIRS_EXPR = (
    "zip_with(slice(syms, 1, size(syms) - 1), "
    "slice(syms, 2, size(syms) - 1), "
    f"(a, b) -> concat(a, '{PAIR_SEP}', b))"
)


def train_merges_local(
    word_freqs: list[tuple[str, int]],
    n_merges: int,
    min_freq: int = 2,
    score=None,
) -> list[tuple]:
    """The merge loop over an in-memory word-frequency list —
    bit-identical to :func:`merge_loop` (pinned by tests/test_bpe.py
    and tests/test_wordpiece.py).  ``score`` is None for BPE (argmax
    of the pair count ``c``; items ``(left, right, c)``), or
    ``score(c, ul, ur)`` over the pair count and both symbols' unigram
    counts (items ``(left, right, c, ul, ur)``).  Runs executor-side
    in :func:`train_auto`'s small-table path; never on the driver
    with corpus data."""
    rank = (lambda m: m[2]) if score is None else (lambda m: score(*m[2:]))
    words = [(list(w), f) for w, f in word_freqs if w]
    merges: list[tuple] = []
    for _ in range(n_merges):
        pairs: dict[tuple[str, str], int] = {}
        unis: dict[str, int] = {}
        for syms, f in words:
            for s in syms:
                unis[s] = unis.get(s, 0) + f
            for p in zip(syms, syms[1:]):
                pairs[p] = pairs.get(p, 0) + f
        cand = [
            (a, b, c, unis[a], unis[b]) for (a, b), c in pairs.items() if c >= min_freq
        ]
        if not cand:
            break
        best = min(cand, key=lambda m: (-rank(m), m[0] + PAIR_SEP + m[1]))
        merges.append(best[:3] if score is None else best)
        words = [(apply_merges(syms, [best[:2]]), f) for syms, f in words]
    return merges


def merge_loop(
    words: DataFrame,
    n_merges: int,
    min_freq: int = 2,
    score=None,
    checkpoint_every: int = 1,
) -> list[tuple]:
    """The distributed merge loop over a ``(w, f)`` table, with
    :func:`train_merges_local`'s ``score`` and items.  Per round: one
    pair-count hash aggregate (map-side combined) — plus, for a
    scored loop, one unigram-count aggregate broadcast-joined twice
    against the pairs (the symbol table is alphabet-bounded) — then a
    1-row argmax collect, the bounded driver surface, and the JVM
    ``aggregate`` merge fold.

    ``checkpoint_every``: materialize the re-symbolized word table
    every N merges (``localCheckpoint``).  1 is the cluster-scale
    choice — each fold runs once, total work O(merges x words).  0
    never checkpoints: Catalyst collapses the pending folds into one
    nested projection re-evaluated per argmax (O(merges² x words)
    compute but ``merges`` fewer jobs)."""
    cur = (
        words.where(F.length("w") > 0)
        .select(
            F.expr("filter(split(w, ''), s -> s != '')").alias("syms"),
            F.col("f").cast("long").alias("f"),
        )
        .localCheckpoint(eager=True)
    )
    merges: list[tuple] = []
    for i in range(n_merges):
        cand = (
            cur.select(F.explode(F.expr(_PAIRS_EXPR)).alias("p"), "f")
            .groupBy("p")
            .agg(F.sum("f").alias("c"))
            .where(F.col("c") >= min_freq)
        )
        if score is None:
            counts = ["c"]
            ranked = cand.withColumn("score", F.col("c"))
        else:
            counts = ["c", "ul", "ur"]
            unis = (
                cur.select(F.explode("syms").alias("s"), "f")
                .groupBy("s")
                .agg(F.sum("f").alias("u"))
            )
            ranked = (
                cand.withColumn("left", F.split_part("p", F.lit(PAIR_SEP), F.lit(1)))
                .withColumn("right", F.split_part("p", F.lit(PAIR_SEP), F.lit(2)))
                .join(F.broadcast(unis.toDF("left", "ul")), "left")
                .join(F.broadcast(unis.toDF("right", "ur")), "right")
                .withColumn("score", score(F.col("c"), F.col("ul"), F.col("ur")))
            )
        best = (
            ranked.orderBy(F.desc("score"), F.asc("p"))
            .select("p", *counts)
            .limit(1)
            .collect()
        )
        if not best:
            break
        left, right = best[0]["p"].split(PAIR_SEP)
        merges.append((left, right, *(int(best[0][c]) for c in counts)))
        cur = cur.select(F.expr(_merge_fold_expr(left, right)).alias("syms"), "f")
        if checkpoint_every and (i + 1) % checkpoint_every == 0:
            cur = cur.localCheckpoint(eager=True)
    return merges


def bpe_train(
    spark: SparkSession,
    words: DataFrame,
    n_merges: int = 24,
    min_freq: int = 2,
    checkpoint_every: int = 1,
) -> tuple[DataFrame, list[tuple[str, str, int]]]:
    """Train ``n_merges`` BPE merges over a ``(w, f)`` table with the
    distributed :func:`merge_loop`.  Returns ``(merge_table_df,
    merges)``: the ``BPE_SCHEMA`` table ordered by rank, and the same
    content as a driver-side list (bounded by ``n_merges`` — the
    vocabulary, not a token table).  ``checkpoint_every`` as in
    :func:`merge_loop`; 0 suits small word tables where per-job
    scheduling dominates."""
    merges = merge_loop(words, n_merges, min_freq, checkpoint_every=checkpoint_every)
    return rank_table(spark, BPE_SCHEMA, merges, merge_row).orderBy("rank"), merges


def bpe_train_auto(
    spark: SparkSession,
    words: DataFrame,
    n_merges: int = 24,
    min_freq: int = 2,
    local_rows_threshold: int = 65536,
) -> tuple[DataFrame, list[tuple[str, str, int]]]:
    """BPE on the size-adaptive :func:`train_auto`: a word table of at
    most ``local_rows_threshold`` rows trains in one executor task
    (:func:`train_merges_local`), a larger one in :func:`bpe_train`."""
    return train_auto(
        spark,
        words,
        BPE_SCHEMA,
        local_rows_threshold,
        lambda wf: train_merges_local(wf, n_merges, min_freq),
        lambda: bpe_train(spark, words, n_merges=n_merges, min_freq=min_freq),
        merge_row,
        merge_item,
    )


def apply_merges(syms: list[str], merges: list[tuple[str, str]]) -> list[str]:
    """Replay a merge list over one symbol sequence, in rank order,
    each merge applied greedily left-to-right — bit-identical to the
    trainer fold (and to the oracle's recursive replay)."""
    for left, right in merges:
        out: list[str] = []
        for s in syms:
            if out and out[-1] == left and s == right:
                out[-1] = left + right
            else:
                out.append(s)
        syms = out
    return syms


def tokenize_stats(
    docs: DataFrame,
    count_tokens,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_len: int = 2,
    max_len: int = 12,
) -> DataFrame:
    """Per-document tokenization stats: ``(doc_id, n_words, n_chars,
    n_tokens)`` over the ``[a-z]+`` words of length ``[min_len,
    max_len]``, where ``n_chars`` is the pre-tokenization symbol count
    and ``n_tokens`` sums ``count_tokens(word)`` (the family's
    tokenizer; it rides the closure with its vocabulary-sized model).
    Arrow-batched ``mapInPandas``, embarrassingly parallel over rows;
    a per-task distinct-word memo caches each word's count, so repeated
    words (most of a Zipfian corpus) cost one dict lookup."""
    import re as _re

    pattern = WORD_PATTERN
    lo, hi = min_len, max_len

    src = docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))

    def batches(it):
        import pandas as _pd

        rx = _re.compile(pattern)
        memo: dict[str, int] = {}

        for pdf in it:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                words = [
                    w for w in rx.findall((text or "").lower()) if lo <= len(w) <= hi
                ]
                for w in words:
                    if w not in memo:
                        memo[w] = count_tokens(w)
                n_chars = sum(len(w) for w in words)
                n_tokens = sum(memo[w] for w in words)
                rows.append((doc_id, len(words), n_chars, n_tokens))
            yield _pd.DataFrame(
                rows, columns=["doc_id", "n_words", "n_chars", "n_tokens"]
            )

    _ship_package(docs.sparkSession)  # count_tokens is a package function
    return src.mapInPandas(
        batches, schema="doc_id long, n_words int, n_chars int, n_tokens int"
    )


def bpe_tokenize_stats(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
    min_len: int = 2,
    max_len: int = 12,
) -> DataFrame:
    """:func:`tokenize_stats` under a learned merge list, each word's
    ``n_tokens`` by merge replay.  Bit-exact prefilter (round 16):
    symbols are always contiguous slices of the original word (merging
    concatenates neighbors, never reorders), so a merge ``(l, r)`` can
    only fire when ``l + r`` occurs in the word — the replay skips the
    rest, which provably match nothing."""
    pairs = [(left, right) for left, right, *_ in merges]

    def count(w: str) -> int:
        return len(apply_merges(list(w), [p for p in pairs if p[0] + p[1] in w]))

    return tokenize_stats(docs, count, text_col, id_col, min_len, max_len)
