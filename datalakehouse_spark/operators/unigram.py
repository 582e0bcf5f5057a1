"""Distributed Unigram-LM (SentencePiece-style) subword trainer (round 16).

The third classical subword trainer (Kudo 2018, "Subword
Regularization: Improving Neural Network Translation Models with
Multiple Subword Candidates" — the SentencePiece unigram model; public
literature), completing the family next to BPE (operators/bpe.py) and
WordPiece (operators/wordpiece.py).  Unlike the two merge trainers it
does not grow a vocabulary bottom-up: it SEEDS a large piece inventory
from corpus substrings and re-estimates per-piece usage with EM, where
the E-step segments every word under the current piece probabilities
``prob(p) = count(p) / total``.

This implementation is **hard (Viterbi) EM**: the E-step assigns each
word its single best segmentation and the M-step re-counts piece usage
from those assignments — exactly "EM over piece probabilities with
Viterbi segmentation".  Soft EM (forward-backward expected counts, the
full Kudo recipe) accumulates sums of float products whose order is
engine-dependent; hard EM keeps every re-estimated count an exact
integer, which is what makes the trainer replayable bit-for-bit by the
DuckDB oracle (registry entry ``unigram_vocab_train``).

Determinism contract (shared with the WordPiece entry): the only
floating-point work is ``count / total`` divisions of exact integers
and a LEFT-TO-RIGHT product fold over a segmentation's pieces — both
single correctly-rounded IEEE-754 double operations that Python and
DuckDB execute identically when the operand order is identical.  The
segmentation argmax orders by ``(0.0 - score ASC, n_pieces ASC,
pieces-joined-by-\\x01 ASC)`` (``0.0 - score`` instead of ``-score``
normalizes the all-zero-score case to +0.0 on both engines); the
registry output carries only ``(rank, piece, freq)`` integers/strings,
so the correctness hash never touches a float.

Segmentation is by EXACT ENUMERATION over cut-point bitmasks: the
trainer's word contract bounds words (``[a-z]{2,8}`` at the fixture),
so a word has at most 2^7 = 128 segmentations and enumeration is both
exact and cheap — and, critically, it is expressible in DuckDB as a
``range(0, 1 << (n-1))`` list comprehension, giving the oracle the
same argmax over the same candidates.  :func:`viterbi_segment` is the
O(n * max_piece) dynamic program for UNBOUNDED words (the 100 TB scale
path where enumeration is exponential); a property test pins that its
score always matches enumeration's (ties may pick a different equal
segmentation, which is why the oracle-checked entries use
enumeration).

It runs on the subword skeleton of operators/bpe.py (word-frequency
factoring, size-adaptive ``train_auto``, ``rank_table``,
``tokenize_stats``) with its own trainers and segmenter.  Scale
posture: seeding is ONE substring-explode hash aggregate over the
word-frequency table; each EM round is one Arrow-batched map over the
word table emitting (piece, freq) usage pairs plus one map-side-
combined hash aggregate, with a vocabulary-sized collect (the
inventory IS the model — the same bounded driver surface as the
BPE/WordPiece merge tables).  No driver-side token tables, no
per-word Spark jobs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datalakehouse_spark.io import _ship_package
from datalakehouse_spark.operators.bpe import (
    PAIR_SEP,
    rank_table,
    tokenize_stats,
    train_auto,
)

#: (rank, piece, freq): the trained inventory, final Viterbi-EM counts
UNI_SCHEMA = "rank int, piece string, freq long"

#: module defaults — the fixture contract (the registry entries pin
#: these; callers may widen them, every path derives from parameters)
MAX_PIECE_LEN_DEFAULT = 6
SEED_K_DEFAULT = 40
ROUNDS_DEFAULT = 3
MIN_FREQ_DEFAULT = 2


def seed_inventory_local(
    word_freqs: list[tuple[str, int]],
    max_piece_len: int = MAX_PIECE_LEN_DEFAULT,
    min_freq: int = MIN_FREQ_DEFAULT,
    seed_k: int = SEED_K_DEFAULT,
) -> dict[str, int]:
    """Seed piece inventory from an in-memory word-frequency list:
    every substring occurrence (all start positions, overlapping)
    weighted by word frequency.  ALL single characters are kept (the
    base alphabet that guarantees segmentability); multi-char pieces
    need ``count >= min_freq`` and only the top ``seed_k`` by
    ``(count DESC, piece ASC)`` survive."""
    chars: dict[str, int] = {}
    multi: dict[str, int] = {}
    for w, f in word_freqs:
        if not w:
            continue
        n = len(w)
        for ch in w:
            chars[ch] = chars.get(ch, 0) + f
        for ln in range(2, min(max_piece_len, n) + 1):
            for i in range(n - ln + 1):
                p = w[i:i + ln]
                multi[p] = multi.get(p, 0) + f
    kept = sorted(
        (p for p, c in multi.items() if c >= min_freq),
        key=lambda p: (-multi[p], p),
    )[:seed_k]
    inv = dict(chars)
    inv.update({p: multi[p] for p in kept})
    return inv


def best_segmentation(word: str, probs: dict[str, float]) -> list[str] | None:
    """Exact argmax segmentation by cut-point-bitmask enumeration:
    maximize the left-to-right product of piece probabilities over all
    segmentations whose every piece is in ``probs``; ties resolve on
    ``(n_pieces ASC, pieces-joined ASC)``.  Returns None when no valid
    segmentation exists (some character is outside the inventory).
    Bounded by the word-length contract (2^(n-1) masks); the unbounded
    scale path is :func:`viterbi_segment`."""
    n = len(word)
    if n == 0:
        return []
    best_key: tuple | None = None
    best_segs: list[str] | None = None
    for mask in range(1 << (n - 1)):
        cuts = [0]
        for i in range(1, n):
            if (mask >> (i - 1)) & 1:
                cuts.append(i)
        cuts.append(n)
        segs = [word[cuts[j]:cuts[j + 1]] for j in range(len(cuts) - 1)]
        score = 1.0
        ok = True
        for s in segs:
            p = probs.get(s)
            if p is None:
                ok = False
                break
            score = score * p
        if not ok:
            continue
        # 0.0 - score (not -score): zero scores normalize to +0.0, the
        # same value DuckDB's 0.0 - score produces — no -0.0/: +0.0
        # sort-order ambiguity across engines
        key = (0.0 - score, len(segs), PAIR_SEP.join(segs))
        if best_key is None or key < best_key:
            best_key, best_segs = key, segs
    return best_segs


def viterbi_segment(
    word: str, probs: dict[str, float], max_piece: int | None = None
) -> list[str] | None:
    """The O(n * max_piece) dynamic program for unbounded words — the
    100 TB scale path.  Optimal substructure holds under IEEE floats
    (multiplication by a positive double is monotone), so the returned
    segmentation's SCORE always equals enumeration's best (test-pinned);
    among equal-score segmentations the tie-break is prefix-local and
    may differ from enumeration's global one, which is why the
    oracle-checked fixture entries use :func:`best_segmentation`."""
    n = len(word)
    if n == 0:
        return []
    if max_piece is None:
        max_piece = max(map(len, probs), default=1)
    # best[j]: (key, segs) for word[:j]; key = (0.0 - score, np, joined)
    best: list[tuple | None] = [None] * (n + 1)
    best[0] = ((0.0 - 1.0, 0, ""), [])
    for j in range(1, n + 1):
        for i in range(max(0, j - max_piece), j):
            if best[i] is None:
                continue
            piece = word[i:j]
            p = probs.get(piece)
            if p is None:
                continue
            (nsi, npi, _ki), segs_i = best[i]
            score = (0.0 - nsi) * p if npi else p  # left-to-right fold
            segs = segs_i + [piece]
            key = (0.0 - score, len(segs), PAIR_SEP.join(segs))
            if best[j] is None or key < best[j][0]:
                best[j] = (key, segs)
    return None if best[n] is None else best[n][1]


def train_unigram_local(
    word_freqs: list[tuple[str, int]],
    rounds: int = ROUNDS_DEFAULT,
    max_piece_len: int = MAX_PIECE_LEN_DEFAULT,
    min_freq: int = MIN_FREQ_DEFAULT,
    seed_k: int = SEED_K_DEFAULT,
) -> list[tuple[str, int]]:
    """The sequential reference trainer — bit-identical to the
    distributed loop (same seeding, same enumeration argmax, same
    integer re-counts).  The inventory is FIXED after seeding; EM only
    re-estimates counts (pieces may drop to zero usage and score 0.0
    thereafter — they stay VALID segments during training, exactly as
    the oracle CTE carries them).  Returns ``(piece, freq)`` for final
    ``freq > 0``, ranked ``(freq DESC, piece ASC)``."""
    words = [(w, f) for w, f in word_freqs if w]
    inv = seed_inventory_local(words, max_piece_len, min_freq, seed_k)
    for _ in range(rounds):
        total = sum(inv.values()) or 1
        probs = {p: c / total for p, c in inv.items()}
        new = {p: 0 for p in inv}
        for w, f in words:
            segs = best_segmentation(w, probs)
            # training words are fully covered by the seeded alphabet
            for s in segs or []:
                new[s] += f
        inv = new
    return sorted(
        ((p, c) for p, c in inv.items() if c > 0),
        key=lambda x: (-x[1], x[0]),
    )


def unigram_train(
    spark: SparkSession,
    words: DataFrame,
    rounds: int = ROUNDS_DEFAULT,
    max_piece_len: int = MAX_PIECE_LEN_DEFAULT,
    min_freq: int = MIN_FREQ_DEFAULT,
    seed_k: int = SEED_K_DEFAULT,
) -> tuple[DataFrame, list[tuple[str, int]]]:
    """The distributed trainer: seeding is one substring-explode hash
    aggregate over the ``(w, f)`` word table (alphabet + top-K collects
    are inventory-bounded); each EM round is one Arrow-batched usage
    map (the current probabilities ride the closure — the inventory IS
    the model, merge-table-sized) plus one map-side-combined aggregate
    and an inventory-sized collect.  Identical algorithm to
    :func:`train_unigram_local` (contract-tested)."""
    _ship_package(spark)  # the usage map calls best_segmentation on the workers
    src = (
        words.where(F.length("w") > 0)
        .select("w", F.col("f").cast("long").alias("f"))
        .localCheckpoint(eager=True)
    )
    sub_parts = [
        f"CASE WHEN length(w) >= {ln} THEN transform("
        f"sequence(1, length(w) - {ln} + 1), i -> substring(w, i, {ln})) "
        "ELSE CAST(array() AS array<string>) END"
        for ln in range(1, max_piece_len + 1)
    ]
    pc = (
        src.select(
            F.explode(F.expr("concat(" + ", ".join(sub_parts) + ")")).alias("p"),
            "f",
        )
        .groupBy("p")
        .agg(F.sum("f").alias("c"))
    )
    inv = {
        r["p"]: int(r["c"])
        for r in pc.where(F.length("p") == 1).collect()  # alphabet-bounded
    }
    inv.update(
        {
            r["p"]: int(r["c"])
            for r in pc.where(
                (F.length("p") >= 2) & (F.col("c") >= min_freq)
            )
            .orderBy(F.desc("c"), F.asc("p"))
            .limit(seed_k)
            .collect()
        }
    )
    for _ in range(rounds):
        total = sum(inv.values()) or 1
        probs = {p: c / total for p, c in inv.items()}

        def usage_batches(it, probs=probs):
            import pandas as _pd

            for pdf in it:
                out_p: list[str] = []
                out_f: list[int] = []
                for w, f in zip(pdf["w"], pdf["f"]):
                    for s in best_segmentation(w, probs) or []:
                        out_p.append(s)
                        out_f.append(int(f))
                yield _pd.DataFrame({"p": out_p, "f": out_f})

        counts = (
            src.mapInPandas(usage_batches, schema="p string, f long")
            .groupBy("p")
            .agg(F.sum("f").alias("c"))
            .collect()  # inventory-sized: the model, not the corpus
        )
        inv = {p: 0 for p in inv}
        for r in counts:
            inv[r["p"]] = int(r["c"])
    ranked = sorted(
        ((p, c) for p, c in inv.items() if c > 0), key=lambda x: (-x[1], x[0])
    )
    return rank_table(spark, UNI_SCHEMA, ranked).orderBy("rank"), ranked


def unigram_train_auto(
    spark: SparkSession,
    words: DataFrame,
    rounds: int = ROUNDS_DEFAULT,
    max_piece_len: int = MAX_PIECE_LEN_DEFAULT,
    min_freq: int = MIN_FREQ_DEFAULT,
    seed_k: int = SEED_K_DEFAULT,
    local_rows_threshold: int = 65536,
) -> tuple[DataFrame, list[tuple[str, int]]]:
    """Unigram-LM on the size-adaptive ``bpe.train_auto``: a bounded
    word table trains in one executor task (:func:`train_unigram_local`),
    a larger one in :func:`unigram_train`."""
    return train_auto(
        spark,
        words,
        UNI_SCHEMA,
        local_rows_threshold,
        lambda wf: train_unigram_local(wf, rounds, max_piece_len, min_freq, seed_k),
        lambda: unigram_train(spark, words, rounds, max_piece_len, min_freq, seed_k),
        tuple,
        lambda r: (r["piece"], r["freq"]),
    )


def unigram_tokenize_stats(
    docs: DataFrame,
    inventory: list[tuple[str, int]],
    text_col: str = "text",
    id_col: str = "doc_id",
    min_len: int = 2,
    max_len: int = 8,
) -> DataFrame:
    """``bpe.tokenize_stats`` under a trained unigram inventory, each
    word's ``n_tokens`` by the exact enumeration argmax under the final
    piece probabilities.  Characters the trainer never saw join the
    runtime inventory at probability 0.0 (the UNK-closure: every word
    stays segmentable; an all-zero-score word resolves to the
    fewest-pieces segmentation by the tie-break)."""
    total = sum(c for _, c in inventory) or 1
    base_probs = {p: c / total for p, c in inventory}

    def count(w: str) -> int:
        missing = {ch for ch in w if ch not in base_probs}
        probs = {**base_probs, **{ch: 0.0 for ch in missing}} if missing else base_probs
        return len(best_segmentation(w, probs))

    return tokenize_stats(docs, count, text_col, id_col, min_len, max_len)
