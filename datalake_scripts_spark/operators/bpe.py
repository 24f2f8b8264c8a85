"""Distributed BPE tokenizer training (Sennrich et al. 2016,
"Neural Machine Translation of Rare Words with Subword Units").

The key scale property: after ONE corpus-wide ``groupBy(word)``, every
BPE statistic lives on the word-frequency table — vocabulary-sized
(distinct words), not corpus-sized. At 100 TB of text the vocab is
a few million rows; each merge round is a vocab-sized native-expression
pass (explode adjacent pairs -> weighted count -> top-1), so the corpus
is read exactly once no matter how many merges are learned.

Merge application is a LEFT FOLD over the symbol array
(``F.aggregate``): replace each adjacent (left, right) occurrence
left-to-right, non-overlapping — identical semantics to the reference
Python implementation (tested bit-for-bit in tests/test_bpe.py). All
expressions are native Catalyst (no Python in the loop); the only
driver traffic is the argmax pair, one row per round.

``batch`` > 1 learns several symbol-disjoint pairs per round (the
standard scalable variant: pairs whose symbols don't overlap can't
interact, so applying them together equals applying them in sequence),
cutting the number of Spark rounds by ~batch x.

Reference parity: the reference engine has no tokenizer-training
surface (SURVEY.md §2.8b — engine extension for the LLM-data family).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import text as X


def initial_vocab(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus -> (word, freq, syms) with syms = character symbols.

    The single corpus-sized stage of BPE training: one partial-agg
    shuffle on the word. Everything downstream is vocab-sized.
    """
    return (
        docs.select(F.explode(X.tokens(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count("*").cast("bigint").alias("freq"))
        .withColumn("syms", F.expr("filter(split(word, ''), x -> x <> '')"))
    )


def _apply_merge(syms: Column, left: str, right: str) -> Column:
    """Left fold replacing adjacent (left, right) with the merged
    symbol — left-to-right, non-overlapping (e.g. 'aaa' with (a,a)
    -> ['aa', 'a'], matching the sequential reference)."""
    return F.aggregate(
        syms,
        F.expr("cast(array() as array<string>)"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (x == F.lit(right)),
            F.concat(
                F.slice(acc, F.lit(1), F.size(acc) - F.lit(1)),
                F.array(F.lit(left + right)),
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def pair_counts(vocab: DataFrame) -> DataFrame:
    """Adjacent-symbol pair statistics weighted by word frequency:
    (left_sym, right_sym, pair_count). Vocab-sized; map-side combined."""
    return (
        vocab.filter(F.size("syms") >= 2)
        .select(
            "freq",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(syms) - 1), "
                    "i -> struct(element_at(syms, i) AS left_sym, "
                    "element_at(syms, i + 1) AS right_sym))"
                )
            ).alias("p"),
        )
        .groupBy("p.left_sym", "p.right_sym")
        .agg(F.sum("freq").cast("bigint").alias("pair_count"))
    )


def learn_bpe(
    vocab: DataFrame,
    n_merges: int,
    min_freq: int = 2,
    batch: int = 1,
) -> tuple[list[tuple[str, str]], DataFrame]:
    """Learn up to ``n_merges`` BPE merges; returns (merges, vocab with
    final segmentation). ``batch`` > 1 applies that many symbol-disjoint
    top pairs per round (equivalent result order within a batch is the
    global count order, ties broken lexicographically).

    Driver traffic: ``batch`` rows per round. Plan growth: the vocab is
    localCheckpoint'ed every round, so each round's plan is constant-
    size (same pattern as dedup.duplicate_clusters_star — without it the
    fold expressions nest and Catalyst re-analyzes the whole merge
    history every action).
    """
    merges: list[tuple[str, str]] = []
    vocab = vocab.localCheckpoint()
    while len(merges) < n_merges:
        want = min(batch, n_merges - len(merges))
        # over-fetch so symbol-overlapping candidates can be skipped
        top = (
            pair_counts(vocab)
            .filter(F.col("pair_count") >= min_freq)
            .orderBy(F.desc("pair_count"), "left_sym", "right_sym")
            .limit(4 * want)
            .collect()
        )
        if not top:
            break
        used: set[str] = set()
        round_merges: list[tuple[str, str]] = []
        for row in top:
            if len(round_merges) == want:
                break
            syms = {row.left_sym, row.right_sym, row.left_sym + row.right_sym}
            # disjointness makes batched application order-independent:
            # a pair that shares no symbol with an earlier merge (nor
            # with its merged output) can't consume or produce it
            if used & syms:
                continue
            used |= syms
            round_merges.append((row.left_sym, row.right_sym))
        if not round_merges:
            # all candidates overlap pending symbols — fall back to
            # strictly sequential for this round
            round_merges = [(top[0].left_sym, top[0].right_sym)]
        col = F.col("syms")
        for left, right in round_merges:
            col = _apply_merge(col, left, right)
        vocab = vocab.withColumn("syms", col).localCheckpoint()
        merges.extend(round_merges)
    return merges, vocab


def segment_words(words: DataFrame, merges: list[tuple[str, str]],
                  word_col: str = "word") -> DataFrame:
    """Tokenize new words with a learned merge table: apply every merge
    in learned order (the standard BPE inference fold). Adds ``syms``.

    Applies all merges in ONE nested native expression — fine for the
    usual few-hundred merge tables; for very large tables chunk with
    localCheckpoint like learn_bpe does.
    """
    col: Column = F.expr(
        f"filter(split({word_col}, ''), x -> x <> '')"
    )
    for left, right in merges:
        col = _apply_merge(col, left, right)
    return words.withColumn("syms", col)
