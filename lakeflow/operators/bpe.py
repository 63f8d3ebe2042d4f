"""Distributed byte-pair-encoding (BPE) merge learning.

Completes the tokenizer side of the training-data chain (vocab →
merges → tokenize-to-ids → pack → shards): learn the merge table
itself from the corpus, Spark-first.

The scale insight is classic BPE's: training never touches the corpus
per round — it runs over the DISTINCT-WORD frequency table (one
explode + hash-agg, done once), which is orders of magnitude smaller
than the corpus and shrinks further as merges fuse symbols. Each round
is then:

1. adjacent-symbol pair counts weighted by word frequency — one
   explode over the word table + one map-side-combined hash-agg;
2. best pair = ``orderBy(count desc, pair asc).limit(1)`` — a
   TakeOrdered 1-row collect (the same bounded driver action the
   k-means/PQ fitters use; never a full sort);
3. apply the merge to every word's symbol array — a pure higher-order
   ``aggregate`` fold (leftmost-first, the reference BPE behavior),
   no explode, no shuffle, no Python.

The per-round word table is persisted and the previous round's
unpersisted, so round r costs one scan of the CURRENT word table, not
r re-derivations. Driver state is the merge list (n_merges tuples) —
bounded, like centroids in the k-means fitter.

Exactness: counts are integers, ties break on the pair's lexicographic
order, so the learned merge sequence is deterministic across engines,
partitionings, and reruns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lakeflow.caching import persist


def word_counts(df: DataFrame, text_col: str) -> DataFrame:
    """(word, n) distinct-word frequencies — the BPE training relation."""
    from lakeflow.operators.text import tokens

    return (
        df.select(F.explode(tokens(text_col)).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def symbolize(words: DataFrame) -> DataFrame:
    """Add the initial symbol sequence: one character per symbol."""
    return words.withColumn("syms", F.split(F.col("word"), ""))


def pair_counts(words: DataFrame) -> DataFrame:
    """(left, right, pair_count) for every adjacent symbol pair across
    the word table, weighted by word frequency. One explode + one
    hash-agg; words of a single symbol contribute nothing."""
    pairs = words.filter(F.size("syms") >= 2).select(
        F.col("n"),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("syms") - 2),
                lambda i: F.struct(
                    F.get("syms", i).alias("left"),
                    F.get("syms", i + 1).alias("right"),
                ),
            )
        ).alias("p"),
    )
    return pairs.groupBy(
        F.col("p.left").alias("left"), F.col("p.right").alias("right")
    ).agg(F.sum("n").alias("pair_count"))


def apply_merge(words: DataFrame, left: str, right: str) -> DataFrame:
    """Fuse every adjacent (left, right) symbol occurrence into one
    symbol, leftmost-first (reference BPE semantics: in 'aaa' with merge
    (a,a) the first two fuse, the third survives) — a pure fold over
    the symbol array, evaluated in codegen."""
    merged = F.lit(left + right)
    folded = F.aggregate(
        F.col("syms"),
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) >= 1)
            & (F.element_at(acc, -1) == F.lit(left))
            & (x == F.lit(right)),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(merged)),
        ).otherwise(F.concat(acc, F.array(x))),
    )
    return words.withColumn("syms", folded)


def learn_bpe(
    df: DataFrame,
    text_col: str,
    n_merges: int,
) -> tuple[list[tuple[str, str]], DataFrame]:
    """Learn ``n_merges`` BPE merges from the corpus. Returns
    (merge list in learned order, final symbolized word table).

    Each round's 1-row argmax collect is the only driver action; ties
    break (count desc, left asc, right asc) so the sequence is
    deterministic. Stops early when no pair repeats."""
    words = persist(symbolize(word_counts(df, text_col)))
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        best = (
            pair_counts(words)
            .orderBy(
                F.col("pair_count").desc(),
                F.col("left").asc(),
                F.col("right").asc(),
            )
            .limit(1)
            .collect()
        )
        if not best or best[0].pair_count < 2:
            break
        left, right = best[0].left, best[0].right
        merges.append((left, right))
        nxt = persist(apply_merge(words, left, right))
        nxt.count()  # materialize before dropping the parent
        words.unpersist()
        words = nxt
    return merges, words


def segment_words(words: DataFrame, merges: list[tuple[str, str]]) -> DataFrame:
    """Apply an already-learned merge sequence to a (word, n) table —
    the inference half: segment NEW words with a persisted merge table
    without re-training (merges apply in learned order, leftmost-first
    within each)."""
    out = symbolize(words)
    for left, right in merges:
        out = apply_merge(out, left, right)
    return out
