"""BPE vocabulary training (Sennrich et al. 2016, word-frequency form).

Learns byte-pair-encoding merges from a corpus — the missing third of
the tokenizer story beside counting (textstats.subword_token_counts)
and budgeting (pack/sampling).  Uses the standard word-frequency
optimization (every practical BPE trainer does): the corpus is scanned
ONCE to build the (word, freq) vocabulary, and all merge rounds run on
that vocabulary-sized frame — at 100 TB the corpus pass is one
map-side-combinable groupBy and the training loop never touches the
corpus again.

Each round:

* adjacent symbol pairs explode from the vocab (output ∝ symbols),
  weighted by word freq; one small groupBy(pair) picks the most
  frequent pair (ties → lexicographically smallest, deterministic);
* the merge applies to every vocab word as a left-to-right
  ``aggregate`` fold over the symbol array (leftmost-first,
  non-overlapping — the reference BPE semantics), entirely JVM-side;
* the vocab frame localCheckpoints eagerly per round — it is tiny, and
  without the cut each round's plan re-executes every previous round.

The merge list is deterministic for a given corpus, so the driver
query replays bit-identically; the per-round argmax is iterative and
not expressible as one SQL query, so the query is rows-only by design
(same class as infer_granularity).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def word_frequencies(
    df: DataFrame, *, text_col: str = "text"
) -> DataFrame:
    """(word, freq) — the single corpus-scale pass."""
    w = F.explode(
        F.regexp_extract_all(
            F.lower(F.col(text_col)), F.lit("[a-z0-9]+"), F.lit(0)
        )
    ).alias("word")
    return df.select(w).groupBy("word").agg(F.count(F.lit(1)).alias("freq"))


def _merge_fold(a: str, b: str):
    """Left-to-right non-overlapping merge of adjacent (a, b)."""
    merged = a + b

    def step(acc, s):
        can = (F.size(acc) > 0) & (F.element_at(acc, -1) == a) & (s == b)
        # guard: the previous symbol must not itself be the result of a
        # merge consuming this position — the fold is inherently
        # left-to-right so element_at(-1) == a is exactly the check
        return F.when(
            can,
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(F.lit(merged)),
            ),
        ).otherwise(F.concat(acc, F.array(s)))

    return step


def learn_bpe(
    df: DataFrame,
    n_merges: int,
    *,
    text_col: str = "text",
    min_pair_freq: int = 2,
) -> list[tuple[str, str, int]]:
    """Learn ``n_merges`` BPE merges; returns [(left, right, freq), ...]
    in merge order.  Stops early when no pair reaches ``min_pair_freq``.

    The returned list is the model — feed ``"".join`` of each pair into
    a tokenizer vocab (e.g. textstats greedy counting).
    """
    if n_merges < 1:
        raise ValueError(f"n_merges must be >= 1, got {n_merges}")
    vocab = word_frequencies(df, text_col=text_col).withColumn(
        "syms", F.split(F.col("word"), "")
    ).select("syms", "freq").localCheckpoint()

    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        pairs = vocab.select(
            F.explode(
                F.zip_with(
                    F.slice("syms", 1, F.size("syms") - 1),
                    F.slice("syms", 2, F.size("syms") - 1),
                    lambda a, b: F.struct(a.alias("l"), b.alias("r")),
                )
            ).alias("p"),
            "freq",
        ).groupBy("p").agg(F.sum("freq").alias("n"))
        top = pairs.orderBy(F.desc("n"), F.asc("p.l"), F.asc("p.r")).first()
        if top is None or top["n"] < min_pair_freq:
            break
        a, b, n = top["p"]["l"], top["p"]["r"], int(top["n"])
        merges.append((a, b, n))
        vocab = vocab.select(
            F.aggregate(
                "syms",
                F.array().cast("array<string>"),
                _merge_fold(a, b),
            ).alias("syms"),
            "freq",
        ).localCheckpoint()
    return merges


