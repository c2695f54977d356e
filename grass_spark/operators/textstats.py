"""Text analysis operators for training-data pipelines.

Greedy subword tokenization and token counting, text normalization,
compression ratio, readability and lexical diversity — pure column
expressions (regexp/split/higher-order functions) wherever Spark has
them.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf type hints resolve here
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from grass_spark.operators.parallel import spread

# Deterministic built-in subword vocabulary for the greedy tokenizer:
# frequent English function words + productive affixes/fragments.  Small
# on purpose — callers training real models pass their model's vocab;
# the point of the default is a stable, engine-portable contract.
DEFAULT_SUBWORDS = (
    "the and that have with this from they will would there their what "
    "about which when make like time just know people into year your "
    "good some could them other than then now look only come over think "
    "also back after work first well even want because these give most "
    "tion ing ment ness able ible ally ible ous ive ful less est ers ed "
    "er ly re un in on at an en es al ar or it is to of be as by we he "
    "do if no so up my me us am ch sh th qu st tr pl gr br"
).split()


def greedy_vocab_pattern(vocab: list[str] | tuple[str, ...]) -> str:
    """Compile a subword vocabulary into ONE regex implementing greedy
    longest-match-at-each-position tokenization (the WordPiece /
    MaxMatch family; true BPE replays merge order, this replays the
    final vocab greedily — the standard fast approximation).

    Regex alternation is leftmost-FIRST in both java.util.regex and
    RE2, so sorting alternatives by descending length makes the first
    (= chosen) alternative at each position the LONGEST matching piece
    — exactly greedy tokenization, with a single-character fallback for
    out-of-vocab bytes.  The vocab therefore ships to executors as one
    literal in the plan (zero Python, zero shuffle) and the identical
    pattern string replays bit-for-bit in DuckDB's regexp_extract_all.
    """
    import re as _re

    pieces = sorted(set(vocab), key=lambda p: (-len(p), p))
    return "(" + "|".join(_re.escape(p) for p in pieces) + "|[^ ])"


def subword_token_counts(
    df: DataFrame,
    vocab: list[str] | tuple[str, ...] = DEFAULT_SUBWORDS,
    *,
    text_col: str = "text",
    out: str = "n_subword_tokens",
) -> DataFrame:
    """Tokenizer-accurate token counts: greedy longest-match subword
    tokenization against ``vocab`` (see :func:`greedy_vocab_pattern`).

    Whitespace counts under-estimate what a trained tokenizer produces
    (long/rare words explode into pieces); mixture and packing budgets
    keyed on whitespace therefore mis-size training sequences.  This
    count is a pure scan-stage expression over the compiled vocab —
    at 100 TB it adds zero shuffles and stays inside codegen.
    """
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    pat = greedy_vocab_pattern(vocab)
    return spread(df).withColumn(
        out,
        F.size(F.regexp_extract_all(norm, F.lit(pat), F.lit(0))).cast("long"),
    )


def canonical_vocab(vocab: list[str] | tuple[str, ...]) -> list[str]:
    """The id-assignment order shared by :func:`greedy_vocab_pattern`
    and :func:`subword_encode`: descending length, then lexicographic —
    piece i gets token id i."""
    return sorted(set(vocab), key=lambda p: (-len(p), p))


def subword_encode(
    df: DataFrame,
    vocab: list[str] | tuple[str, ...] = DEFAULT_SUBWORDS,
    *,
    text_col: str = "text",
    out: str = "token_ids",
) -> DataFrame:
    """Greedy-subword tokenization to the TOKEN-ID sequence a trainer
    consumes (``array<int>``), plus ``n_tokens``.

    Ids are the piece's position in :func:`canonical_vocab`;
    out-of-vocab single characters (the pattern's ``[^ ]`` fallback)
    map to ``len(vocab) + codepoint`` — a disjoint, deterministic byte
    range.  Whitespace separates pieces but emits no token (matching
    :func:`subword_token_counts`).  The pieces are
    one ``regexp_extract_all`` over the compiled vocab pattern and the
    id lookup is a ``transform`` over a broadcast map LITERAL (plan
    constant — capture-safe, zero Python, zero shuffle; the whole
    encode stays inside the scan stage at any corpus size).
    """
    pieces_v = canonical_vocab(vocab)
    pat = greedy_vocab_pattern(vocab)
    id_map = F.create_map(
        *[c for i, p in enumerate(pieces_v) for c in (F.lit(p), F.lit(i))]
    )
    oov_base = F.lit(len(pieces_v))
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    pieces = F.regexp_extract_all(norm, F.lit(pat), F.lit(0))
    staged = spread(df).withColumn("_pieces", pieces)
    ids = F.transform(
        F.col("_pieces"),
        lambda p: F.coalesce(
            F.element_at(id_map, p), F.ascii(p) + oov_base
        ).cast("int"),
    )
    return (
        staged.withColumn(out, ids)
        .withColumn("n_tokens", F.size(F.col(out)).cast("long"))
        .drop("_pieces")
    )


def compression_ratio(
    df: DataFrame,
    *,
    text_col: str = "text",
    out: str = "zlib_ratio",
    level: int = 6,
) -> DataFrame:
    """Entropy-proxy quality signal (the RedPajama-v2 / Dolma
    compression-ratio rule): zlib-compressed size over raw UTF-8 size.
    Highly repetitive boilerplate compresses far below natural prose;
    random junk sits near (or above) 1.  Rows with empty text get NULL
    (no evidence).

    zlib has no JVM-expression or SQL equivalent, so this is the
    engine's one declared Python-path text signal: an Arrow-batched
    ``pandas_udf`` (vectorized transfer, per-batch Python loop over
    byte strings — compression itself dominates, not the loop).  No
    oracle entry by design; pinned by ordering/threshold unit tests
    and a stream==batch test.
    """
    import zlib

    @F.pandas_udf("double")
    def _ratio(batch: pd.Series) -> pd.Series:
        outv = []
        for t in batch:
            if not t:
                outv.append(None)
                continue
            raw = t.encode("utf-8")
            outv.append(len(zlib.compress(raw, level)) / len(raw))
        return pd.Series(outv, dtype="float64")

    return df.withColumn(out, _ratio(F.col(text_col)))


#: typographic -> ASCII unification map (applied before whitespace
#: collapse; literal replaces, no regex)
NORMALIZE_REPLACEMENTS = (
    ("“", '"'), ("”", '"'), ("„", '"'),
    ("‘", "'"), ("’", "'"),
    ("–", "-"), ("—", "-"),
    ("…", "..."),
    (" ", " "),  # non-breaking space is NOT \s in Java/RE2
)

_CONTROL_PAT = r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]"


def normalize_text(
    df: DataFrame,
    *,
    text_col: str = "text",
    out: str = "norm_text",
    lowercase: bool = True,
) -> DataFrame:
    """Canonical text normalization — the step every dedup/hash key
    should share: typographic quotes/dashes/ellipses to ASCII,
    non-breaking spaces to spaces, control characters stripped,
    whitespace collapsed to single spaces, trimmed, optionally
    lowercased.

    Pure scan-stage expressions (literal ``replace`` chain + two
    regexps) — zero shuffle; every piece replays bit-for-bit in DuckDB
    (literal replaces are engine-agnostic, the control class is plain
    ASCII ranges in both regex dialects, and ``\\s`` is the same ASCII
    set in Java and RE2 once NBSP is handled by the replace chain).
    """
    c = F.col(text_col)
    for a, b in NORMALIZE_REPLACEMENTS:
        c = F.replace(c, F.lit(a), F.lit(b))
    c = F.regexp_replace(c, _CONTROL_PAT, "")
    c = F.trim(F.regexp_replace(c, r"\s+", " "))
    if lowercase:
        c = F.lower(c)
    return df.withColumn(out, c)


def readability(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_cols: tuple[str, ...] = ("doc_id",),
) -> DataFrame:
    """Per-document Flesch reading ease + Flesch–Kincaid grade.

    Heuristic components, all scan-stage expressions (0 Exchange, no
    Python): sentences = runs of ``[.!?]`` (min 1), words =
    whitespace tokens of the normalized text, syllables = vowel
    groups per word with a floor of 1 (the standard cheap proxy).
    The syllable fold's lambda touches only its own arguments — no
    captured derived expression (the CollapseProject hazard).  Every
    piece replays bit-for-bit in DuckDB (``regexp_count`` ==
    ``len(regexp_extract_all)``); the score divisions cast exact
    integer counts to double in a fixed order and round to 6 dp.

    Reference analog: r.univar-style per-map scalar summaries
    (``raster/r.univar``) — per-document scalar quality metrics.
    """
    from grass_spark.operators.dedup import normalize_text as _nrm

    t = _nrm(F.col(text_col))
    words = F.split(t, " ")
    n_words = F.size(words).cast("long")
    n_sent = F.greatest(
        F.regexp_count(F.col(text_col), F.lit(r"[.!?]+")), F.lit(1)
    ).cast("long")
    n_syll = F.aggregate(
        words,
        F.lit(0).cast("long"),
        lambda acc, w: acc
        + F.greatest(
            F.regexp_count(w, F.lit("[aeiouy]+")), F.lit(1)
        ).cast("long"),
    )
    wps = n_words.cast("double") / n_sent.cast("double")
    spw = n_syll.cast("double") / n_words.cast("double")
    return df.select(
        *id_cols,
        n_words.alias("n_words"),
        n_sent.alias("n_sentences"),
        n_syll.alias("n_syllables"),
        F.round(
            F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw, 6
        ).alias("flesch"),
        F.round(
            F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59), 6
        ).alias("fk_grade"),
    )


def lexical_diversity(
    df: DataFrame,
    *,
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Per-group lexical diversity: token/type counts, type-token
    ratio, and hapax share (fraction of types occurring exactly once).

    One map-side-combinable census on (group, word) absorbs corpus
    volume; the per-group rollup runs over census rows only.  Returns
    ``(group_col, n_tokens, n_types, ttr, hapax_share)``.
    """
    from grass_spark.operators.dedup import normalize_text as _nrm

    census = (
        df.select(
            F.col(group_col).alias("_g"),
            F.explode(F.split(_nrm(F.col(text_col)), " ")).alias("_w"),
        )
        .groupBy("_g", "_w")
        .agg(F.count(F.lit(1)).alias("_f"))
    )
    out = census.groupBy("_g").agg(
        F.sum("_f").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum(F.when(F.col("_f") == 1, 1).otherwise(0)).alias("_hapax"),
    )
    return out.select(
        F.col("_g").alias(group_col),
        "n_tokens",
        "n_types",
        F.round(
            F.col("n_types").cast("double")
            / F.col("n_tokens").cast("double"),
            6,
        ).alias("ttr"),
        F.round(
            F.col("_hapax").cast("double")
            / F.col("n_types").cast("double"),
            6,
        ).alias("hapax_share"),
    ).orderBy(group_col)
