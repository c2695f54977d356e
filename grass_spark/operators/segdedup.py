"""Segment-level deduplication (the CCNet / RefinedWeb line-dedup op).

Web corpora repeat boilerplate SPANS (nav bars, license footers,
templated paragraphs) inside otherwise-distinct documents; document
-level dedup never sees them.  Segment dedup splits every document
into segments, keeps only the corpus-wide FIRST occurrence of each
distinct normalized segment (ordered by (doc id, position) — fully
deterministic), and reconstructs the cleaned text.

The segmenter is :func:`segments_by_words` (fixed k-word chunks, a JVM
expression); :func:`dedup_segments` takes ``(id, seg_idx, seg)`` rows
from any segmenter.

Scale shape (100 TB corpus): segmenting is an index-explode (the words
array is materialized by the Generate row, NOT re-split per segment —
see the lambda-capture note in :func:`dedup.shingles_of_words`); first
-occurrence election is a map-side-combinable
``groupBy(seg).agg(min(struct(id, idx)))`` — NOT a window over
``partitionBy(seg)``: a boilerplate segment present in 10% of a 1e9-doc
corpus is ~1e8 rows of ONE key, and partial aggregation absorbs that
hot key inside each map task where a window would single-task it.  The
winner joins back on the full ``(seg, id, idx)`` triple (unique per
occurrence, so the join key is well spread even for the hottest
segment); reconstruction is one ``groupBy(doc)``.  Nothing is quadratic
and no segment list ever collects to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from grass_spark.operators.dedup import normalize_text


def segments_by_words(df: DataFrame, text_col: str, k: int) -> DataFrame:
    """Explode ``text_col`` into non-overlapping k-word chunk rows.

    Two steps so the split array is evaluated ONCE per row: the
    Generate (posexplode over the chunk-start index range) carries the
    materialized words array into each output row, and the chunk slice
    references that attribute — not the upstream split expression.
    """
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    d = df.withColumn("_ws", F.split(normalize_text(F.col(text_col)), " "))
    return (
        d.select(
            "*",
            F.posexplode(
                F.sequence(
                    F.lit(0),
                    F.ceil(F.size("_ws") / F.lit(k)).cast("int") - 1,
                )
            ).alias("seg_idx", "_start"),
        )
        .withColumn(
            "seg", F.array_join(F.slice("_ws", F.col("_start") * k + 1, k), " ")
        )
        .drop("_ws", "_start")
        .filter(F.col("seg") != "")
    )


def _reconstruct(
    flagged: DataFrame, id_col: str, seg_col: str, idx_col: str
) -> DataFrame:
    """One row per document from a ``_keep``-flagged segment frame:
    ``n_segments``, ``n_kept``, ``dedup_text`` (survivors re-joined in
    original order; empty string if nothing survived)."""
    return flagged.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.sum("_keep").cast("bigint").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("_keep") == 1,
                            F.struct(F.col(idx_col), F.col(seg_col).alias("s")),
                        )
                    )
                ),
                lambda x: x["s"],
            ),
            " ",
        ).alias("dedup_text"),
    )


def dedup_segments(
    segs: DataFrame,
    *,
    id_col: str = "doc_id",
    seg_col: str = "seg",
    idx_col: str = "seg_idx",
) -> DataFrame:
    """First-occurrence segment dedup + per-document reconstruction.

    Input: a segment frame from one of the segmenters.  A segment
    occurrence survives iff it is the corpus-wide first occurrence of
    its normalized text, ordered by (id, position).  Returns one row
    per input document: ``n_segments``, ``n_kept``, and ``dedup_text``
    (the surviving segments re-joined in original order; empty string
    if nothing survived).

    The election is ``min(struct(id, idx))`` per segment — identical
    semantics to a ``row_number`` window ordered by (id, idx) (the pair
    is unique per occurrence so there are no ties), but combinable:
    partial aggregation eats a hot boilerplate segment map-side where
    the window funnels every occurrence into one task.  The winner is
    re-attached via a left join on the (seg, id, idx) triple, whose
    hash spread does not degrade on a hot segment.
    """
    winners = (
        segs.groupBy(seg_col)
        .agg(
            F.min(
                F.struct(
                    F.col(id_col).alias("i"), F.col(idx_col).alias("x")
                )
            ).alias("_w")
        )
        .select(
            seg_col,
            F.col("_w.i").alias(id_col),
            F.col("_w.x").alias(idx_col),
            F.lit(1).alias("_keep"),
        )
    )
    flagged = segs.join(
        winners, on=[seg_col, id_col, idx_col], how="left"
    ).withColumn("_keep", F.coalesce(F.col("_keep"), F.lit(0)))
    return _reconstruct(flagged, id_col, seg_col, idx_col)


def strip_boilerplate(
    segs: DataFrame,
    *,
    max_docs: int | None = None,
    max_frac: float | None = None,
    id_col: str = "doc_id",
    seg_col: str = "seg",
    idx_col: str = "seg_idx",
) -> DataFrame:
    """Frequency-threshold boilerplate removal (the RefinedWeb /
    MassiveText "repeated line" rule): drop EVERY occurrence of a
    segment that appears in more than ``max_docs`` distinct documents
    (or more than ``max_frac`` of the corpus's documents) — unlike
    :func:`dedup_segments`, no occurrence of a boilerplate segment
    survives, not even the first.  Exactly one of ``max_docs`` /
    ``max_frac`` must be given.

    Returns the same per-document report shape as
    :func:`dedup_segments` (``n_segments``, ``n_kept``,
    ``dedup_text``).

    Scale shape: the document census is TWO map-side-combinable
    groupBys — ``(seg, id)`` distinct-pairs first (the hot boilerplate
    segment spreads on the pair), then ``seg`` — never a
    count-distinct window.  The over-threshold segment list is
    boilerplate-vocabulary-sized (AQE broadcasts it at runtime); the
    probe join keys on the segment hash, where each hot occurrence
    matches a single build row and AQE skew-join splits oversized
    probe partitions.  ``max_frac`` costs one extra scalar
    distinct-count action on the id column.
    """
    if (max_docs is None) == (max_frac is None):
        raise ValueError("pass exactly one of max_docs / max_frac")
    if max_frac is not None:
        if not (0.0 < max_frac <= 1.0):
            raise ValueError(f"max_frac must be in (0, 1], got {max_frac}")
        total = segs.select(id_col).distinct().count()
        max_docs = int(max_frac * total)
    if max_docs < 1:
        raise ValueError(f"max_docs must be >= 1, got {max_docs}")
    hot = (
        segs.select(seg_col, id_col)
        .distinct()
        .groupBy(seg_col)
        .agg(F.count(F.lit(1)).alias("_nd"))
        .filter(F.col("_nd") > max_docs)
        .select(seg_col, F.lit(1).alias("_hot"))
    )
    flagged = segs.join(hot, on=seg_col, how="left").withColumn(
        "_keep", F.when(F.col("_hot").isNull(), F.lit(1)).otherwise(F.lit(0))
    )
    return _reconstruct(flagged, id_col, seg_col, idx_col)
