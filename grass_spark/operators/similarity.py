"""Similarity search over embedding columns (``array<float>``).

* :func:`cosine_topk` — brute-force exact top-k: broadcast the query
  set, cross join, JVM-side dot product (``zip_with`` + ``aggregate``
  higher-order functions — no UDF), window rank.  The baseline: exact,
  one pass over the corpus, scales linearly with |corpus|x|queries|.
* :func:`hard_negatives` / :func:`mrl_rerank` — negative mining and
  the truncated-then-exact re-rank cascade on the same sharded top-k.
* :func:`_cell_of` / :func:`_top_cells` — the IVF cell assignment and
  probe expressions :func:`grass_spark.operators.pq.ivf_pq_topk` runs.

At 100 TB the corpus never collects: the broadcast side is just the
query batch, and top-k is a two-stage sharded selection.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from grass_spark.functions.litexpr import darr, dlit, dot_sql


def _as_double(c) -> Column:
    return F.transform(c, lambda x: x.cast("double"))


def dot(a, b) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def l2norm(c) -> Column:
    return F.sqrt(F.aggregate(
        F.transform(c, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
    ))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str | None = None,
    q_vec_col: str | None = None,
    salts: int = 16,
) -> DataFrame:
    """Exact top-k neighbors per query (query side broadcast)."""
    q_id_col = q_id_col or id_col
    q_vec_col = q_vec_col or vec_col
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("_e")
    )
    q = queries.select(
        F.col(q_id_col).alias("q_id"), _as_double(q_vec_col).alias("_qe")
    )
    pairs = F.broadcast(q).crossJoin(c).filter(F.col("neighbor_id") != F.col("q_id"))
    sim = dot("_qe", "_e") / (l2norm("_qe") * l2norm("_e"))
    return _topk_per_query(
        pairs.select("q_id", "neighbor_id", sim.alias("cosine")), k, salts
    )


def _topk_per_query(scored: DataFrame, k: int, salts: int = 16) -> DataFrame:
    """Exact top-``k`` per ``q_id`` over (q_id, neighbor_id, cosine)
    rows — TWO-STAGE: a window over ``(q_id, shard-of-neighbor)``
    keeps a local top-``k`` (each task sees ~|corpus|/salts rows per
    query), then the final window ranks only the ``<= salts*k``
    survivors.  A bare ``partitionBy(q_id)`` window would funnel every
    scored corpus row for one query into ONE task — |corpus| rows per
    task at brute-force scale.  Stage 1 is exact-superset for the
    total order (cosine DESC, neighbor ASC), so the composition equals
    the single-window answer bit-for-bit (same machinery as
    operators/caps.py; pinned by tests/test_operators_ext.py)."""
    shard = F.pmod(F.xxhash64("neighbor_id"), F.lit(salts)).cast("int")
    local = Window.partitionBy("q_id", "_s").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    final = Window.partitionBy("q_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("_s", shard)
        .withColumn("_rn", F.row_number().over(local))
        .filter(F.col("_rn") <= k)
        .withColumn("rank", F.row_number().over(final))
        .filter(F.col("rank") <= k)
        .drop("_s", "_rn")
    )


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    q_id_col: str | None = None,
    q_vec_col: str | None = None,
    q_label_col: str | None = None,
    salts: int = 16,
) -> DataFrame:
    """Contrastive hard-negative mining: for each query, the ``k``
    most-cosine-similar corpus vectors whose ``label_col`` DIFFERS
    from the query's — the near-the-boundary negatives a contrastive
    or reranker trainer wants (DPR / Contriever recipe: negatives that
    look like positives).

    Ranks on the 6-dp-ROUNDED cosine (ties -> smallest neighbor id):
    JVM vs libm fused-multiply differences flip unrounded ranks at
    near-ties, and a near-tie is exactly where hard negatives live.
    Output: (q_id, rank, neighbor_id, label, cosine).

    Scale shape: query side broadcast (the query set is the small side
    by contract), label exclusion is a scan-stage predicate BEFORE any
    ranking work, and top-k runs the two-stage sharded selection
    (:func:`_topk_per_query`) — no per-query single-task window.
    """
    q_id_col = q_id_col or id_col
    q_vec_col = q_vec_col or vec_col
    q_label_col = q_label_col or label_col
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(vec_col).alias("_e"),
        F.col(label_col).alias("label"),
    )
    q = queries.select(
        F.col(q_id_col).alias("q_id"),
        _as_double(q_vec_col).alias("_qe"),
        F.col(q_label_col).alias("_ql"),
    )
    pairs = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("label") != F.col("_ql"))
    )
    sim = F.round(dot("_qe", "_e") / (l2norm("_qe") * l2norm("_e")), 6)
    topk = _topk_per_query(
        pairs.select("q_id", "neighbor_id", "label", sim.alias("cosine")),
        k, salts,
    )
    return topk.select("q_id", "rank", "neighbor_id", "label", "cosine")


def mrl_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    trunc_dims: int,
    shortlist: int = 50,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str | None = None,
    q_vec_col: str | None = None,
    salts: int = 16,
) -> DataFrame:
    """Matryoshka coarse-to-fine retrieval: shortlist ``shortlist``
    candidates per query by cosine over the FIRST ``trunc_dims``
    dimensions (MRL-style truncated embeddings are trained so prefixes
    stay meaningful), then re-rank the shortlist EXACTLY on the full
    vector and keep top ``k``.

    Returns (q_id, rank, neighbor_id, cosine, cosine_trunc) — rank by
    (full cosine desc, neighbor asc), both cosines 6-dp rounded BEFORE
    their respective rankings (cross-engine tie discipline; the
    shortlist membership itself must be deterministic or the re-rank
    input differs between engines).

    Scale shape: stage 1 scores ``trunc_dims``-element folds instead
    of full-width ones (the arithmetic saving is the point of MRL) and
    selects via the two-stage sharded top-m (:func:`_topk_per_query`);
    stage 2 touches only |queries| * shortlist rows — it fetches full
    vectors by joining the shortlist back to the corpus with the
    SHORTLIST as the broadcast build side, so the corpus is probed,
    never shuffled.  The final window orders <= ``shortlist`` rows per
    query.  Unlike PQ/IVF this is a lossy-then-exact cascade with no
    trained artifact — the candidate-covers-truth caveat of
    ``operators/pq.py`` applies identically: guarantee recall by
    sizing ``shortlist``, verified against brute force in tests.
    """
    if trunc_dims < 1:
        raise ValueError("mrl_rerank: trunc_dims must be >= 1")
    if shortlist < k:
        raise ValueError("mrl_rerank: shortlist must be >= k")
    q_id_col = q_id_col or id_col
    q_vec_col = q_vec_col or vec_col
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("_e")
    ).localCheckpoint(eager=False)  # scored in stage 1 AND probed in
    # stage 2 — two consumers of one scan (the bm25 census lesson)
    q = queries.select(
        F.col(q_id_col).alias("q_id"), _as_double(q_vec_col).alias("_qe")
    ).localCheckpoint(eager=False)
    ct = F.slice("_e", 1, int(trunc_dims))
    qt = F.slice("_qe", 1, int(trunc_dims))
    pairs = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("neighbor_id") != F.col("q_id"))
        .select(
            "q_id",
            "neighbor_id",
            F.round(
                dot(qt, ct) / (l2norm(qt) * l2norm(ct)), 6
            ).alias("cosine"),
        )
    )
    short = _topk_per_query(pairs, int(shortlist), salts).select(
        "q_id", "neighbor_id", F.col("cosine").alias("cosine_trunc")
    )
    # full-vector re-rank: shortlist (|q| * shortlist rows) is the
    # broadcast build side against the corpus probe + the query side
    refetched = F.broadcast(short).join(c, "neighbor_id").join(
        F.broadcast(q), "q_id"
    )
    full = F.round(
        dot("_qe", "_e") / (l2norm("_qe") * l2norm("_e")), 6
    )
    w = Window.partitionBy("q_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        refetched.select(
            "q_id", "neighbor_id", "cosine_trunc", full.alias("cosine")
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(k))
        .select("q_id", "rank", "neighbor_id", "cosine", "cosine_trunc")
    )


# ---------------------------------------------------------------------
# IVF (inverted-file) cell assignment and probe, used by pq.ivf_pq_topk
# ---------------------------------------------------------------------


def _cell_scored_sql(vec: str, centroids: list[list[float]],
                     idx_field: str, neg: bool) -> str:
    """SQL text of the (score, ±ordinal) struct array over centroid
    literals — one F.expr parse instead of O(k*dims) py4j calls (see
    functions/litexpr.py; same tree as the Column builder it
    replaces)."""
    parts = []
    for i, c in enumerate(centroids):
        half_norm = sum(v * v for v in c) / 2.0
        parts.append(
            f"named_struct('s', {dot_sql(vec, darr(c))} - "
            f"{dlit(half_norm)}, '{idx_field}', {-i if neg else i})"
        )
    return "array(" + ", ".join(parts) + ")"


def _cell_of(vec: str, centroids: list[list[float]]) -> Column:
    """argmin distance over centroid literals == argmax(dot - |c|^2/2);
    pure column arithmetic, broadcast-free (literals travel in the
    plan).  ``vec`` is the NAME of the vector column."""
    arr = _cell_scored_sql(vec, centroids, "ni", neg=True)
    return F.expr(f"CAST(-(array_max({arr}).ni) AS INT)")


def _top_cells(vec: str, centroids: list[list[float]],
               nprobe: int) -> Column:
    """Array of the nprobe best cell ids for a query vector column
    named ``vec``."""
    arr = _cell_scored_sql(vec, centroids, "i", neg=False)
    return F.expr(
        f"transform(slice(reverse(array_sort({arr})), 1, {int(nprobe)}), "
        "s -> s.i)"
    )


