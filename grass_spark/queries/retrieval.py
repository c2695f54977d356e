"""Retrieval queries over ``embeddings`` and ``documents``.

Exact and approximate nearest neighbours (cosine kNN, SQ8, PQ codes,
IVF-PQ, Matryoshka shortlists), BM25 and phrase search, rank fusion and
retrieval evaluation (NDCG, RBO, MRR/MAP), hard negatives, and
quantizer quality.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from grass_spark.operators.fusion import (
    mrr_ap_at_k,
    ndcg_at_k,
    rbo_overlap,
    rbo_tail_weights,
    rrf_fuse,
)
from grass_spark.operators.search import bm25_search, phrase_search
from grass_spark.operators.semdedup import (
    centroid_shift,
    cluster_quality,
    seeded_centroid_frame,
)
from grass_spark.operators.similarity import dot, l2norm, mrl_rerank
from grass_spark.queries.temporal import _t


def q_knn_cosine(spark, sf_dir):
    """Brute-force cosine top-5 neighbors for the 3 smallest vec_ids —
    the ANN baseline.  Dot product via zip_with/aggregate (JVM-side
    higher-order functions, no UDF); ordering on the rounded similarity
    with vec_id tie-break for cross-engine determinism."""
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("e")
    )
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("e").alias("qe")
    )
    dot = F.aggregate(
        F.zip_with("qe", "e", lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm = lambda c: F.sqrt(F.aggregate(  # noqa: E731
        F.transform(c, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
    ))
    pairs = (
        F.broadcast(q).crossJoin(emb)
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id", "vec_id",
            F.round(dot / (norm(F.col("qe")) * norm(F.col("e"))), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("q_id", "rank", F.col("vec_id").alias("neighbor_id"), "cosine")
    )


ORACLE_KNN_COSINE = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
q AS (SELECT vec_id AS q_id, e AS qe FROM e WHERE vec_id < 3),
pairs AS (
  SELECT q.q_id, e.vec_id,
         round(list_inner_product(q.qe, e.e)
               / (sqrt(list_inner_product(q.qe, q.qe))
                  * sqrt(list_inner_product(e.e, e.e))), 6) AS cosine
  FROM q CROSS JOIN e WHERE e.vec_id <> q.q_id
), ranked AS (
  SELECT q_id, vec_id,
         cosine,
         row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM pairs
)
SELECT q_id, CAST(rank AS BIGINT) AS rank, vec_id AS neighbor_id, cosine
FROM ranked WHERE rank <= 5
"""


def q_embed_norms(spark, sf_dir):
    """Per-label embedding stats: count + mean L2 norm (vector math via
    higher-order functions, aggregated JVM-side)."""
    emb = _t(spark, sf_dir, "embeddings")
    e = F.transform("embedding", lambda x: x.cast("double"))
    norm = F.sqrt(F.aggregate(
        F.transform(e, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
    ))
    return (
        emb.select("label", norm.alias("n"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.avg("n"), 6).alias("mean_norm"),
        )
    )


ORACLE_EMBED_NORMS = """
SELECT label,
       CAST(count(*) AS BIGINT) AS cnt,
       round(avg(sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
                                         CAST(embedding AS DOUBLE[])))), 6) AS mean_norm
FROM embeddings GROUP BY label
"""


# ---------------------------------------------------------------------
# Int8 embedding quantization (operators/quantize.py) — per-vector
# symmetric scalar quantization for ANN storage: scale = max|x|/127
# (round 6), q_i = round(x_i / scale); pure scan-stage HOFs, zero
# shuffle.  The qvec is md5'd through a canonical string so the row
# stays narrow; the per-vector mean |x - q*scale| audits the error.
# ---------------------------------------------------------------------


def q_quantize_embeddings(spark, sf_dir):
    """Quantize every embedding vector; hash the int8 vector."""
    from grass_spark.operators.quantize import quantize_embeddings

    e = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    out = quantize_embeddings(e)
    return out.select(
        "vec_id", "dims", "scale",
        F.md5(F.array_join(F.col("qvec").cast("array<string>"), ","))
            .alias("qvec_md5"),
        "mean_abs_err",
    ).orderBy("vec_id")


ORACLE_QUANTIZE = """
WITH base AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS xs
  FROM embeddings
), scaled AS (
  SELECT vec_id, xs,
         round(list_max(list_transform(xs, x -> abs(x))) / 127.0, 6)
           AS scale
  FROM base
), q AS (
  SELECT vec_id, xs, scale,
         list_transform(xs, x -> CASE WHEN scale = 0 THEN 0
                                      ELSE CAST(round(x / scale) AS INT)
                                 END) AS qvec
  FROM scaled
)
SELECT vec_id,
       CAST(len(xs) AS INT) AS dims,
       scale,
       md5(array_to_string(qvec, ',')) AS qvec_md5,
       round(list_sum(list_transform(range(1, len(xs) + 1),
               i -> abs(xs[i] - qvec[i] * scale))) / len(xs), 6)
         AS mean_abs_err
FROM q ORDER BY vec_id
"""


# ---------------------------------------------------------------------
# Product quantization (operators/pq.py) — m=8 subspaces x k=16 seeded
# centroids over the 64-d embeddings.  Codes hash-gate the full
# argmin chain (distances are pure IEEE *,-,+ folds in identical
# left-to-right order, rounded 6 dp before the argmin — bit-identical
# across engines); recon_err sums the chosen distances in subspace
# order (DuckDB list(ORDER BY j) -> list_sum replays Spark's chain).
# ---------------------------------------------------------------------

_PQ_M, _PQ_K = 8, 16


def q_pq_codes(spark, sf_dir):
    """PQ-encode every embedding: the m-code vector (hashed) plus the
    per-vector quantization distortion."""
    from grass_spark.operators.pq import pq_codebook, pq_encode

    e = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cb = pq_codebook(e, _PQ_M, _PQ_K)
    out = pq_encode(e, cb, with_err=True)
    return out.select(
        "vec_id",
        F.md5(F.array_join(F.col("codes").cast("array<string>"), ","))
            .alias("codes_md5"),
        "recon_err",
    ).orderBy("vec_id")


_PQ_SUB = 64 // _PQ_M

#: shared PQ chain: e (double vectors), centn (seeded codebook rows),
#: sub/csub (subvectors), best (per (vec, j) argmin), codes (+ recon)
_SQL_PQ_COMMON = f"""e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), centn AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, v
  FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT {_PQ_K})
), js AS (SELECT unnest(range({_PQ_M})) AS j),
sub AS (
  SELECT e.vec_id, js.j,
         e.v[js.j * {_PQ_SUB} + 1 : js.j * {_PQ_SUB} + {_PQ_SUB}] AS sv
  FROM e CROSS JOIN js
), csub AS (
  SELECT centn.c, js.j,
         centn.v[js.j * {_PQ_SUB} + 1 : js.j * {_PQ_SUB} + {_PQ_SUB}] AS cv
  FROM centn CROSS JOIN js
), d AS (
  SELECT sub.vec_id, sub.j, csub.c,
         round(list_sum(list_transform(range(1, {_PQ_SUB} + 1),
             t -> (sub.sv[t] - csub.cv[t]) * (sub.sv[t] - csub.cv[t]))), 6)
           AS dist
  FROM sub JOIN csub USING (j)
), best AS (
  SELECT vec_id, j, c, dist,
         row_number() OVER (PARTITION BY vec_id, j
                            ORDER BY dist, c) AS rn
  FROM d
), codes AS (
  SELECT vec_id,
         list(c ORDER BY j) AS codes,
         round(list_sum(list(dist ORDER BY j)), 6) AS recon_err
  FROM best WHERE rn = 1 GROUP BY vec_id
)"""

ORACLE_PQ_CODES = f"""
WITH {_SQL_PQ_COMMON}
SELECT vec_id,
       md5(array_to_string(codes, ',')) AS codes_md5,
       recon_err
FROM codes ORDER BY vec_id
"""


# ---------------------------------------------------------------------
# IVF x PQ composed search (operators/pq.py ivf_pq_topk) — the whole
# billion-scale retrieval path hash-gated end to end: seeded IVF cells
# (argmax of dot - |c|^2/2, pure IEEE fold — bit-identical unrounded),
# per-query ADC tables, code-only candidate scoring, shortlist, exact
# cosine re-rank.  Tie-break parity pinned per expression: cell argmax
# breaks ties to the SMALLEST ordinal (array_max of (s, -i)) while the
# query's probe ranking breaks to the LARGEST (reverse(array_sort) on
# (s, i)) — the oracle replays each exactly.
# ---------------------------------------------------------------------

_IVF_K, _NPROBE, _SHORTLIST, _TOPK = 8, 3, 40, 10


def q_ivf_pq_search(spark, sf_dir):
    """Top-10 by exact cosine within the ADC shortlist of the 3 probed
    IVF cells, for the 5 smallest-id query vectors over the full
    embeddings table."""
    from grass_spark.operators.pq import ivf_pq_topk, pq_codebook

    e = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = [
        [float(x) for x in r["embedding"]]
        for r in e.orderBy("vec_id").limit(_IVF_K).collect()
    ]
    cb = pq_codebook(e, _PQ_M, _PQ_K)
    q = e.filter(F.col("vec_id") < 5)
    return ivf_pq_topk(
        e, q, cents, cb, k=_TOPK, nprobe=_NPROBE, shortlist=_SHORTLIST
    ).orderBy("q_id", "rank")


ORACLE_IVF_PQ = f"""
WITH {_SQL_PQ_COMMON}, ivfc AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, v AS cv
  FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT {_IVF_K})
), cellscore AS (
  SELECT e.vec_id, ivfc.c,
         list_sum(list_transform(range(1, len(e.v) + 1),
                                 i -> e.v[i] * ivfc.cv[i]))
         - list_sum(list_transform(ivfc.cv, x -> x * x)) / 2.0 AS s
  FROM e CROSS JOIN ivfc
), cell AS (
  SELECT vec_id, c AS cell FROM (
    SELECT vec_id, c,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY s DESC, c ASC) AS rn
    FROM cellscore) WHERE rn = 1
), probes AS (
  -- query-side probe ranking ties break to the LARGER cell id
  -- (reverse(array_sort) on (s, i) structs)
  SELECT vec_id AS q_id, c AS cell FROM (
    SELECT vec_id, c,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY s DESC, c DESC) AS rn
    FROM cellscore WHERE vec_id < 5) WHERE rn <= {_NPROBE}
), qtab AS (
  -- per-query ADC table: T[j][c] = round(||q_sub_j - centroid_jc||^2, 6)
  SELECT q.vec_id AS q_id, csub.j, csub.c,
         round(list_sum(list_transform(range(1, {_PQ_SUB} + 1),
             t -> (q.v[csub.j * {_PQ_SUB} + t] - csub.cv[t])
                  * (q.v[csub.j * {_PQ_SUB} + t] - csub.cv[t]))), 6) AS t
  FROM (SELECT * FROM e WHERE vec_id < 5) q CROSS JOIN csub
), cand AS (
  SELECT p.q_id, cell.vec_id AS n_id
  FROM probes p JOIN cell ON cell.cell = p.cell
  WHERE cell.vec_id <> p.q_id
), cc AS (
  SELECT vec_id, CAST(g.j - 1 AS BIGINT) AS j, codes[g.j] AS code
  FROM codes, unnest(generate_series(1, {_PQ_M})) AS g(j)
), adct AS (
  SELECT cand.q_id, cand.n_id,
         round(list_sum(list(T.t ORDER BY T.j)), 6) AS adc
  FROM cand
  JOIN cc ON cc.vec_id = cand.n_id
  JOIN qtab T ON T.q_id = cand.q_id AND T.j = cc.j AND T.c = cc.code
  GROUP BY cand.q_id, cand.n_id
), short AS (
  SELECT q_id, n_id, adc FROM (
    SELECT q_id, n_id, adc,
           row_number() OVER (PARTITION BY q_id
                              ORDER BY adc, n_id) AS rn
    FROM adct) WHERE rn <= {_SHORTLIST}
), rescored AS (
  SELECT s.q_id, s.n_id, s.adc,
         round(list_sum(list_transform(range(1, len(qe.v) + 1),
                                       i -> qe.v[i] * ne.v[i]))
               / (sqrt(list_sum(list_transform(qe.v, x -> x * x)))
                  * sqrt(list_sum(list_transform(ne.v, x -> x * x)))), 6)
           AS cosine
  FROM short s
  JOIN e qe ON qe.vec_id = s.q_id
  JOIN e ne ON ne.vec_id = s.n_id
)
SELECT q_id, n_id AS neighbor_id, adc, cosine,
       CAST(rank AS INT) AS rank
FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id
                               ORDER BY cosine DESC, n_id ASC) AS rank
  FROM rescored) WHERE rank <= {_TOPK}
ORDER BY q_id, rank
"""


# ---------------------------------------------------------------------
# hard-negative mining — top-5 cross-label neighbors per query vector
# ---------------------------------------------------------------------

def q_hard_negatives(spark, sf_dir):
    from grass_spark.operators.similarity import hard_negatives

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 3)
    out = hard_negatives(emb, q, k=5)
    return out.orderBy("q_id", "rank")


ORACLE_HARD_NEGATIVES = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e, label
           FROM embeddings),
q AS (SELECT vec_id AS q_id, e AS qe, label AS ql FROM e WHERE vec_id < 3),
pairs AS (
  SELECT q.q_id, e.vec_id, e.label,
         round(list_inner_product(q.qe, e.e)
               / (sqrt(list_inner_product(q.qe, q.qe))
                  * sqrt(list_inner_product(e.e, e.e))), 6) AS cosine
  FROM q CROSS JOIN e
  WHERE e.label <> q.ql AND e.vec_id <> q.q_id
), ranked AS (
  SELECT q_id, vec_id, label, cosine,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM pairs
)
SELECT q_id, CAST(rank AS BIGINT) AS rank, vec_id AS neighbor_id,
       label, cosine
FROM ranked WHERE rank <= 5
ORDER BY q_id, rank
"""


# ---------------------------------------------------------------------
# BM25 retrieval — 3 probe queries over the documents table, top-10
# docs each.  k1 = 1.2, b = 0.75; Spark literal k1+1.0 (Python sum)
# rounds to the same double as the SQL literal 2.2 (verified).
# ---------------------------------------------------------------------

_BM25_QUERIES = [
    (1, "hash join table"),
    (2, "window agg batch"),
    (3, "slow query scan"),
]


def q_bm25_search(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    q = spark.createDataFrame(
        _BM25_QUERIES, "query_id int, q_text string"
    )
    return bm25_search(docs, q, top_k=10).orderBy("query_id", "rank")


ORACLE_BM25 = """
WITH q(query_id, q_text) AS (
  VALUES (1, 'hash join table'),
         (2, 'window agg batch'),
         (3, 'slow query scan')
),
qt AS (
  SELECT DISTINCT query_id,
         unnest(regexp_extract_all(lower(q_text), '[a-z0-9]+')) AS word
  FROM q
),
w AS (
  SELECT doc_id,
         unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word
  FROM documents
),
tf AS (SELECT doc_id, word, count(*) AS tf FROM w GROUP BY 1, 2),
dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
dfreq AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
sc AS (
  SELECT (SELECT count(*) FROM documents) AS n_docs,
         (SELECT sum(tf) FROM tf) AS total_tokens
),
contrib AS (
  SELECT qt.query_id, tf.doc_id,
         ln(CAST(1 AS DOUBLE)
            + (CAST(sc.n_docs AS DOUBLE) - CAST(dfreq.df AS DOUBLE)
               + CAST(0.5 AS DOUBLE))
              / (CAST(dfreq.df AS DOUBLE) + CAST(0.5 AS DOUBLE)))
         * ((CAST(tf.tf AS DOUBLE) * CAST(2.2 AS DOUBLE))
            / (CAST(tf.tf AS DOUBLE)
               + CAST(1.2 AS DOUBLE)
                 * (CAST(0.25 AS DOUBLE)
                    + CAST(0.75 AS DOUBLE)
                      * (CAST(dl.dl AS DOUBLE)
                         / (CAST(sc.total_tokens AS DOUBLE)
                            / CAST(sc.n_docs AS DOUBLE)))))) AS c
  FROM tf
  JOIN qt USING (word)
  JOIN dfreq USING (word)
  JOIN dl USING (doc_id)
  CROSS JOIN sc
),
scored AS (
  SELECT query_id, doc_id, CAST(count(*) AS BIGINT) AS n_terms,
         round(sum(c), 6) AS score
  FROM contrib GROUP BY 1, 2
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY score DESC, doc_id ASC) AS rank
  FROM scored
)
SELECT query_id, doc_id, n_terms, score, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 10
ORDER BY query_id, rank
"""


# =====================================================================
# Hybrid-retrieval rank fusion (operators/fusion.py), Matryoshka
# truncated-dim shortlist with exact full-dim re-rank
# (operators/similarity.py) and NDCG retrieval evaluation
# (operators/fusion.py).
# =====================================================================


# ---------------------------------------------------------------------
# reciprocal-rank fusion: BM25 lexical + dense cosine hybrid
# ---------------------------------------------------------------------
#
# The testdata convention doc_id == vec_id (operators/corpus.py's
# semantic stage) makes the hybrid real: each query carries BOTH a
# text (BM25 over documents) and a seed vector (cosine over
# embeddings, seed vec_id = 100 + query_id, seed excluded from its
# own candidates); RRF fuses the two top-20 lists.


def _dense_ranking(spark, sf_dir, top: int):
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    q = emb.filter(F.col("vec_id").isin(101, 102, 103)).select(
        (F.col("vec_id") - 100).cast("int").alias("query_id"),
        F.col("vec_id").alias("seed_id"),
        F.col("e").alias("qe"),
    )
    sim = F.round(
        dot("qe", "e") / (l2norm("qe") * l2norm("e")), 6
    )
    pairs = (
        F.broadcast(q)
        .crossJoin(emb)
        .filter(F.col("vec_id") != F.col("seed_id"))
        .select("query_id", F.col("vec_id").alias("doc_id"), sim.alias("c"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("c"), F.asc("doc_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top)
        .select("query_id", "doc_id", "rank")
    )


def q_rrf_fusion(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    q = spark.createDataFrame(_BM25_QUERIES, "query_id int, q_text string")
    lex = bm25_search(docs, q, top_k=20).select("query_id", "doc_id", "rank")
    dense = _dense_ranking(spark, sf_dir, 20)
    return rrf_fuse([lex, dense], k_rrf=60, top_k=10).orderBy(
        "query_id", "rank"
    )


ORACLE_RRF_FUSION = """
WITH q(query_id, q_text) AS (
  VALUES (1, 'hash join table'),
         (2, 'window agg batch'),
         (3, 'slow query scan')
),
qt AS (
  SELECT DISTINCT query_id,
         unnest(regexp_extract_all(lower(q_text), '[a-z0-9]+')) AS word
  FROM q
),
w AS (
  SELECT doc_id,
         unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word
  FROM documents
),
tf AS (SELECT doc_id, word, count(*) AS tf FROM w GROUP BY 1, 2),
dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
dfreq AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
sc AS (
  SELECT (SELECT count(*) FROM documents) AS n_docs,
         (SELECT sum(tf) FROM tf) AS total_tokens
),
contrib AS (
  SELECT qt.query_id, tf.doc_id,
         ln(CAST(1 AS DOUBLE)
            + (CAST(sc.n_docs AS DOUBLE) - CAST(dfreq.df AS DOUBLE)
               + CAST(0.5 AS DOUBLE))
              / (CAST(dfreq.df AS DOUBLE) + CAST(0.5 AS DOUBLE)))
         * ((CAST(tf.tf AS DOUBLE) * CAST(2.2 AS DOUBLE))
            / (CAST(tf.tf AS DOUBLE)
               + CAST(1.2 AS DOUBLE)
                 * (CAST(0.25 AS DOUBLE)
                    + CAST(0.75 AS DOUBLE)
                      * (CAST(dl.dl AS DOUBLE)
                         / (CAST(sc.total_tokens AS DOUBLE)
                            / CAST(sc.n_docs AS DOUBLE)))))) AS c
  FROM tf
  JOIN qt USING (word)
  JOIN dfreq USING (word)
  JOIN dl USING (doc_id)
  CROSS JOIN sc
),
lex_scored AS (
  SELECT query_id, doc_id, round(sum(c), 6) AS score
  FROM contrib GROUP BY 1, 2
),
lex AS (
  SELECT query_id, doc_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS rank
  FROM lex_scored
),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
dq AS (
  SELECT CAST(vec_id - 100 AS INT) AS query_id, vec_id AS seed_id, e AS qe
  FROM e WHERE vec_id IN (101, 102, 103)
),
dpairs AS (
  SELECT dq.query_id, e.vec_id AS doc_id,
         round(list_inner_product(dq.qe, e.e)
               / (sqrt(list_inner_product(dq.qe, dq.qe))
                  * sqrt(list_inner_product(e.e, e.e))), 6) AS c
  FROM dq CROSS JOIN e WHERE e.vec_id <> dq.seed_id
),
dense AS (
  SELECT query_id, doc_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY c DESC, doc_id ASC) AS rank
  FROM dpairs
),
u AS (
  SELECT query_id, doc_id, rank FROM lex WHERE rank <= 20
  UNION ALL
  SELECT query_id, doc_id, rank FROM dense WHERE rank <= 20
),
fused AS (
  SELECT query_id, doc_id,
         CAST(count(*) AS BIGINT) AS n_lists,
         CAST(min(rank) AS BIGINT) AS best_rank,
         round(sum(CAST(1 AS DOUBLE)
                   / (CAST(60 AS DOUBLE) + CAST(rank AS DOUBLE))), 6)
           AS rrf_score
  FROM u GROUP BY 1, 2
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY rrf_score DESC, doc_id ASC) AS rank
  FROM fused
)
SELECT query_id, doc_id, n_lists, best_rank, rrf_score,
       CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 10
ORDER BY query_id, rank
"""


# ---------------------------------------------------------------------
# Matryoshka shortlist + exact re-rank (16 of 64 dims -> top-5)
# ---------------------------------------------------------------------


def q_mrl_shortlist(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 3)
    return mrl_rerank(
        emb, q, trunc_dims=16, shortlist=20, k=5
    ).orderBy("q_id", "rank")


ORACLE_MRL_SHORTLIST = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
q AS (SELECT vec_id AS q_id, e AS qe FROM e WHERE vec_id < 3),
tp AS (
  SELECT q.q_id, e.vec_id AS neighbor_id, e.e AS fe, q.qe AS fq,
         round(list_inner_product(q.qe[1:16], e.e[1:16])
               / (sqrt(list_inner_product(q.qe[1:16], q.qe[1:16]))
                  * sqrt(list_inner_product(e.e[1:16], e.e[1:16]))), 6)
           AS cosine_trunc
  FROM q CROSS JOIN e WHERE e.vec_id <> q.q_id
),
short AS (
  SELECT *, row_number() OVER (PARTITION BY q_id
                               ORDER BY cosine_trunc DESC,
                                        neighbor_id ASC) AS srank
  FROM tp
),
rer AS (
  SELECT q_id, neighbor_id, cosine_trunc,
         round(list_inner_product(fq, fe)
               / (sqrt(list_inner_product(fq, fq))
                  * sqrt(list_inner_product(fe, fe))), 6) AS cosine
  FROM short WHERE srank <= 20
),
ranked AS (
  SELECT q_id, neighbor_id, cosine, cosine_trunc,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM rer
)
SELECT q_id, CAST(rank AS INT) AS rank, neighbor_id, cosine, cosine_trunc
FROM ranked WHERE rank <= 5
ORDER BY q_id, rank
"""


# ---------------------------------------------------------------------
# NDCG@10 of label-relevant retrieval (binary gain = label match)
# ---------------------------------------------------------------------


def q_ndcg_eval(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    q = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("ql"),
        F.col("e").alias("qe"),
    )
    sim = F.round(dot("qe", "e") / (l2norm("qe") * l2norm("e")), 6)
    pairs = (
        F.broadcast(q)
        .crossJoin(emb)
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "ql",
            F.col("vec_id").alias("neighbor_id"),
            "label",
            sim.alias("c"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("c"), F.asc("neighbor_id"))
    ranked = (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select(
            "q_id",
            "rank",
            F.when(F.col("label") == F.col("ql"), 1)
            .otherwise(0)
            .alias("rel"),
        )
    )
    lab = emb.groupBy("label").agg(F.count(F.lit(1)).alias("n_lab"))
    totals = (
        q.join(F.broadcast(lab), q["ql"] == lab["label"])
        .select("q_id", (F.col("n_lab") - 1).alias("n_rel"))
    )
    return ndcg_at_k(ranked, totals, k=10).orderBy("q_id")


ORACLE_NDCG_EVAL = """
WITH e AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
),
q AS (
  SELECT vec_id AS q_id, label AS ql, e AS qe FROM e WHERE vec_id < 8
),
pairs AS (
  SELECT q.q_id, q.ql, e.vec_id AS neighbor_id, e.label,
         round(list_inner_product(q.qe, e.e)
               / (sqrt(list_inner_product(q.qe, q.qe))
                  * sqrt(list_inner_product(e.e, e.e))), 6) AS c
  FROM q CROSS JOIN e WHERE e.vec_id <> q.q_id
),
ranked AS (
  SELECT q_id, ql, label,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY c DESC, neighbor_id ASC) AS rank
  FROM pairs
),
topk AS (
  SELECT q_id,
         CASE WHEN label = ql THEN 1 ELSE 0 END AS rel,
         rank
  FROM ranked WHERE rank <= 10
),
per_q AS (
  SELECT q_id,
         CAST(sum(rel) AS BIGINT) AS rel_at_k,
         round(sum(CAST(rel AS DOUBLE)
                   / log2(CAST(rank AS DOUBLE) + CAST(1 AS DOUBLE))), 6)
           AS dcg
  FROM topk GROUP BY 1
),
totals AS (
  SELECT q.q_id,
         CAST((SELECT count(*) FROM e WHERE e.label = q.ql) - 1 AS BIGINT)
           AS n_rel
  FROM q
),
steps AS (SELECT unnest(generate_series(1, 10)) AS i),
itab AS (
  SELECT i AS m,
         round(sum(CAST(1 AS DOUBLE)
                   / log2(CAST(i AS DOUBLE) + CAST(1 AS DOUBLE)))
               OVER (ORDER BY i), 6) AS idcg
  FROM steps
),
idcg AS (
  SELECT t.q_id, t.n_rel, itab.idcg
  FROM totals t
  LEFT JOIN itab ON itab.m = least(CAST(10 AS BIGINT), t.n_rel)
)
SELECT i.q_id, i.n_rel,
       coalesce(p.rel_at_k, 0) AS rel_at_k,
       coalesce(p.dcg, CAST(0 AS DOUBLE)) AS dcg,
       i.idcg,
       CASE WHEN i.idcg IS NOT NULL THEN
         round(coalesce(p.dcg, CAST(0 AS DOUBLE)) / i.idcg, 6)
       END AS ndcg
FROM idcg i LEFT JOIN per_q p USING (q_id)
ORDER BY q_id
"""


# ---------------------------------------------------------------------
# rank-biased overlap between the lexical and dense rankers
# ---------------------------------------------------------------------


def q_rbo_overlap(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    q = spark.createDataFrame(_BM25_QUERIES, "query_id int, q_text string")
    lex = bm25_search(docs, q, top_k=10).select("query_id", "doc_id", "rank")
    dense = _dense_ranking(spark, sf_dir, 10)
    return rbo_overlap(lex, dense, k=10, p=0.9).orderBy("query_id")


def _tw_values() -> str:
    tw = rbo_tail_weights(10, 0.9)
    return ", ".join(
        f"({m}, CAST({x!r} AS DOUBLE))" for m, x in enumerate(tw, 1)
    )


ORACLE_RBO_OVERLAP = f"""
WITH q(query_id, q_text) AS (
  VALUES (1, 'hash join table'),
         (2, 'window agg batch'),
         (3, 'slow query scan')
),
qt AS (
  SELECT DISTINCT query_id,
         unnest(regexp_extract_all(lower(q_text), '[a-z0-9]+')) AS word
  FROM q
),
w AS (
  SELECT doc_id,
         unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word
  FROM documents
),
tf AS (SELECT doc_id, word, count(*) AS tf FROM w GROUP BY 1, 2),
dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
dfreq AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
sc AS (
  SELECT (SELECT count(*) FROM documents) AS n_docs,
         (SELECT sum(tf) FROM tf) AS total_tokens
),
contrib AS (
  SELECT qt.query_id, tf.doc_id,
         ln(CAST(1 AS DOUBLE)
            + (CAST(sc.n_docs AS DOUBLE) - CAST(dfreq.df AS DOUBLE)
               + CAST(0.5 AS DOUBLE))
              / (CAST(dfreq.df AS DOUBLE) + CAST(0.5 AS DOUBLE)))
         * ((CAST(tf.tf AS DOUBLE) * CAST(2.2 AS DOUBLE))
            / (CAST(tf.tf AS DOUBLE)
               + CAST(1.2 AS DOUBLE)
                 * (CAST(0.25 AS DOUBLE)
                    + CAST(0.75 AS DOUBLE)
                      * (CAST(dl.dl AS DOUBLE)
                         / (CAST(sc.total_tokens AS DOUBLE)
                            / CAST(sc.n_docs AS DOUBLE)))))) AS c
  FROM tf
  JOIN qt USING (word)
  JOIN dfreq USING (word)
  JOIN dl USING (doc_id)
  CROSS JOIN sc
),
lex_scored AS (
  SELECT query_id, doc_id, round(sum(c), 6) AS score
  FROM contrib GROUP BY 1, 2
),
lex AS (
  SELECT query_id, doc_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS ra
  FROM lex_scored
),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
dq AS (
  SELECT CAST(vec_id - 100 AS INT) AS query_id, vec_id AS seed_id, e AS qe
  FROM e WHERE vec_id IN (101, 102, 103)
),
dpairs AS (
  SELECT dq.query_id, e.vec_id AS doc_id,
         round(list_inner_product(dq.qe, e.e)
               / (sqrt(list_inner_product(dq.qe, dq.qe))
                  * sqrt(list_inner_product(e.e, e.e))), 6) AS c
  FROM dq CROSS JOIN e WHERE e.vec_id <> dq.seed_id
),
dense AS (
  SELECT query_id, doc_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY c DESC, doc_id ASC) AS rb
  FROM dpairs
),
tw(m, t) AS (VALUES {_tw_values()}),
common AS (
  SELECT lex.query_id,
         tw.t
  FROM lex
  JOIN dense ON lex.query_id = dense.query_id
            AND lex.doc_id = dense.doc_id
  JOIN tw ON tw.m = greatest(lex.ra, dense.rb)
  WHERE lex.ra <= 10 AND dense.rb <= 10
),
per_q AS (
  SELECT query_id,
         CAST(count(*) AS BIGINT) AS overlap_at_k,
         round(CAST(0.09999999999999998 AS DOUBLE) * sum(t), 6) AS rbo
  FROM common GROUP BY 1
),
qs AS (
  SELECT DISTINCT query_id FROM (
    SELECT query_id FROM lex WHERE ra <= 10
    UNION ALL SELECT query_id FROM dense WHERE rb <= 10
  )
)
SELECT qs.query_id,
       coalesce(per_q.overlap_at_k, 0) AS overlap_at_k,
       coalesce(per_q.rbo, CAST(0 AS DOUBLE)) AS rbo
FROM qs LEFT JOIN per_q USING (query_id)
ORDER BY query_id
"""


# ---------------------------------------------------------------------
# positional phrase search ("table hash" must be consecutive)
# ---------------------------------------------------------------------


def q_phrase_search(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return phrase_search(docs, "table hash").orderBy("doc_id")


ORACLE_PHRASE_SEARCH = """
WITH w AS (
  SELECT doc_id,
         regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
  FROM documents
),
pos AS (
  SELECT doc_id, ws,
         unnest(generate_series(1, len(ws))) AS p,
         unnest(ws) AS wd
  FROM w
),
hits AS (
  SELECT doc_id, p
  FROM pos
  WHERE wd = 'table' AND ws[p : p + 1] = ['table', 'hash']
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_matches,
       CAST(min(p) AS BIGINT) AS first_pos
FROM hits GROUP BY 1
ORDER BY doc_id
"""


# =====================================================================
# MRR / MAP retrieval evaluation (operators/fusion.py ``mrr_ap_at_k`` —
# grading the same label-relevant cosine retrieval the NDCG query
# scores, so the two metrics are directly comparable).
# =====================================================================


# ---------------------------------------------------------------------
# MRR / AP@10 of label-relevant retrieval (same ranking as ndcg_eval)
# ---------------------------------------------------------------------


def q_mrr_eval(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    q = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("ql"),
        F.col("e").alias("qe"),
    )
    sim = F.round(dot("qe", "e") / (l2norm("qe") * l2norm("e")), 6)
    pairs = (
        F.broadcast(q)
        .crossJoin(emb)
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "ql",
            F.col("vec_id").alias("neighbor_id"),
            "label",
            sim.alias("c"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("c"), F.asc("neighbor_id"))
    ranked = (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select(
            "q_id",
            "rank",
            F.when(F.col("label") == F.col("ql"), 1)
            .otherwise(0)
            .alias("rel"),
        )
    )
    lab = emb.groupBy("label").agg(F.count(F.lit(1)).alias("n_lab"))
    totals = (
        q.join(F.broadcast(lab), q["ql"] == lab["label"])
        .select("q_id", (F.col("n_lab") - 1).alias("n_rel"))
    )
    return mrr_ap_at_k(ranked, totals, k=10).orderBy("q_id")


ORACLE_MRR_EVAL = """
WITH e AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
),
q AS (
  SELECT vec_id AS q_id, label AS ql, e AS qe FROM e WHERE vec_id < 8
),
pairs AS (
  SELECT q.q_id, q.ql, e.vec_id AS neighbor_id, e.label,
         round(list_inner_product(q.qe, e.e)
               / (sqrt(list_inner_product(q.qe, q.qe))
                  * sqrt(list_inner_product(e.e, e.e))), 6) AS c
  FROM q CROSS JOIN e WHERE e.vec_id <> q.q_id
),
ranked AS (
  SELECT q_id, ql, label,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY c DESC, neighbor_id ASC) AS rank
  FROM pairs
),
topk AS (
  SELECT q_id,
         CASE WHEN label = ql THEN 1 ELSE 0 END AS rel,
         rank
  FROM ranked WHERE rank <= 10
),
cum AS (
  SELECT q_id, rank, rel,
         CAST(sum(rel) OVER (PARTITION BY q_id ORDER BY rank)
              AS BIGINT) AS cr
  FROM topk
),
per_q AS (
  SELECT q_id,
         CAST(sum(rel) AS BIGINT) AS rel_at_k,
         min(CASE WHEN rel = 1 THEN rank END) AS fr,
         round(sum(CASE WHEN rel = 1 THEN
                     CAST(cr AS DOUBLE) / CAST(rank AS DOUBLE)
                   END), 6) AS apnum
  FROM cum GROUP BY 1
),
totals AS (
  SELECT q.q_id,
         CAST((SELECT count(*) FROM e WHERE e.label = q.ql) - 1 AS BIGINT)
           AS n_rel
  FROM q
)
SELECT t.q_id, t.n_rel,
       coalesce(p.rel_at_k, 0) AS rel_at_k,
       CASE WHEN t.n_rel > 0 THEN
         coalesce(round(CAST(1 AS DOUBLE) / CAST(p.fr AS DOUBLE), 6),
                  CAST(0 AS DOUBLE))
       END AS rr,
       CASE WHEN t.n_rel > 0 THEN
         round(coalesce(p.apnum, CAST(0 AS DOUBLE))
               / CAST(least(CAST(10 AS BIGINT), t.n_rel) AS DOUBLE), 6)
       END AS ap
FROM totals t LEFT JOIN per_q p USING (q_id)
ORDER BY t.q_id
"""


# =====================================================================
# Per-cluster assignment quality (operators/semdedup.py
# ``cluster_quality`` — cohesion + runner-up margin over the seeded-16
# quantizer) and quantizer drift (``centroid_shift`` — cosine between
# each centroid and its members' mean vector, per-position means rounded
# before the fold).  Both replay the exact seeded assignment the
# semantic_dedup oracle uses.
# =====================================================================


_K = 16

_ASSIGN_CTES = f"""
e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
), cent AS (
  SELECT vec_id AS c_id, e AS ce FROM e ORDER BY vec_id LIMIT {_K}
), sims AS (
  SELECT e.vec_id, cent.c_id, e.e,
         round(list_inner_product(e.e, cent.ce)
               / (sqrt(list_inner_product(e.e, e.e))
                  * sqrt(list_inner_product(cent.ce, cent.ce))), 6) AS sim
  FROM e CROSS JOIN cent
), r AS (
  SELECT vec_id, c_id, e, sim,
         row_number() OVER (
           PARTITION BY vec_id ORDER BY sim DESC, c_id ASC) AS rn
  FROM sims
)
"""


# ---------------------------------------------------------------------
# cluster quality
# ---------------------------------------------------------------------


def q_cluster_quality(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return cluster_quality(emb, seeded_centroid_frame(emb, _K))


ORACLE_CLUSTER_QUALITY = f"""
WITH {_ASSIGN_CTES},
pv AS (
  SELECT vec_id,
         max(CASE WHEN rn = 1 THEN c_id END) AS cluster_id,
         max(CASE WHEN rn = 1 THEN sim END) AS best,
         max(CASE WHEN rn = 2 THEN sim END) AS second
  FROM r WHERE rn <= 2 GROUP BY 1
)
SELECT cluster_id, CAST(count(*) AS BIGINT) AS n,
       round(avg(best), 6) AS mean_cohesion,
       min(best) AS min_cohesion,
       round(avg(best - second), 6) AS mean_margin
FROM pv GROUP BY 1
ORDER BY cluster_id
"""


# ---------------------------------------------------------------------
# centroid shift
# ---------------------------------------------------------------------


def q_centroid_shift(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return centroid_shift(emb, seeded_centroid_frame(emb, _K))


ORACLE_CENTROID_SHIFT = f"""
WITH {_ASSIGN_CTES},
a AS (SELECT c_id AS cluster_id, e FROM r WHERE rn = 1),
pos AS (
  SELECT cluster_id, unnest(e) AS v, generate_subscripts(e, 1) AS i
  FROM a
),
m AS (
  SELECT cluster_id, i, round(avg(v), 6) AS mv
  FROM pos GROUP BY 1, 2
),
mv AS (
  SELECT cluster_id, list(mv ORDER BY i) AS mean FROM m GROUP BY 1
),
cnt AS (
  SELECT cluster_id, CAST(count(*) AS BIGINT) AS n FROM a GROUP BY 1
)
SELECT mv.cluster_id, cnt.n,
       CASE WHEN sqrt(list_inner_product(mean, mean))
                 * sqrt(list_inner_product(ce, ce)) > 0 THEN
         round(list_inner_product(mean, ce)
               / (sqrt(list_inner_product(mean, mean))
                  * sqrt(list_inner_product(ce, ce))), 6)
       END AS shift_cos
FROM mv JOIN cent ON cent.c_id = mv.cluster_id
JOIN cnt ON cnt.cluster_id = mv.cluster_id
ORDER BY mv.cluster_id
"""


REGISTRY = {
    "knn_cosine": (q_knn_cosine, ORACLE_KNN_COSINE),
    "embed_norms": (q_embed_norms, ORACLE_EMBED_NORMS),
    "quantize_embeddings": (q_quantize_embeddings, ORACLE_QUANTIZE),
    "pq_codes": (q_pq_codes, ORACLE_PQ_CODES),
    "ivf_pq_search": (q_ivf_pq_search, ORACLE_IVF_PQ),
    "hard_negatives": (q_hard_negatives, ORACLE_HARD_NEGATIVES),
    "bm25_search": (q_bm25_search, ORACLE_BM25),
    "rrf_fusion": (q_rrf_fusion, ORACLE_RRF_FUSION),
    "mrl_shortlist": (q_mrl_shortlist, ORACLE_MRL_SHORTLIST),
    "ndcg_eval": (q_ndcg_eval, ORACLE_NDCG_EVAL),
    "rbo_overlap": (q_rbo_overlap, ORACLE_RBO_OVERLAP),
    "phrase_search": (q_phrase_search, ORACLE_PHRASE_SEARCH),
    "mrr_eval": (q_mrr_eval, ORACLE_MRR_EVAL),
    "cluster_quality": (q_cluster_quality, ORACLE_CLUSTER_QUALITY),
    "centroid_shift": (q_centroid_shift, ORACLE_CENTROID_SHIFT),
}
