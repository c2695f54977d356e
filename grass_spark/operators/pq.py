"""Product quantization (PQ) for embedding ANN at scale.

The third leg of the similarity stack: SQ8 (:mod:`quantize`) shrinks
each coordinate, IVF (:mod:`similarity`) prunes candidates, PQ shrinks
the DISTANCE COMPUTATION — each vector becomes ``m`` small codes (one
per subspace, each the nearest of ``k`` subspace centroids), and a
query scans codes with a precomputed ``m x k`` lookup table (ADC,
Jégou et al. 2011) instead of touching floats.  At 100 TB the PQ code
table is ~dims/subdim bytes per vector and the scan is
memory-bandwidth-, not FLOP-, bound.

Codebook contract: centroids are SEEDED deterministically from the
``k`` smallest-id vectors' subvectors (the same seeding contract as
:func:`semdedup.assign_clusters` / ``diversity_sample``), not
Lloyd-trained — deterministic, engine-replayable, and honest about it;
callers with a trained codebook pass their own.  The codebook is
k-bounded (one ``limit(k)`` collect) and enters the plan as literals —
the measured literal-centroid ceiling (PLANS.md: ~4k values before
codegen blows up) is validated, with ``m*k*subdim`` raised above it.

Cross-engine parity: distances fold left-to-right over cast-to-double
subvectors and ROUND to 6 dp before the argmin (JVM/libm last-ulp
drift cannot flip an assignment — the assign_clusters discipline);
ties break to the smallest centroid ordinal via struct min.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf type hints resolve here
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from grass_spark.functions.litexpr import sq_dist_sql

#: rows per numpy block in the Arrow encode path — bounds the
#: (block, k, subdim) distance temporaries (the semdecon
#: memory-bandwidth anti-finding, PLANS.md)
_ENC_BLOCK_ROWS = 2048

#: literal-budget guard — above this, plan-literal codegen degrades
#: (measured on the semdedup literal-centroid path, PLANS.md)
_MAX_LITERALS = 4096


def pq_codebook(
    df: DataFrame,
    m: int,
    k: int,
    *,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[list[list[float]]]:
    """Seeded ``[m][k][subdim]`` codebook: subspace ``j`` of the ``k``
    smallest-``id_col`` vectors.  One k-row bounded collect."""
    rows = (
        df.select(id_col, F.col(emb_col).cast("array<double>").alias("e"))
        .orderBy(id_col)
        .limit(k)
        .collect()
    )
    if len(rows) < k:
        raise ValueError(f"need >= {k} vectors to seed a k={k} codebook")
    dims = len(rows[0]["e"])
    if dims % m != 0:
        raise ValueError(f"dims={dims} not divisible by m={m}")
    sub = dims // m
    if m * k * sub > _MAX_LITERALS:
        raise ValueError(
            f"m*k*subdim={m * k * sub} exceeds the plan-literal budget "
            f"({_MAX_LITERALS}); train a smaller codebook or shard encode"
        )
    return [
        [list(r["e"][j * sub:(j + 1) * sub]) for r in rows]
        for j in range(m)
    ]


def _best_struct_sqls(codebook, xs: str) -> list[str]:
    """Per subspace j, the SQL text of ``array_min`` over the
    (round(dist, 6), ordinal) candidate structs — the same tree
    ``_sq_dist``+``F.struct``+``F.array_min`` built, emitted as text
    so the m*k*sub literal tree costs ONE parse instead of thousands
    of py4j calls (see functions/litexpr.py)."""
    m, k, sub = len(codebook), len(codebook[0]), len(codebook[0][0])
    out = []
    for j in range(m):
        sub_sql = f"slice({xs}, {j * sub + 1}, {sub})"
        cands = ", ".join(
            "named_struct('d', round("
            + sq_dist_sql(sub_sql, codebook[j][c])
            + f", 6), 'c', {c})"
            for c in range(k)
        )
        out.append(f"array_min(array({cands}))")
    return out


def pq_encode(
    df: DataFrame,
    codebook: list[list[list[float]]],
    *,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    out: str = "codes",
    with_err: bool = False,
    method: str = "expr",
) -> DataFrame:
    """Adds ``codes`` (``array<int>`` of length ``m``): per subspace,
    the ordinal of the nearest centroid (squared L2, distances rounded
    to 6 dp before the argmin, ties -> smallest ordinal).
    ``with_err=True`` also adds ``recon_err`` — the total quantization
    distortion ``sum_j min_c dist(sub_j, centroid_c)`` (the chosen
    distances summed in subspace order, rounded 6 dp) — the audit
    column an index build gates on.

    Two physical strategies, same contract (the assign_clusters
    discipline):

    * ``"expr"`` (default) — codebook as plan literals, argmin a
      struct ``array_min``.  Zero shuffles, zero Python, bit-identical
      to the DuckDB oracle — but higher-order-function lambdas NEVER
      enter whole-stage codegen (the plan is a bare interpreted
      ``Project``), so per-row cost carries expression-tree overhead.
    * ``"arrow"`` — a vectorized ``pandas_udf``: the codebook rides
      the closure, each Arrow batch is scored in numpy blocks of
      ``_ENC_BLOCK_ROWS`` rows (bounded temporaries).  Distances are
      rounded to 6 dp before the argmin, so code assignment is
      equivalent-after-rounding (numpy's sum order can differ from the
      fold in the last ulp *before* rounding) — oracle queries stay on
      ``"expr"``; the corpus-scale encode pass takes this (measured
      throughput path).
    """
    if method == "arrow":
        return _pq_encode_arrow(
            df, codebook, emb_col=emb_col, out=out, with_err=with_err
        )
    if method != "expr":
        raise ValueError(f"unknown method {method!r}")
    xs = F.transform(F.col(emb_col), lambda x: x.cast("double"))
    staged = df.withColumn("_xs", xs)
    bests = _best_struct_sqls(codebook, "_xs")
    codes_sql = (
        "array(" + ", ".join(f"CAST({b}.c AS INT)" for b in bests) + ")"
    )
    out_df = staged.withColumn(out, F.expr(codes_sql))
    if with_err:
        err_sql = " + ".join(f"{b}.d" for b in bests)
        out_df = out_df.withColumn(
            "recon_err", F.expr(f"round({err_sql}, 6)")
        )
    return out_df.drop("_xs")


def _pq_encode_arrow(
    df: DataFrame,
    codebook: list[list[list[float]]],
    *,
    emb_col: str,
    out: str,
    with_err: bool,
) -> DataFrame:
    """numpy implementation of the encode contract (see pq_encode)."""
    import numpy as np

    m = len(codebook)
    sub = len(codebook[0][0])
    cb = np.asarray(codebook, dtype=np.float64)  # (m, k, sub)

    @F.pandas_udf("struct<codes: array<int>, recon_err: double>")
    def _enc(batch: pd.Series) -> pd.DataFrame:
        outs = []
        vals = batch.to_numpy()
        for s in range(0, len(vals), _ENC_BLOCK_ROWS):
            blk = vals[s:s + _ENC_BLOCK_ROWS]
            if len(blk) == 0:
                continue
            X = np.stack([np.asarray(v, dtype=np.float64) for v in blk])
            codes = np.empty((len(blk), m), dtype=np.int32)
            err = np.zeros(len(blk), dtype=np.float64)
            for j in range(m):
                S = X[:, j * sub:(j + 1) * sub]
                dif = S[:, None, :] - cb[j][None, :, :]
                d = np.round((dif * dif).sum(axis=-1), 6)
                codes[:, j] = d.argmin(axis=1)  # first min = smallest c
                err += d[np.arange(len(blk)), codes[:, j]]
            outs.append(pd.DataFrame({
                "codes": list(codes),
                "recon_err": np.round(err, 6),
            }))
        if not outs:
            return pd.DataFrame({"codes": [], "recon_err": []})
        return pd.concat(outs, ignore_index=True)

    res = df.withColumn("_enc", _enc(F.col(emb_col).cast("array<double>")))
    res = res.withColumn(out, F.col("_enc.codes"))
    if with_err:
        res = res.withColumn("recon_err", F.col("_enc.recon_err"))
    return res.drop("_enc")


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    codebook: list[list[list[float]]],
    k: int = 10,
    nprobe: int = 3,
    shortlist: int = 64,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "expr",
) -> DataFrame:
    """IVF x PQ search — the full billion-scale recipe: corpus rows
    live in their IVF cell WITH their PQ codes; each query probes its
    ``nprobe`` best cells, builds its ADC lookup table ONCE (an
    ``m x k`` array column on the broadcast query side), scans
    candidate CODES with m ``element_at`` lookups per pair (no float
    vectors touched — the memory-bandwidth-bound PQ scan), keeps the
    ``shortlist`` best by ADC, and exact-cosine re-ranks only those.

    Per query the rank windows are bounded by the probed candidate set
    and then by ``shortlist`` — never corpus-wide.  Returns
    (q_id, neighbor_id, adc, cosine, rank) rows, rank 1..k by exact
    cosine within the shortlist.
    """
    from grass_spark.operators.similarity import (
        _cell_of,
        _top_cells,
        dot,
        l2norm,
    )
    from pyspark.sql import Window

    m, kk = len(codebook), len(codebook[0])
    sub = len(codebook[0][0])
    c = pq_encode(
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).cast("array<double>").alias("_e"),
        ),
        codebook, emb_col="_e", id_col="neighbor_id", method=method,
    ).withColumn("cell", _cell_of("_e", centroids))
    q = queries.select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).cast("array<double>").alias("_qe"),
    )
    # per-query ADC table: T[j][c] = round(||q_sub_j - centroid_jc||^2, 6)
    tbl = F.expr(
        "array("
        + ", ".join(
            "array("
            + ", ".join(
                "round("
                + sq_dist_sql(
                    f"slice(_qe, {j * sub + 1}, {sub})", codebook[j][c]
                )
                + ", 6)"
                for c in range(kk)
            )
            + ")"
            for j in range(m)
        )
        + ")"
    )
    q = q.withColumn("_T", tbl).withColumn(
        "cell", F.explode(_top_cells("_qe", centroids, nprobe))
    )
    cand = (
        F.broadcast(q)
        .join(c, on="cell")
        .filter(F.col("neighbor_id") != F.col("q_id"))
        .drop("cell")
        .distinct()  # a neighbor can appear via several probed cells
    )
    terms = [
        F.element_at(
            F.element_at(F.col("_T"), j + 1),
            F.element_at(F.col("codes"), j + 1) + 1,
        )
        for j in range(m)
    ]
    adc = terms[0]
    for t in terms[1:]:
        adc = adc + t
    cand = cand.withColumn("adc", F.round(adc, 6))
    wa = Window.partitionBy("q_id").orderBy("adc", "neighbor_id")
    short = cand.withColumn("_arank", F.row_number().over(wa)).filter(
        F.col("_arank") <= shortlist
    )
    cos = F.round(
        dot("_qe", "_e") / (l2norm("_qe") * l2norm("_e")), 6
    )
    wc = Window.partitionBy("q_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        short.withColumn("cosine", cos)
        .withColumn("rank", F.row_number().over(wc))
        .filter(F.col("rank") <= k)
        .select("q_id", "neighbor_id", "adc", "cosine", "rank")
    )
