"""Product quantization (operators/pq.py)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from grass_spark.operators.pq import pq_codebook, pq_encode


def _vecs(spark, n=120, dims=16, seed=7):
    rng = np.random.default_rng(seed)
    rows = [(i, [float(x) for x in rng.normal(size=dims)]) for i in range(n)]
    return rows, spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>"
    )


def test_codes_match_numpy_argmin(spark):
    rows, df = _vecs(spark)
    m, k, sub = 4, 8, 4
    cb = pq_codebook(df, m, k)
    got = {r.vec_id: r.codes for r in pq_encode(df, cb).collect()}
    cbn = np.array(cb)  # [m][k][sub]
    for vid, emb in rows:
        x = np.array(emb).reshape(m, sub)
        for j in range(m):
            d = np.round(((cbn[j] - x[j]) ** 2).sum(axis=1), 6)
            assert got[vid][j] == int(np.argmin(d)), (vid, j)


def test_seed_vectors_encode_to_themselves(spark):
    rows, df = _vecs(spark)
    cb = pq_codebook(df, 4, 8)
    got = {r.vec_id: r.codes for r in pq_encode(df, cb).collect()}
    # vector i < k contributed centroid ordinal i in every subspace:
    # its distance there is 0, the unique minimum for random vectors
    for i in range(8):
        assert got[i] == [i, i, i, i]


def test_recon_err_zero_for_seeds_positive_for_rest(spark):
    rows, df = _vecs(spark)
    cb = pq_codebook(df, 4, 8)
    errs = {r.vec_id: r.recon_err
            for r in pq_encode(df, cb, with_err=True).collect()}
    for i in range(8):
        assert errs[i] == 0.0
    assert all(errs[i] > 0 for i in range(8, 120))


def test_plan_scan_stage_and_guards(spark):
    rows, df = _vecs(spark)
    cb = pq_codebook(df, 4, 8)
    plan = (
        pq_encode(df, cb, with_err=True)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan and "Python" not in plan
    with pytest.raises(ValueError, match="not divisible"):
        pq_codebook(df, 5, 8)
    with pytest.raises(ValueError, match="need >= "):
        pq_codebook(df.limit(3), 4, 8)


def test_literal_budget_guard(spark):
    rng = np.random.default_rng(1)
    rows = [(i, [float(x) for x in rng.normal(size=64)]) for i in range(300)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    with pytest.raises(ValueError, match="plan-literal budget"):
        pq_codebook(df, 8, 256)  # 8*256*8 = 16384 literals


def test_ivf_pq_topk_recall(spark):
    """IVF x PQ composed search: ADC shortlist + exact re-rank recovers
    the exact in-cell neighbours on clustered data."""
    rng = np.random.default_rng(9)
    centers = rng.normal(size=(8, 16)) * 3.0
    rows = [
        (i, [float(x) for x in centers[i % 8] + rng.normal(size=16) * 0.1])
        for i in range(240)
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    from grass_spark.operators.pq import ivf_pq_topk
    from grass_spark.operators.similarity import cosine_topk

    cents = [rows[i][1] for i in range(8)]  # one seed per cluster
    cb = pq_codebook(df, 4, 8)
    queries = df.filter("vec_id IN (5, 17, 100)")
    got = ivf_pq_topk(df, queries, cents, cb, k=5, nprobe=2, shortlist=40)
    exact = cosine_topk(df, queries, k=5)
    g = {(r.q_id, r.rank): r.neighbor_id for r in got.collect()}
    e = {(r.q_id, r.rank): r.neighbor_id for r in exact.collect()}
    # per query, >= 4 of the exact top-5 recovered (cell boundary can
    # clip at most the odd far neighbour)
    for q in (5, 17, 100):
        gs = {g[(q, r)] for r in range(1, 6)}
        es = {e[(q, r)] for r in range(1, 6)}
        assert len(gs & es) >= 4, q
    # ADC never beats exact: every returned pair carries both scores
    for r in got.collect():
        assert r.adc >= 0.0 and -1.0 <= r.cosine <= 1.0


def test_ivf_pq_plan_no_cartesian(spark):
    rng = np.random.default_rng(2)
    rows = [(i, [float(x) for x in rng.normal(size=16)]) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    from grass_spark.operators.pq import ivf_pq_topk

    cents = [rows[i][1] for i in range(4)]
    cb = pq_codebook(df, 4, 8)
    plan = (
        ivf_pq_topk(df, df.limit(3), cents, cb, k=3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan  # query side broadcasts


def test_arrow_encode_matches_expr(spark):
    """The Arrow encode path reproduces the expression path's codes and
    recon_err (equal-after-round contract, like assign_clusters)."""
    rows, df = _vecs(spark, n=150, dims=32)
    cb = pq_codebook(df, 4, 8)
    a = {r.vec_id: (list(r.codes), r.recon_err)
         for r in pq_encode(df, cb, with_err=True, method="arrow").collect()}
    e = {r.vec_id: (list(r.codes), r.recon_err)
         for r in pq_encode(df, cb, with_err=True, method="expr").collect()}
    assert a == e
    with pytest.raises(ValueError, match="unknown method"):
        pq_encode(df, cb, method="bogus")
