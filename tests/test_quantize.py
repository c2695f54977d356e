"""Int8 embedding quantization (operators/quantize.py)."""

import pytest

from grass_spark.operators.quantize import quantize_embeddings


@pytest.fixture(scope="module")
def vecs(spark):
    return spark.createDataFrame(
        [
            (1, [1.0, -0.5, 0.25, 0.0]),
            (2, [0.0, 0.0, 0.0, 0.0]),     # all-zero: scale 0, exact
            (3, [127.0]),                   # scale 1.0 exactly
        ],
        "vec_id bigint, embedding array<double>",
    )


def test_quantize_values(vecs):
    out = {r["vec_id"]: r for r in quantize_embeddings(vecs).collect()}
    r1 = out[1]
    # scale = 1/127 rounded to 6dp; extremes hit ±127-ish after rounding
    assert r1["dims"] == 4 and r1["scale"] == round(1.0 / 127.0, 6)
    assert r1["qvec"][0] == round(1.0 / r1["scale"])
    assert r1["qvec"][3] == 0
    assert 0 <= r1["mean_abs_err"] < r1["scale"]  # error under one step
    r2 = out[2]
    assert r2["scale"] == 0.0 and r2["qvec"] == [0, 0, 0, 0]
    assert r2["mean_abs_err"] == 0.0
    r3 = out[3]
    assert r3["scale"] == 1.0 and r3["qvec"] == [127]
    assert r3["mean_abs_err"] == 0.0


def test_capture_safe_plan(vecs):
    # the scale must NOT be inlined into a per-element lambda: array_max
    # appears exactly once in the optimized plan (the scale definition),
    # and the plan is shuffle-free scan work
    plan = (
        quantize_embeddings(vecs)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    assert plan.count("array_max") == 1
    exec_plan = (
        quantize_embeddings(vecs)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in exec_plan


def test_empty_frame(spark):
    empty = spark.createDataFrame([], "vec_id bigint, embedding array<double>")
    assert quantize_embeddings(empty).count() == 0


def test_quantized_knn_recall(spark):
    """SQ8 round-trip preserves cosine neighborhoods: top-3 neighbor
    sets from dequantized vectors match the exact float top-3 on a
    spread-out synthetic set (64 dims, deterministic)."""
    from pyspark.sql import functions as F

    from grass_spark.datagen import synth_embeddings
    from grass_spark.operators.similarity import cosine_topk

    emb = synth_embeddings(spark, n_vecs=200).select("vec_id", "embedding")
    deq = quantize_embeddings(emb).select(
        "vec_id",
        F.expr("transform(qvec, q -> CAST(q AS DOUBLE) * scale)").alias("embedding"),
    )
    queries = emb.filter("vec_id < 10").withColumnRenamed("vec_id", "qid")

    def topsets(base):
        rows = cosine_topk(base, queries, k=3, q_id_col="qid").collect()
        out = {}
        for r in rows:
            out.setdefault(r["q_id"], set()).add(r["neighbor_id"])
        return out

    exact, quant = topsets(emb), topsets(deq)
    # recall@3 over 10 queries: allow at most one boundary swap total
    hits = sum(len(exact[q] & quant[q]) for q in exact)
    assert hits >= 29, f"quantized recall too low: {hits}/30"


