"""Corpus drift diagnostics (operators/divergence.py)."""

import math

import pytest

from grass_spark.operators.divergence import (
    corpus_divergence,
)


@pytest.fixture(scope="module")
def ab(spark):
    a = spark.createDataFrame(
        [(1, "x x y"), (2, "x z")], "doc_id bigint, text string"
    )
    b = spark.createDataFrame(
        [(3, "x y y"), (4, "w y")], "doc_id bigint, text string"
    )
    return a, b


def test_summary_hand_computed(ab):
    a, b = ab
    r = corpus_divergence(a, b).first()
    # a: x3 y1 z1 (5 tokens); b: x1 y3 w1 (5); union vocab {w,x,y,z}=4
    assert (r["tokens_a"], r["tokens_b"]) == (5, 5)
    assert (r["vocab_a"], r["vocab_b"], r["vocab_union"]) == (3, 3, 4)
    assert r["vocab_both"] == 2 and r["vocab_overlap"] == 0.5
    # smoothed p, q with s=0.5: denom = 5 + 0.5*4 = 7
    p = {w: (f + 0.5) / 7 for w, f in {"w": 0, "x": 3, "y": 1, "z": 1}.items()}
    q = {w: (f + 0.5) / 7 for w, f in {"w": 1, "x": 1, "y": 3, "z": 0}.items()}
    kl = sum(p[w] * math.log(p[w] / q[w]) for w in p)
    js = sum(
        0.5 * p[w] * math.log(p[w] / ((p[w] + q[w]) / 2))
        + 0.5 * q[w] * math.log(q[w] / ((p[w] + q[w]) / 2))
        for w in p
    )
    assert r["kl_ab"] == round(kl, 6)
    assert r["js"] == round(js, 6)


def test_identical_corpora_zero_divergence(spark):
    a = spark.createDataFrame([(1, "x y z")], "doc_id bigint, text string")
    r = corpus_divergence(a, a).first()
    assert r["kl_ab"] == 0.0 and r["js"] == 0.0
    assert r["vocab_overlap"] == 1.0


