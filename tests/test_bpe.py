"""BPE vocabulary training (operators/bpe.py)."""

import pytest

from grass_spark.operators.bpe import learn_bpe, word_frequencies


@pytest.fixture(scope="module")
def sennrich(spark):
    # the classic BPE walkthrough corpus: low x5, lower x2, newest x6,
    # widest x3 (Sennrich et al. 2016 §3.2)
    doc = " ".join(["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3)
    return spark.createDataFrame([(1, doc)], "doc_id bigint, text string")


def test_word_frequencies(sennrich):
    got = {r["word"]: r["freq"] for r in word_frequencies(sennrich).collect()}
    assert got == {"low": 5, "lower": 2, "newest": 6, "widest": 3}


def test_learn_bpe_reference_progression(sennrich):
    # es(9) -> est(9) -> lo(7) -> low(7) -> ew(6, lexicographic tie
    # over (n,e)/(e,w)/(w,est)) -> ewest(6)
    merges = learn_bpe(sennrich, 6)
    assert [(a, b) for a, b, _ in merges] == [
        ("e", "s"), ("es", "t"), ("l", "o"),
        ("lo", "w"), ("e", "w"), ("ew", "est"),
    ]
    assert [n for _, _, n in merges] == [9, 9, 7, 7, 6, 6]


def test_early_stop_and_validation(spark, sennrich):
    # min_pair_freq high enough: only the freq-9 merges survive
    merges = learn_bpe(sennrich, 50, min_pair_freq=8)
    assert [n for _, _, n in merges] == [9, 9]
    with pytest.raises(ValueError):
        learn_bpe(sennrich, 0)


