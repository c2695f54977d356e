"""Per-group caps (operators/caps.py) + Gopher quality rules
(operators/quality.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from grass_spark.operators.caps import cap_per_group
from grass_spark.operators.quality import (
    QualityRules,
    quality_filter,
    quality_metrics,
)
from grass_spark.operators.sampling import uniform_hash


def _docs(spark, n=400, hot_frac=0.5):
    """Synthetic docs where one source holds ``hot_frac`` of the corpus
    (the skew shape cap_per_group exists for)."""
    hot_n = int(n * hot_frac)
    rows = [(f"d{i:05d}", "hot.example" if i < hot_n else f"s{i % 7}")
            for i in range(n)]
    return spark.createDataFrame(rows, "doc_id string, source string")


def _brute(df, cap):
    w = Window.partitionBy("source").orderBy("_u", "doc_id")
    return (
        df.withColumn("_u", uniform_hash(F.col("doc_id")))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= cap)
        .select("doc_id", "source")
    )


def test_cap_equals_brute_window(spark):
    df = _docs(spark)
    for cap in (1, 3, 25):
        got = sorted(
            (r.doc_id, r.source)
            for r in cap_per_group(df, cap, salts=4).collect()
        )
        want = sorted((r.doc_id, r.source) for r in _brute(df, cap).collect())
        assert got == want, f"cap={cap}"


def test_cap_counts_and_passthrough(spark):
    df = _docs(spark).withColumn("extra", F.length("doc_id"))
    out = cap_per_group(df, 10, salts=8)
    assert out.columns == ["doc_id", "source", "extra"]
    per = {r.source: r.n for r in
           out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert per["hot.example"] == 10
    for s, n in per.items():
        assert n <= 10 or s != "hot.example"
    # under-cap groups keep everything
    base = {r.source: r.n for r in
            df.groupBy("source").agg(F.count("*").alias("n")).collect()}
    for s, n in base.items():
        assert per[s] == min(n, 10)


def test_cap_deterministic_and_salted(spark):
    df = _docs(spark, n=200)
    a = sorted(r.doc_id for r in cap_per_group(df, 5, salts=2).collect())
    b = sorted(r.doc_id for r in cap_per_group(df, 5, salts=16).collect())
    assert a == b  # exactness independent of salts
    c = sorted(r.doc_id for r in
               cap_per_group(df, 5, salts=2, salt="other").collect())
    assert a != c  # different salt -> different (still exact-size) draw


def test_cap_plan_windows_only_on_hot_candidates(spark):
    """Plan contract: no window partitioned by the bare group column
    runs over the full input — stage 1 must include the shard column."""
    df = _docs(spark, n=300)
    plan = cap_per_group(df, 5, salts=8)._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan
    import re
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, plan
    full_group_windows = [s for s in specs if "_s" in s]
    assert full_group_windows, "stage-1 salted window missing"


def test_cap_validation(spark):
    df = _docs(spark, n=10)
    with pytest.raises(ValueError):
        cap_per_group(df, 0)
    with pytest.raises(ValueError):
        cap_per_group(df, 5, salts=0)


# ---------------------------------------------------------------------
# quality rules
# ---------------------------------------------------------------------

GOOD = (
    "The quick brown fox jumps over the lazy dog and runs to the old "
    "barn where it can rest with friends that have food and water for "
    "all of them to share during the long cold night that follows the "
    "warm day in the quiet valley near the river bend with tall trees."
)


def test_quality_good_doc_keeps(spark):
    df = spark.createDataFrame([("g", GOOD)], "doc_id string, text string")
    r = quality_filter(df).collect()[0]
    assert r.keep and r.reject_reason == "keep"
    assert r.n_words >= 50 and 3 <= r.mean_word_len <= 10


@pytest.mark.parametrize(
    "text,reason",
    [
        ("too short", "n_words_low"),
        # mean word len 4.0 passes; 4 hashes per word -> symbol_ratio 4.0
        (" ".join(["####"] * 60), "symbol_ratio"),
        # wordy bullets: mean len ok, every line starts with '-'
        (
            "\n".join("- item number %d is okay here" % i for i in range(60)),
            "bullet_lines",
        ),
        # digit words: mean len 5 ok, zero symbols, 0%% alphabetic words
        (" ".join(["12345"] * 60), "alpha_words"),
        # long words: mean len 12 > 10
        (" ".join(["abcdefghijkl"] * 60), "mean_word_len"),
    ],
)
def test_quality_reject_reasons(spark, text, reason):
    df = spark.createDataFrame([("x", text)], "doc_id string, text string")
    r = quality_filter(df).collect()[0]
    assert not r.keep
    assert r.reject_reason == reason, (text[:40], r.reject_reason)


def test_quality_stopword_and_alpha_rules(spark):
    no_stop = " ".join(f"w{i}xyz" for i in range(80))
    df = spark.createDataFrame([("x", no_stop)], "doc_id string, text string")
    r = quality_filter(df).collect()[0]
    assert not r.keep and r.reject_reason == "stopwords"
    digits = ("the be to of and that have with " + " ".join(["123"] * 70))
    r2 = quality_filter(
        spark.createDataFrame([("y", digits)], "doc_id string, text string")
    ).collect()[0]
    assert r2.reject_reason in ("alpha_words", "mean_word_len")


def test_quality_custom_rules(spark):
    df = spark.createDataFrame([("g", GOOD)], "doc_id string, text string")
    strict = QualityRules(min_words=1000)
    assert quality_filter(df, strict).collect()[0].reject_reason == "n_words_low"


def test_quality_plan_no_exchange_no_python(spark):
    df = spark.createDataFrame([("g", GOOD)], "doc_id string, text string")
    plan = quality_filter(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_quality_metrics_degenerate_inputs(spark):
    df = spark.createDataFrame(
        [("e", ""), ("s", "   "), ("n", "x")], "doc_id string, text string"
    )
    rows = quality_metrics(df).collect()
    for r in rows:
        assert r.n_words == 1  # split-of-empty yields ['']
        assert not quality_filter(df).filter("keep").count()
