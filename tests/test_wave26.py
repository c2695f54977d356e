"""Wave-26 operators: Welch t-test, Poisson bootstrap, gap-aware EWMA."""

from __future__ import annotations

import datetime as dt
import math

import pytest

from grass_spark.operators.inference import (
    poisson_bootstrap,
    poisson_cdf_thresholds,
    welch_ttest,
)
from grass_spark.operators.smoothing import ewma_daily, ewma_weights


def _vals(spark, xs):
    return spark.createDataFrame([(float(x),) for x in xs], "value double")


# ------------------------------------------------------------- welch
def test_welch_matches_hand_computation(spark):
    a_xs = [1.0, 2.0, 3.0, 4.0, 5.0]
    b_xs = [2.0, 4.0, 6.0, 8.0]
    r = welch_ttest(_vals(spark, a_xs), _vals(spark, b_xs)).collect()[0]

    def stats(xs):
        n = len(xs)
        m = sum(xs) / n
        v = sum((x - m) ** 2 for x in xs) / (n - 1)
        return n, m, v

    na, ma, va = stats(a_xs)
    nb, mb, vb = stats(b_xs)
    se2 = va / na + vb / nb
    t = (ma - mb) / math.sqrt(se2)
    df = se2**2 / ((va / na) ** 2 / (na - 1) + (vb / nb) ** 2 / (nb - 1))
    assert (r.n_a, r.n_b) == (5, 4)
    assert abs(r.mean_a - ma) < 1e-6 and abs(r.mean_b - mb) < 1e-6
    assert abs(r.t - t) < 1e-5 and abs(r.df - df) < 1e-4


def test_welch_single_row_side_yields_null(spark):
    r = welch_ttest(
        _vals(spark, [1.0]), _vals(spark, [2.0, 3.0, 4.0])
    ).collect()[0]
    assert r.t is None and r.df is None and r.n_a == 1


def test_welch_zero_variance_both_sides_yields_null_t(spark):
    r = welch_ttest(
        _vals(spark, [2.0, 2.0, 2.0]), _vals(spark, [5.0, 5.0])
    ).collect()[0]
    assert r.t is None and r.df is None
    assert r.mean_a == 2.0 and r.mean_b == 5.0


# --------------------------------------------------------- bootstrap
def test_poisson_cdf_thresholds_shape():
    cdf = poisson_cdf_thresholds()
    assert len(cdf) == 9
    assert abs(cdf[0] - math.exp(-1.0)) < 1e-15
    assert all(b > a for a, b in zip(cdf, cdf[1:]))
    assert 1.0 - cdf[-1] < 2e-6  # clamp tail is negligible


def test_poisson_bootstrap_deterministic_and_sane(spark):
    df = spark.createDataFrame(
        [(i, float(10 + (i % 7))) for i in range(400)],
        "event_id bigint, value double",
    )
    r1 = poisson_bootstrap(df, n_reps=32).collect()[0]
    r2 = poisson_bootstrap(df, n_reps=32).collect()[0]
    assert r1 == r2  # fully deterministic
    assert r1.n == 400 and r1.n_reps == 32
    # CI brackets the sample mean and is tight for a 400-row sample
    assert r1.ci_lo <= r1.mean <= r1.ci_hi
    assert (r1.ci_hi - r1.ci_lo) < 1.0
    # a different salt moves the draws (CI endpoints shift)
    r3 = poisson_bootstrap(df, n_reps=32, salt="other").collect()[0]
    assert (r3.ci_lo, r3.ci_hi) != (r1.ci_lo, r1.ci_hi)


def test_poisson_bootstrap_fast_mode_deterministic(spark):
    df = spark.createDataFrame(
        [(i, float(10 + (i % 7))) for i in range(400)],
        "event_id bigint, value double",
    )
    r1 = poisson_bootstrap(df, n_reps=32, hash="fast").collect()[0]
    r2 = poisson_bootstrap(df, n_reps=32, hash="fast").collect()[0]
    assert r1 == r2
    assert r1.ci_lo <= r1.mean <= r1.ci_hi
    with pytest.raises(ValueError):
        poisson_bootstrap(df, n_reps=32, hash="sha1")


def test_poisson_bootstrap_rejects_tiny_reps(spark):
    df = spark.createDataFrame(
        [(1, 1.0)], "event_id bigint, value double"
    )
    with pytest.raises(ValueError):
        poisson_bootstrap(df, n_reps=1)


# -------------------------------------------------------------- ewma
def test_ewma_weights_exact():
    w = ewma_weights(0.5, 3)
    assert w == [1.0, 0.5, 0.25, 0.125]
    with pytest.raises(ValueError):
        ewma_weights(0.0, 3)
    with pytest.raises(ValueError):
        ewma_weights(0.5, -1)


def test_ewma_daily_gap_aware_normalization(spark):
    d0 = dt.datetime(2024, 1, 1)
    rows = []
    # key 'a': 2 events day0, 4 events day1, gap day2, 8 events day3
    for n, off in [(2, 0), (4, 1), (8, 3)]:
        rows += [("a", d0 + dt.timedelta(days=off, hours=i)) for i in range(n)]
    df = spark.createDataFrame(rows, "event_type string, ts timestamp")
    out = {
        r.day.isoformat(): r
        for r in ewma_daily(df, alpha=0.5, horizon=2).collect()
    }
    assert out["2024-01-01"].ewma == 2.0  # first day: just itself
    # day1: (1*4 + 0.5*2) / 1.5
    assert abs(out["2024-01-02"].ewma - (4 + 0.5 * 2) / 1.5) < 1e-6
    # day3 (gap at day2): window covers offsets 0..2 -> days 1 and 3
    # present: (1*8 + 0.25*4) / 1.25; the MISSING day contributes nothing
    assert abs(out["2024-01-04"].ewma - (8 + 0.25 * 4) / 1.25) < 1e-6
    # gap day itself emits no row
    assert "2024-01-03" not in out
    assert out["2024-01-04"].n_window_days == 2


def test_ewma_alpha_one_is_identity(spark):
    d0 = dt.datetime(2024, 1, 1)
    rows = [("k", d0), ("k", d0), ("k", d0 + dt.timedelta(days=1))]
    df = spark.createDataFrame(rows, "event_type string, ts timestamp")
    out = ewma_daily(df, alpha=1.0, horizon=5).collect()
    assert all(r.ewma == float(r.x) for r in out)


def test_ewma_alpha_one_under_sort_merge_join(spark):
    """alpha = 1 zeroes the weight sum of every target day without data
    of its own; the final join drops those days, but a sort-merge join
    computes the aggregate's division first.  Under ANSI mode that
    raised DIVIDE_BY_ZERO, so the result depended on the join the
    planner picked."""
    d0 = dt.datetime(2024, 1, 1)
    rows = [("k", d0), ("k", d0), ("k", d0 + dt.timedelta(days=1))]
    df = spark.createDataFrame(rows, "event_type string, ts timestamp")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = ewma_daily(df, alpha=1.0, horizon=5).collect()
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    assert sorted((str(r.day), r.x, r.ewma) for r in out) == [
        ("2024-01-01", 2, 2.0), ("2024-01-02", 1, 1.0),
    ]
