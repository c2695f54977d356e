"""Kernel parity: every Spark kernel vs the NumPy oracle (FIXTURES.md F6).

Oracle implements lib/stats/c_*.c verbatim; Spark must match to 1e-12.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from grass_oracle import ORACLE, quantile as oracle_quantile
from grass_spark.functions.kernels import KERNELS, agg_exprs

NAN = float("nan")

VECTORS = {
    "simple": [1.0, 2.0, 3.0, 4.0, 5.0],
    "even": [1.0, 2.0, 3.0, 4.0],
    "with_nulls": [1.0, NAN, 3.0, NAN, 5.0, 2.0],
    "mode_tie": [1.0, 1.0, 2.0, 2.0, 3.0],
    "decile": [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0],
    "constant": [7.0, 7.0, 7.0],
    "single": [42.0],
    "regression_nulls": [2.0, NAN, 6.0, 8.0, NAN, 12.0],  # x keeps index!
    "negatives": [-5.0, 3.0, -1.0, 0.0, 2.5],
    "skewed": [1.0, 1.0, 1.0, 2.0, 9.0],
}


def _spark_kernel(spark, values, method):
    rows = [(i, None if (isinstance(v, float) and math.isnan(v)) else v) for i, v in enumerate(values)]
    df = spark.createDataFrame(rows, "idx int, v double")
    out = df.agg(*agg_exprs([method], "v", idx_col="idx")).collect()[0][0]
    return out


@pytest.mark.parametrize("vec_name", sorted(VECTORS))
@pytest.mark.parametrize("method", sorted(KERNELS))
def test_kernel_matches_oracle(spark, vec_name, method):
    values = VECTORS[vec_name]
    expected = ORACLE[method](values)
    got = _spark_kernel(spark, values, method)
    if expected is None:
        assert got is None, f"{method}({vec_name}): expected NULL, got {got}"
    else:
        assert got is not None, f"{method}({vec_name}): expected {expected}, got NULL"
        assert got == pytest.approx(expected, rel=1e-12, abs=1e-12), (
            f"{method}({vec_name})"
        )


def test_all_null_vector(spark):
    df = spark.createDataFrame([(0, None), (1, None)], "idx int, v double")
    row = df.agg(
        *agg_exprs(["average", "count", "diversity", "min_raster"], "v", idx_col="idx"),
    ).collect()[0]
    assert row["average"] is None
    assert row["count"] == 0
    assert row["diversity"] == 0
    assert row["min_raster"] is None


@pytest.mark.parametrize("q", [0.1, 0.25, 0.5, 0.75, 0.9, 0.33])
def test_quantile_type7(spark, q):
    """Spark exact percentile must equal Hyndman–Fan type 7 closed form
    (lib/stats/c_percentile.c:21-27)."""
    values = VECTORS["decile"]
    df = spark.createDataFrame([(v,) for v in values], "v double")
    got = df.agg(F.expr(f"percentile(v, {q}D)")).collect()[0][0]
    assert got == pytest.approx(oracle_quantile(values, q), rel=1e-12)


def test_propagate_null_flag(spark):
    """r.series -n: any NULL input -> NULL result (main.c:208-210)."""
    from grass_spark.functions.kernels import agg_exprs

    df = spark.createDataFrame(
        [("a", 1.0), ("a", None), ("b", 1.0), ("b", 2.0)], "g string, v double"
    )
    rows = {
        r["g"]: r["sum"]
        for r in df.groupBy("g").agg(*agg_exprs(["sum"], "v", propagate_null=True)).collect()
    }
    assert rows["a"] is None
    assert rows["b"] == 3.0


def test_range_mask(spark):
    """r.series range=lo,hi masks out-of-range values to NULL."""
    from grass_spark.functions.kernels import masked

    df = spark.createDataFrame([(1.0,), (5.0,), (100.0,)], "v double")
    got = df.select(masked("v", 0, 10).alias("m")).agg(F.sum("m")).collect()[0][0]
    assert got == 6.0


# ---------------- weighted regression (c_reg.c regression_w) ----------------


def test_weighted_regression_matches_numpy(spark):
    import numpy as np
    from grass_spark.functions.kernels import weighted_regression_expr

    rng = np.random.default_rng(3)
    n = 60
    y = 3.0 * np.arange(n) + 10 + rng.normal(0, 2.0, n)
    w = rng.integers(1, 9, n).astype(float)
    rows = [("g", int(i), float(y[i]), float(w[i])) for i in range(n)]
    df = spark.createDataFrame(rows, ["g", "i", "v", "w"])
    got = df.groupBy("g").agg(
        weighted_regression_expr("w_slope", "v", "i", "w"),
        weighted_regression_expr("w_offset", "v", "i", "w"),
        weighted_regression_expr("w_detcoeff", "v", "i", "w"),
        weighted_regression_expr("w_tvalue", "v", "i", "w"),
    ).collect()[0]

    # reference formulas (c_reg.c:108-180) in numpy
    cnt = w.sum()
    xbar = (np.arange(n) * w).sum() / cnt
    ybar = (y * w).sum() / cnt
    numer = (np.arange(n) * y * w).sum() - cnt * xbar * ybar
    denom = (np.arange(n) ** 2 * w).sum() - cnt * xbar * xbar
    denom2 = (y * y * w).sum() - cnt * ybar * ybar
    rsq = numer * numer / (denom * denom2)
    assert got["w_slope"] == pytest.approx(numer / denom, rel=1e-9)
    assert got["w_offset"] == pytest.approx(ybar - xbar * numer / denom, rel=1e-9)
    assert got["w_detcoeff"] == pytest.approx(rsq, rel=1e-9)
    assert got["w_tvalue"] == pytest.approx(
        (rsq * (cnt - 2) / (1 - rsq)) ** 0.5, rel=1e-9
    )


def test_weighted_regression_count_guard(spark):
    from grass_spark.functions.kernels import weighted_regression_expr

    df = spark.createDataFrame([("g", 0, 1.0, 0.5)], ["g", "i", "v", "w"])
    got = df.groupBy("g").agg(
        weighted_regression_expr("w_slope", "v", "i", "w")
    ).collect()[0]
    assert got["w_slope"] is None  # Σw = 0.5 < 2


def test_weighted_skew_kurt_vs_numpy(spark):
    """w_skew / w_kurt vs a literal NumPy transcription of
    lib/stats/c_skew.c:49-105 and c_kurt.c:47-101 (including the
    reference's d³ accumulation in w_kurt)."""
    import numpy as np
    from grass_spark.functions.kernels import weighted_kernel_expr

    rng = np.random.default_rng(7)
    v = rng.normal(100, 25, 200)
    w = rng.integers(1, 9, 200).astype(float)
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(v, w)], "v double, w double"
    )
    got = df.agg(
        weighted_kernel_expr("w_skew", "v", "w"),
        weighted_kernel_expr("w_kurt", "v", "w"),
    ).collect()[0]

    W = w.sum()
    ave = (v * w).sum() / W
    d = v - ave
    sumsq = (d * d * w).sum()
    sumcb = (d * d * d * w).sum()
    sdev = np.sqrt(sumsq / W)
    want_skew = sumcb / (W * sdev**3)
    var = sumsq / W
    want_kurt = sumcb / (W * var * var) - 3   # d³ quirk, c_kurt.c:82

    assert got["w_skew"] == pytest.approx(want_skew, rel=1e-9)
    assert got["w_kurt"] == pytest.approx(want_kurt, rel=1e-9)


def test_approx_scale_kernels_within_bounds(spark):
    """Opt-in sketch kernels (NOT GRASS parity): approx_percentile's
    rank error <= 1/APPROX_ACCURACY, HLL distinct within ~5%.  The
    exact kernels stay byte-identical (spot-checked alongside)."""
    from pyspark.sql import functions as F

    from grass_spark.functions.kernels import agg_exprs

    n = 100_000
    df = spark.range(n).select(
        (F.hash("id") % 10_000).cast("double").alias("v")
    )
    r = df.agg(*agg_exprs(
        ["median", "approx_median", "diversity", "approx_diversity",
         "perc90", "approx_perc90"], "v",
    )).collect()[0]
    # rank err 1e-4 of 100k rows ~ 10 ranks ~ a couple of distinct
    # values on this near-uniform data; allow 10x slack for ties
    assert abs(r["approx_median"] - r["median"]) <= 20
    assert abs(r["approx_perc90"] - r["perc90"]) <= 20
    assert abs(r["approx_diversity"] - r["diversity"]) / r["diversity"] < 0.05
