"""Granularity machinery vs the reference's doctest expectations (F4)."""

from __future__ import annotations

from datetime import datetime

import pytest

from grass_spark.functions.granularity import (
    adjust_datetime_to_granularity,
    bucket_end_col,
    bucket_start_col,
    compute_datetime_delta,
    granule_series,
    increment_datetime,
    infer_granularity_absolute,
    infer_granularity_relative,
    parse_granularity,
)

dt = datetime


# --- adjust_datetime_to_granularity (datetime_math.py doctests) -----------


@pytest.mark.parametrize(
    ("gran", "expected"),
    [
        ("5 seconds", dt(2001, 8, 8, 12, 30, 30)),
        ("20 minutes", dt(2001, 8, 8, 12, 30)),
        ("3 hours", dt(2001, 8, 8, 12, 0)),
        ("5 days", dt(2001, 8, 8)),
        ("2 weeks", dt(2001, 8, 6)),  # Monday
        ("6 months", dt(2001, 8, 1)),
        ("2 years", dt(2001, 1, 1)),
    ],
)
def test_adjust_to_granularity(gran, expected):
    assert adjust_datetime_to_granularity(dt(2001, 8, 8, 12, 30, 30), gran) == expected


# --- increment (datetime_math.py:128-199 doctests) -------------------------


@pytest.mark.parametrize(
    ("start", "gran", "mult", "expected"),
    [
        (dt(2001, 11, 1), "1 month", 1, dt(2001, 12, 1)),
        (dt(2001, 11, 1), "13 months", 1, dt(2002, 12, 1)),
        (dt(2001, 1, 1), "72 months", 1, dt(2007, 1, 1)),
        (dt(2001, 1, 1), "5 minutes", 1, dt(2001, 1, 1, 0, 5)),
        (dt(2001, 1, 1), "49 hours", 1, dt(2001, 1, 3, 1, 0)),
        (dt(2001, 1, 1), "3600 seconds", 1, dt(2001, 1, 1, 1, 0)),
        (dt(2001, 1, 1), "30 days", 1, dt(2001, 1, 31)),
        (dt(2001, 1, 1), "1 month", 3, dt(2001, 4, 1)),
        (dt(2001, 1, 1), "1 year", 2, dt(2003, 1, 1)),
    ],
)
def test_increment(start, gran, mult, expected):
    assert increment_datetime(start, gran, mult) == expected


# --- compute_datetime_delta (spot checks of the reference doctests) --------


@pytest.mark.parametrize(
    ("s", "e", "key", "val"),
    [
        (dt(2001, 1, 1, 0, 0, 14), dt(2001, 1, 1, 0, 0, 44), "second", 30),
        (dt(2001, 1, 1, 0, 0, 30), dt(2001, 1, 1, 0, 5, 30), "second", 300),
        (dt(2011, 10, 31, 0, 45), dt(2011, 10, 31, 12, 15), "minute", 690),
        (dt(2011, 11, 1), dt(2011, 12, 1, 1), "hour", 721),
        (dt(2011, 11, 1), dt(2011, 11, 5), "day", 4),
        (dt(2011, 1, 1), dt(2011, 2, 1), "month", 1),
        (dt(2011, 12, 1), dt(2012, 1, 1), "month", 1),
        (dt(2011, 12, 1), dt(2012, 6, 1), "month", 6),
        (dt(2011, 6, 1), dt(2021, 6, 1), "month", 120),
        (dt(2011, 6, 1), dt(2012, 6, 1, 12), "hour", 8796),
    ],
)
def test_datetime_delta(s, e, key, val):
    assert compute_datetime_delta(s, e)[key] == val


# --- granularity inference (temporal_granularity.py doctests, F4) ----------


def test_infer_months():
    assert infer_granularity_absolute([(dt(2000, 1, 1), None), (dt(2000, 2, 1), None)]) == "1 month"


def test_infer_days():
    times = [(dt(2000, 1, 1), None), (dt(2000, 1, 2), None), (dt(2000, 1, 3), None)]
    assert infer_granularity_absolute(times) == "1 day"


def test_infer_mixed_seconds():
    times = [(dt(2000, 1, 1), None), (dt(2000, 1, 2), None), (dt(2000, 5, 4, 0, 5, 30), None)]
    assert infer_granularity_absolute(times) == "30 seconds"


def test_infer_interval_plus_instant_hours():
    times = [(dt(2000, 1, 1), dt(2000, 5, 2)), (dt(2000, 5, 4, 2), None)]
    assert infer_granularity_absolute(times) == "2 hours"


def test_infer_six_hours():
    times = [(dt(2000, 1, 1), dt(2000, 2, 1)), (dt(2005, 5, 4, 12), dt(2007, 5, 20, 6))]
    assert infer_granularity_absolute(times) == "6 hours"


def test_infer_relative():
    assert infer_granularity_relative([(0, 3), (3, 6), (6, 9)]) == 3
    assert infer_granularity_relative([(0, 3), (4, 6), (8, 11)]) == 1
    assert infer_granularity_relative([(0, 21)]) == 21


# --- granule generation -----------------------------------------------------


def test_granule_series_monthly():
    g = granule_series(dt(2001, 1, 15, 12, 5, 45), dt(2001, 4, 9, 12, 5, 45), "1 month",
                       include_end_equal=False)
    # aligned start 2001-01-01; granules Jan, Feb, Mar, Apr (last instant at
    # Apr 9 still inside the April granule)
    assert g[0] == (dt(2001, 1, 1), dt(2001, 2, 1))
    assert g[-1][0] == dt(2001, 4, 1)
    assert len(g) == 4


# --- Spark bucket assignment parity with driver-side stepping ---------------


def test_bucket_start_col_matches_python(spark):
    from pyspark.sql import functions as F

    times = [
        dt(2001, 1, 15, 12, 5, 45),
        dt(2001, 1, 29, 12, 5, 45),
        dt(2001, 2, 12, 12, 5, 45),
        dt(2001, 3, 26, 12, 5, 45),
        dt(2003, 12, 31, 23, 59, 59),
    ]
    df = spark.createDataFrame([(t,) for t in times], "ts timestamp")
    for gran, origin in [
        ("1 month", dt(2001, 1, 1)),
        ("3 months", dt(2001, 1, 1)),
        ("14 days", dt(2001, 1, 1)),
        ("12 hours", dt(2001, 1, 1)),
        ("30 seconds", dt(2001, 1, 1)),
        ("2 years", dt(2001, 1, 1)),
        ("1 week", dt(2001, 1, 1)),
    ]:
        rows = df.select(
            "ts",
            bucket_start_col("ts", gran, origin).alias("b"),
            bucket_end_col(bucket_start_col("ts", gran, origin), gran).alias("e"),
        ).collect()
        for r in rows:
            # python reference: step granules from origin until ts falls in
            cur = origin
            while increment_datetime(cur, gran) <= r["ts"]:
                cur = increment_datetime(cur, gran)
            assert r["b"] == cur, (gran, r["ts"])
            assert r["e"] == increment_datetime(cur, gran)
            assert r["b"] <= r["ts"] < r["e"]


def test_parse_granularity():
    assert parse_granularity("30 seconds") == (30, "second")
    assert parse_granularity("1 day") == (1, "day")
    assert parse_granularity("minute") == (1, "minute")


# ---------------------------------------------------------------------------
# distributed inference (round 2): JVM-side delta decomposition
# ---------------------------------------------------------------------------


def _mk_ts_df(spark, times, end=False):
    if end:
        return spark.createDataFrame(
            [(s, e) for s, e in times], "ts timestamp, te timestamp"
        )
    return spark.createDataFrame([(t,) for t in times], "ts timestamp")


def test_from_df_matches_driver_path(spark):
    """infer_granularity_from_df == infer_granularity_absolute on the
    same series, for several shapes incl. the '1209600 seconds' quirk."""
    from datetime import datetime, timedelta
    from grass_spark.functions.granularity import (
        infer_granularity_absolute, infer_granularity_from_df)

    shapes = [
        [datetime(2001, m, 1) for m in range(1, 13)],                 # months
        [datetime(2001, 1, 1) + timedelta(days=14 * i, seconds=30)
         for i in range(6)],                                          # 1209600 s quirk
        [datetime(2001, 1, 1) + timedelta(hours=6 * i) for i in range(40)],
        [datetime(2001, 1, 1), datetime(2001, 1, 4), datetime(2001, 1, 10)],
    ]
    for times in shapes:
        want = infer_granularity_absolute([(t, None) for t in times])
        got = infer_granularity_from_df(_mk_ts_df(spark, times), "ts")
        assert got == want, times[:2]


def test_from_df_interval_lengths(spark):
    from datetime import datetime, timedelta
    from grass_spark.functions.granularity import (
        infer_granularity_absolute, infer_granularity_from_df)

    times = [
        (datetime(2001, 1, 1) + timedelta(days=3 * i),
         datetime(2001, 1, 1) + timedelta(days=3 * i + 1))
        for i in range(10)
    ]
    want = infer_granularity_absolute(times)
    got = infer_granularity_from_df(_mk_ts_df(spark, times, end=True), "ts", "te")
    assert got == want == "1 day"


def test_collected_rows_are_o_of_distinct_deltas(spark):
    """The scale contract (VERDICT round-1 #2): the frame that reaches
    the driver has O(distinct deltas) rows, not O(distinct ts)."""
    from datetime import datetime, timedelta
    from grass_spark.functions.granularity import distinct_delta_components

    times = [datetime(2020, 1, 1) + timedelta(minutes=5 * i) for i in range(5000)]
    comp = distinct_delta_components(_mk_ts_df(spark, times), "ts")
    assert comp.count() == 1   # one distinct 5-minute delta for 5000 ts


def test_delta_components_col_matches_python(spark):
    """Column decomposition == compute_datetime_delta on awkward pairs
    (hour wrap, minute-only, month boundaries, multi-day)."""
    from datetime import datetime
    from grass_spark.functions.granularity import (
        compute_datetime_delta, delta_components_col)
    from pyspark.sql import functions as F

    pairs = [
        (datetime(2001, 1, 1), datetime(2001, 2, 1)),
        (datetime(2001, 1, 1), datetime(2002, 1, 1)),
        (datetime(2001, 1, 31, 23), datetime(2001, 2, 1, 5)),
        (datetime(2001, 1, 1, 0, 30), datetime(2001, 1, 3, 0, 10)),
        (datetime(2001, 1, 1, 0, 0, 30), datetime(2001, 1, 1, 0, 2, 15)),
        (datetime(2001, 1, 1, 5), datetime(2001, 1, 9, 5)),
        (datetime(2001, 1, 1), datetime(2001, 1, 15)),
    ]
    df = spark.createDataFrame(pairs, "a timestamp, b timestamp")
    rows = df.select(delta_components_col(F.col("a"), F.col("b")).alias("d")).collect()
    for (a, b), r in zip(pairs, rows):
        want = compute_datetime_delta(a, b)
        got = r["d"].asDict()
        assert got == want, (a, b)


def test_grouped_inference(spark):
    from datetime import datetime, timedelta
    from grass_spark.functions.granularity import infer_granularity_grouped

    rows = []
    for i in range(12):
        rows.append((1, datetime(2001, 1, 1) + timedelta(days=i)))
    for i in range(12):
        rows.append((2, datetime(2001, 1, 1) + timedelta(hours=6 * i)))
    df = spark.createDataFrame(rows, "k int, ts timestamp")
    got = infer_granularity_grouped(df, keys=["k"], ts_col="ts")
    assert got == [(1, "1 day"), (2, "6 hours")]


def test_delta_inference_compiles_without_codegen_fallback(spark):
    """The delta decomposition compiles under whole-stage codegen.  With
    the fallback off, a stage whose generated code exceeds the JVM's
    64 KB method limit raises instead of quietly running interpreted
    (the algebra's granularity mode hit that on every inference)."""
    from datetime import datetime, timedelta
    from grass_spark.functions.granularity import (
        infer_granularity_from_df, infer_granularity_grouped)
    from pyspark.sql import functions as F

    times = [
        (datetime(2001, 1, 1) + timedelta(days=3 * i),
         datetime(2001, 1, 1) + timedelta(days=3 * i + 1))
        for i in range(10)
    ]
    df = _mk_ts_df(spark, times, end=True)
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        assert infer_granularity_from_df(df, "ts", "te") == "1 day"
        assert infer_granularity_from_df(df, "ts", "te", assume_small=True) == "1 day"
        keyed = df.withColumn("k", F.lit(1))
        assert infer_granularity_grouped(keyed, ["k"], "ts", "te") == [(1, "1 day")]
    finally:
        spark.conf.unset("spark.sql.codegen.fallback")
