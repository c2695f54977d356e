"""Gap-aware exponential smoothing over daily series — the trend line
a monitoring dashboard draws over per-key daily counts.

``ewma_daily`` computes, for every (key, day) PRESENT in the data, the
exponentially weighted mean of the key's daily counts over a bounded
trailing horizon: ``ewma_t = sum_o w_o * x_{t-o} / sum_o w_o`` where
``w_o = (1-alpha)^o`` and the sums run over the PRESENT days in the
window (missing days contribute neither weight nor value — the
normalization makes the estimate gap-aware instead of silently decaying
through holes, in the spirit of the reference's gap-aware series
aggregation, r.series null handling).

Scale shape: the daily census is one map-side-combinable groupBy
(a hot key spreads over days — the rate_anomalies argument); each
census row explodes into ``horizon+1`` forward contributions map-side
(the multi_touch day-bucket pattern) and ONE groupBy on (key, day)
reduces them; a final semi-join drops target days with no data of
their own.  Nothing is quadratic in the calendar and the raw corpus
never re-shuffles.

Cross-engine parity: weights are DRIVER-SIDE exact python floats
shipped as plan literals (never runtime ``pow`` — the
rbo_tail_weights lesson); counts are exact integers; the weighted sums
add <= horizon+1 small doubles so round(6) absorbs ordering ulps.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["ewma_daily", "ewma_weights"]


def ewma_weights(alpha: float, horizon: int) -> list[float]:
    """``(1-alpha)^o`` for o = 0..horizon, exact python floats."""
    if not (0.0 < alpha <= 1.0):
        raise ValueError("ewma_daily: alpha must be in (0, 1]")
    if horizon < 0:
        raise ValueError("ewma_daily: horizon must be >= 0")
    out, w = [], 1.0
    for _ in range(horizon + 1):
        out.append(w)
        w *= 1.0 - alpha
    return out


def ewma_daily(
    df: DataFrame,
    *,
    ts_col: str = "ts",
    key_col: str = "event_type",
    alpha: float = 0.3,
    horizon: int = 14,
) -> DataFrame:
    """Per (key, day): ``(key, day, x, n_window_days, ewma)`` for every
    day the key has data — ``x`` is that day's count, ``ewma`` the
    gap-aware exponentially weighted trailing mean (see module doc).
    """
    w_lits = ewma_weights(alpha, horizon)
    w_arr = F.array(*[F.lit(float(x)) for x in w_lits])
    daily = (
        df.select(
            F.col(key_col).alias("_k"),
            F.col(ts_col).cast("date").alias("_d"),
        )
        .groupBy("_k", "_d")
        .agg(F.count(F.lit(1)).alias("_x"))
        .localCheckpoint(eager=False)  # feeds the explode AND the semi-join
    )
    # explode to a column FIRST (generators can't nest in expressions),
    # then shift forward: day d contributes to target day d + o.
    contrib = daily.select(
        "_k",
        "_x",
        "_d",
        F.explode(F.sequence(F.lit(0), F.lit(horizon))).alias("_o"),
    ).select(
        "_k",
        F.date_add(F.col("_d"), F.col("_o")).alias("_td"),
        F.element_at(w_arr, F.col("_o") + 1).alias("_w"),
        "_x",
    )
    # a present day's weight sum includes w_0 = 1; only target days the
    # join below drops can sum to 0 (alpha = 1 zeroes every w_o, o > 0),
    # and ANSI mode would raise on them if the plan divides before the
    # join filters — try_divide makes those rows NULL instead
    agg = contrib.groupBy("_k", "_td").agg(
        F.count(F.lit(1)).alias("n_window_days"),
        F.round(
            F.try_divide(
                F.sum(F.col("_w") * F.col("_x").cast("double")),
                F.sum("_w"),
            ),
            6,
        ).alias("ewma"),
    )
    return (
        agg.join(
            daily,
            (agg["_k"] == daily["_k"]) & (agg["_td"] == daily["_d"]),
            "inner",
        )
        .select(
            agg["_k"].alias(key_col),
            agg["_td"].alias("day"),
            F.col("_x").alias("x"),
            "n_window_days",
            "ewma",
        )
    )
