"""Temporal aggregation — the engine's ``t.rast.aggregate``.

Reference flow (``temporal/t.rast.aggregate/t.rast.aggregate.py:112-229``
+ ``python/grass/temporal/aggregation.py:213-396``): align the series
start to the granularity, generate regular granules, pick the maps each
granule relates to (sampling relations, default ``contains``), and run
the r.series kernels per granule.  Granules with no maps produce no
output (gaps); NULL-only granules are dropped unless ``register_null``
(``aggregation.py:201-206``).

Spark-first design: for regular granularities the R*-tree topology join
of the reference collapses to a pure *projection* —

* instant rows (``end_col is None``): granule-contains-instant is exactly
  half-open bucket membership, so bucket assignment is one codegen'd
  column expression (no join, no extra shuffle; the only shuffle is the
  final groupBy on (conv_id, bucket), which is unavoidable and
  map-side-combined by Spark's partial aggregation).
* interval rows: each row is exploded to the granule indices its extent
  touches (``sequence`` — bounded by extent/granularity ratio), then
  refined with the exact Allen predicates.  Still no join: granules are
  arithmetic, not a table.

Sampling against the irregular granules of another dataset lives in
:mod:`grass_spark.operators.sample` as a broadcast range join.
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from grass_spark.functions import relations as rel
from grass_spark.functions.granularity import (
    adjust_datetime_to_granularity,
    bucket_end_col,
    bucket_idx_col,
    bucket_start_col,
    granule_start_col,
)
from grass_spark.functions.kernels import agg_exprs

DEFAULT_SAMPLING = ("contains",)


def series_origin(
    df: DataFrame, gran: str, ts_col: str = "ts", align: bool = True
) -> datetime:
    """Aligned series start: min(start) truncated to the granularity
    boundary (``adjust_datetime_to_granularity``,
    ``t.rast.aggregate.py:152-153``).  One cheap columnar MIN — the
    reference reads the same value from its catalog."""
    start = df.agg(F.min(ts_col).alias("s")).collect()[0]["s"]
    if start is None:
        raise ValueError("empty input — no series start")
    return adjust_datetime_to_granularity(start, gran) if align else start


def aggregate(
    df: DataFrame,
    granularity: str,
    methods: list[str],
    *,
    keys: list[str] | None = None,
    ts_col: str = "ts",
    end_col: str | None = None,
    value_col: str = "value",
    idx_col: str | None = None,
    sampling: tuple[str, ...] = DEFAULT_SAMPLING,
    origin: datetime | None = None,
    where: str | None = None,
    propagate_null: bool = False,
    register_null: bool = False,
    quantile: float | None = None,
) -> DataFrame:
    """Aggregate ``value_col`` into regular granules of ``granularity``.

    Returns one row per (keys..., bucket_start) with ``bucket_end`` and
    one column per method (aliased to the method name).

    ``keys`` defaults to ``["conv_id"]`` — the transcript engine's cell
    coordinate (SURVEY §1.6).  ``where`` is the reference's raw SQL
    predicate surface (``abstract_space_time_dataset.py:1919-1932``).
    """
    keys = ["conv_id"] if keys is None else list(keys)
    if where:
        df = df.filter(F.expr(where))
    if origin is None:
        origin = series_origin(df, granularity, ts_col=ts_col)

    if end_col is None:
        # Instant fast path: membership only via granule-contains-instant
        # (temporal_extent.py:779-783 → half-open [start, end)).
        if "contains" not in sampling:
            raise ValueError(
                "instant inputs can only be sampled with 'contains' "
                f"(got {sampling!r}) — no other Allen relation holds "
                "between an interval granule and an instant"
            )
        bucketed = df.withColumn(
            "bucket_start", bucket_start_col(ts_col, granularity, origin)
        )
    else:
        # Interval path: explode each row to the granule indices its
        # extent touches, refine with exact Allen predicates.
        lo = bucket_idx_col(ts_col, granularity, origin)
        hi = F.coalesce(
            bucket_idx_col(end_col, granularity, origin), lo
        )
        exploded = df.withColumn(
            "_gidx", F.explode(F.sequence(lo, hi))
        ).withColumn("_g_start", granule_start_col(F.col("_gidx"), granularity, origin))
        g_end = bucket_end_col(F.col("_g_start"), granularity)
        keep = rel.any_relation(
            list(sampling), F.col("_g_start"), g_end, F.col(ts_col), F.col(end_col)
        )
        bucketed = (
            exploded.filter(keep)
            .withColumnRenamed("_g_start", "bucket_start")
            .drop("_gidx")
        )

    aggs = agg_exprs(
        methods, value_col, idx_col=idx_col, quantile=quantile,
        propagate_null=propagate_null,
    )
    n_nonnull = F.count(F.col(value_col)).alias("_n_nonnull")
    out = bucketed.groupBy(*keys, "bucket_start").agg(*aggs, n_nonnull)
    if not register_null:
        # NULL-only granules are dropped (aggregation.py:201-206)
        out = out.filter(F.col("_n_nonnull") > 0)
    return out.drop("_n_nonnull").withColumn(
        "bucket_end", bucket_end_col(F.col("bucket_start"), granularity)
    )


def series(
    df: DataFrame,
    methods: list[str],
    *,
    keys: list[str] | None = None,
    value_col: str = "value",
    idx_col: str | None = None,
    where: str | None = None,
    ts_col: str = "ts",
    end_col: str | None = None,
    propagate_null: bool = False,
    quantile: float | None = None,
) -> DataFrame:
    """``t.rast.series``: the same kernels over the whole series (or a
    ``where`` subset) — one output row per key, stamped with the series'
    overall [start, end] extent (``t.rast.series.py:103-209``)."""
    keys = ["conv_id"] if keys is None else list(keys)
    if where:
        df = df.filter(F.expr(where))
    aggs = agg_exprs(
        methods, value_col, idx_col=idx_col, quantile=quantile,
        propagate_null=propagate_null,
    )
    extent_end = (
        F.max(F.coalesce(F.col(end_col), F.col(ts_col)))
        if end_col
        else F.max(F.col(ts_col))
    )
    return df.groupBy(*keys).agg(
        *aggs,
        F.min(ts_col).alias("series_start"),
        extent_end.alias("series_end"),
    )


def aggregate_relative(
    df: DataFrame,
    granularity: int,
    methods: list[str],
    *,
    keys: list[str] | None = None,
    ts_col: str = "t",
    value_col: str = "value",
    idx_col: str | None = None,
    origin: int | None = None,
    where: str | None = None,
    propagate_null: bool = False,
    register_null: bool = False,
    quantile: float | None = None,
) -> DataFrame:
    """Relative-time twin of :func:`aggregate` (SURVEY §1.4): time is an
    integer + unit (``map_tables_template.sql:28-34``); granularity is a
    plain integer so bucketing is integer floor-division — no calendar
    arithmetic.  The unit itself is tier metadata, not data.
    """
    keys = ["conv_id"] if keys is None else list(keys)
    if where:
        df = df.filter(F.expr(where))
    if origin is None:
        origin = df.agg(F.min(ts_col).alias("s")).collect()[0]["s"]
        if origin is None:
            raise ValueError("empty input — no series start")
        origin = int(origin) - (int(origin) % granularity)  # align

    bucket = (
        F.floor((F.col(ts_col) - F.lit(origin)) / granularity).cast("long")
        * granularity + origin
    )
    bucketed = df.withColumn("bucket_start", bucket)
    aggs = agg_exprs(
        methods, value_col, idx_col=idx_col, quantile=quantile,
        propagate_null=propagate_null,
    )
    n_nonnull = F.count(F.col(value_col)).alias("_n_nonnull")
    out = bucketed.groupBy(*keys, "bucket_start").agg(*aggs, n_nonnull)
    if not register_null:
        out = out.filter(F.col("_n_nonnull") > 0)
    return out.drop("_n_nonnull").withColumn(
        "bucket_end", F.col("bucket_start") + granularity
    )
