"""Temporal core queries: the t.rast.* analogues over ``events``.

Aggregation kernels (t.rast.aggregate / r.series, weighted variants,
relative-time and masked aggregation), gap fill and gap listing,
accumulation and accumulation-cycle detection, snapping and shifting,
Allen relations and the topology census, granularity inference,
granule sampling and resampling (priority, LOCF, M4), the sketch tier
and the tier cascade.

Also home of ``_t``, the parquet reader every query module uses.
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from grass_spark.functions import relations as rel
from grass_spark.functions.granularity import granule_series
from grass_spark.functions.kernels import weighted_kernel_expr
from grass_spark.functions.weighted import weighted_median, weighted_mode
from grass_spark.operators.accumulate import accumulate
from grass_spark.operators.aggregate import aggregate, series
from grass_spark.operators.gapfill import gapfill, gaps_report
from grass_spark.operators.m4 import m4_downsample
from grass_spark.operators.sample import resample_by_granularity


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _r6(*names: str) -> list:
    return [F.round(F.col(n), 6).alias(n) for n in names]


# =====================================================================
# Temporal core — events(event_id, ts, user_id, event_type, value, props)
# =====================================================================


def q_agg_hourly(spark, sf_dir):
    """t.rast.aggregate methods=count,sum,average,min,max gran='1 hour'."""
    ev = _t(spark, sf_dir, "events")
    out = aggregate(
        ev, "1 hour", ["count", "sum", "average", "minimum", "maximum"],
        keys=["user_id"], ts_col="ts", value_col="value",
    )
    return out.select(
        "user_id",
        F.col("bucket_start").alias("bucket"),
        F.col("count").alias("cnt"),
        *_r6("sum", "average", "minimum", "maximum"),
    )


ORACLE_AGG_HOURLY = """
SELECT user_id,
       date_trunc('hour', ts)                   AS bucket,
       CAST(count(value) AS BIGINT)             AS cnt,
       round(sum(value), 6)                     AS sum,
       round(avg(value), 6)                     AS average,
       round(min(value), 6)                     AS minimum,
       round(max(value), 6)                     AS maximum
FROM events
GROUP BY 1, 2
"""


def q_agg_daily_holistic(spark, sf_dir):
    """Holistic kernels per event_type per day: stddev/variance (population),
    median (mean-of-middle-two), type-7 quartiles, population skew/kurtosis.

    The three quantiles are computed with ONE array-argument exact
    ``percentile`` call (single sort buffer) instead of three separate
    sort-based aggregates — the reference's multi-output single scan
    (r.series/main.c:402-474), applied to the quantile family.
    """
    from grass_spark.functions.kernels import agg_exprs

    ev = _t(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts")).alias("bucket")
    qs = F.expr("percentile(value, array(0.25D, 0.75D, 0.90D))")
    out = ev.groupBy("event_type", day).agg(
        *agg_exprs(["stddev", "variance", "median", "skewness", "kurtosis"],
                   "value"),
        qs.alias("_q"),
    )
    return out.select(
        "event_type", "bucket",
        *_r6("stddev", "variance", "median"),
        F.round(F.col("_q")[0], 6).alias("quart1"),
        F.round(F.col("_q")[1], 6).alias("quart3"),
        F.round(F.col("_q")[2], 6).alias("perc90"),
        *_r6("skewness", "kurtosis"),
    )


ORACLE_AGG_DAILY_HOLISTIC = """
WITH base AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket, value AS v
  FROM events
), m AS (
  SELECT event_type, bucket, avg(v) AS mu, count(v) AS n
  FROM base GROUP BY 1, 2
)
SELECT b.event_type,
       b.bucket,
       round(stddev_pop(b.v), 6)                        AS stddev,
       round(var_pop(b.v), 6)                           AS variance,
       round(CAST(median(b.v) AS DOUBLE), 6)            AS median,
       round(CAST(quantile_cont(b.v, 0.25) AS DOUBLE), 6) AS quart1,
       round(CAST(quantile_cont(b.v, 0.75) AS DOUBLE), 6) AS quart3,
       round(CAST(quantile_cont(b.v, 0.90) AS DOUBLE), 6) AS perc90,
       round((sum(pow(b.v - m.mu, 3)) / m.n)
             / pow(sqrt(sum(pow(b.v - m.mu, 2)) / m.n), 3), 6) AS skewness,
       round((sum(pow(b.v - m.mu, 4)) / m.n)
             / pow(sum(pow(b.v - m.mu, 2)) / m.n, 2) - 3, 6)   AS kurtosis
FROM base b JOIN m ON b.event_type = m.event_type AND b.bucket = m.bucket
GROUP BY b.event_type, b.bucket, m.n
"""


def q_agg_weekly_mode_div(spark, sf_dir):
    """mode (smallest-value tie-break) + diversity per event_type per week
    (week granule aligned to Monday like datetime_math.py:355-487)."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "iv", F.round("value", 0).cast("long")
    )
    out = aggregate(
        ev, "1 week", ["mode", "diversity"],
        keys=["event_type"], ts_col="ts", value_col="iv",
    )
    return out.select(
        "event_type",
        F.col("bucket_start").alias("bucket"),
        F.col("mode").cast("long").alias("mode"),
        F.col("diversity").cast("long").alias("diversity"),
    )


ORACLE_AGG_WEEKLY_MODE_DIV = """
WITH base AS (
  SELECT event_type, CAST(date_trunc('week', ts) AS TIMESTAMP) AS bucket,
         CAST(round(value, 0) AS BIGINT) AS iv
  FROM events
), freq AS (
  SELECT event_type, bucket, iv, count(*) AS c
  FROM base GROUP BY 1, 2, 3
)
SELECT event_type, bucket,
       (list(iv ORDER BY c DESC, iv ASC))[1]          AS mode,
       CAST(count(DISTINCT iv) AS BIGINT)             AS diversity
FROM freq
GROUP BY event_type, bucket
"""


def q_series_overall(spark, sf_dir):
    """t.rast.series over the whole series per user, with overall extent."""
    ev = _t(spark, sf_dir, "events")
    out = series(
        ev, ["average", "minimum", "maximum", "count"],
        keys=["user_id"], ts_col="ts", value_col="value",
    )
    return out.select(
        "user_id",
        *_r6("average", "minimum", "maximum"),
        F.col("count").alias("cnt"),
        "series_start", "series_end",
    )


ORACLE_SERIES_OVERALL = """
SELECT user_id,
       round(avg(value), 6)          AS average,
       round(min(value), 6)          AS minimum,
       round(max(value), 6)          AS maximum,
       CAST(count(value) AS BIGINT)  AS cnt,
       min(ts)                       AS series_start,
       max(ts)                       AS series_end
FROM events GROUP BY user_id
"""


def q_series_where(spark, sf_dir):
    """the reference's raw-SQL ``where=`` surface
    (abstract_space_time_dataset.py:1919-1932)."""
    ev = _t(spark, sf_dir, "events")
    out = series(
        ev, ["minimum", "count"], keys=["user_id"],
        ts_col="ts", value_col="value",
        where="value > 250 AND event_type <> 'view'",
    )
    return out.select(
        "user_id", *_r6("minimum"), F.col("count").alias("cnt"),
    )


ORACLE_SERIES_WHERE = """
SELECT user_id,
       round(min(value), 6)         AS minimum,
       CAST(count(value) AS BIGINT) AS cnt
FROM events
WHERE value > 250 AND event_type <> 'view'
GROUP BY user_id
"""


def _with_idx(ev: DataFrame) -> DataFrame:
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.withColumn("idx", F.row_number().over(w) - 1)


def q_argminmax(spark, sf_dir):
    """min_raster / max_raster: 0-based time index of the extreme value,
    ties -> earliest (lib/stats/c_minx.c / c_maxx.c)."""
    ev = _with_idx(_t(spark, sf_dir, "events"))
    out = series(
        ev, ["min_raster", "max_raster"], keys=["user_id"],
        ts_col="ts", value_col="value", idx_col="idx",
    )
    return out.select(
        "user_id",
        F.col("min_raster").cast("long").alias("min_raster"),
        F.col("max_raster").cast("long").alias("max_raster"),
    )


ORACLE_ARGMINMAX = """
WITH base AS (
  SELECT user_id, value AS v,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS idx
  FROM events
)
SELECT user_id,
       CAST((list(idx ORDER BY v ASC,  idx ASC))[1] AS BIGINT) AS min_raster,
       CAST((list(idx ORDER BY v DESC, idx ASC))[1] AS BIGINT) AS max_raster
FROM base GROUP BY user_id
"""


def q_regression(spark, sf_dir):
    """OLS kernels slope/offset/detcoeff of value against the time index
    (lib/stats/c_reg.c:16-104; x = original input position)."""
    ev = _with_idx(_t(spark, sf_dir, "events"))
    out = series(
        ev, ["slope", "offset", "detcoeff", "tvalue"], keys=["user_id"],
        ts_col="ts", value_col="value", idx_col="idx",
    )
    return out.select("user_id", *_r6("slope", "offset", "detcoeff", "tvalue"))


ORACLE_REGRESSION = """
WITH base AS (
  SELECT user_id, value AS v,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS idx
  FROM events
)
SELECT user_id,
       CASE WHEN count(v) < 2 THEN NULL
            ELSE round(regr_slope(v, idx), 6) END     AS slope,
       CASE WHEN count(v) < 2 THEN NULL
            ELSE round(regr_intercept(v, idx), 6) END AS offset,
       CASE WHEN count(v) < 2 THEN NULL
            WHEN var_pop(v) = 0 THEN NULL
            ELSE round(regr_r2(v, idx), 6) END        AS detcoeff,
       CASE WHEN count(v) < 2 THEN NULL
            WHEN var_pop(v) = 0 THEN NULL
            WHEN regr_r2(v, idx) >= 1.0 THEN NULL
            ELSE round(sqrt(regr_r2(v, idx) * (count(v) - 2)
                            / (1.0 - regr_r2(v, idx))), 6) END AS tvalue
FROM base GROUP BY user_id
"""


def q_univar_daily(spark, sf_dir):
    """t.rast.univar column set per day bucket
    (univar_statistics.py:38-124; golden columns
    t.rast.univar/testsuite/test_t_rast_univar.py:167)."""
    ev = _t(spark, sf_dir, "events")
    v = F.col("value")
    day = F.date_trunc("day", F.col("ts")).alias("bucket")
    out = ev.groupBy(day).agg(
        F.count(v).alias("non_null_cells"),
        (F.count(F.lit(1)) - F.count(v)).alias("null_cells"),
        F.round(F.min(v), 6).alias("min"),
        F.round(F.max(v), 6).alias("max"),
        F.round(F.max(v) - F.min(v), 6).alias("range"),
        F.round(F.avg(v), 6).alias("mean"),
        F.round(F.avg(F.abs(v)), 6).alias("mean_of_abs"),
        F.round(F.stddev_pop(v), 6).alias("stddev"),
        F.round(F.var_pop(v), 6).alias("variance"),
        F.round(F.stddev_pop(v) / F.avg(v) * 100, 6).alias("coeff_var"),
        F.round(F.sum(v), 6).alias("sum"),
        F.round(F.sum(F.abs(v)), 6).alias("sum_abs"),
        F.round(F.expr("percentile(value, 0.25D)"), 6).alias("first_quartile"),
        F.round(F.expr("median(value)"), 6).alias("median"),
        F.round(F.expr("percentile(value, 0.75D)"), 6).alias("third_quartile"),
        F.round(F.expr("percentile(value, 0.90D)"), 6).alias("percentile_90"),
    )
    return out


ORACLE_UNIVAR_DAILY = """
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP)    AS bucket,
       CAST(count(value) AS BIGINT)                AS non_null_cells,
       CAST(count(*) - count(value) AS BIGINT)     AS null_cells,
       round(min(value), 6)                        AS min,
       round(max(value), 6)                        AS max,
       round(max(value) - min(value), 6)           AS range,
       round(avg(value), 6)                        AS mean,
       round(avg(abs(value)), 6)                   AS mean_of_abs,
       round(stddev_pop(value), 6)                 AS stddev,
       round(var_pop(value), 6)                    AS variance,
       round(stddev_pop(value) / avg(value) * 100, 6) AS coeff_var,
       round(sum(value), 6)                        AS sum,
       round(sum(abs(value)), 6)                   AS sum_abs,
       round(CAST(quantile_cont(value, 0.25) AS DOUBLE), 6) AS first_quartile,
       round(CAST(median(value) AS DOUBLE), 6)     AS median,
       round(CAST(quantile_cont(value, 0.75) AS DOUBLE), 6) AS third_quartile,
       round(CAST(quantile_cont(value, 0.90) AS DOUBLE), 6) AS percentile_90
FROM events GROUP BY 1
"""


def q_accumulate(spark, sf_dir):
    """t.rast.accumulate: running accumulation along the series
    (raster/r.series.accumulate/main.c) = window cumulative sum."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "user_id", "event_id",
        F.round(F.sum("value").over(w), 6).alias("acc"),
    )


ORACLE_ACCUMULATE = """
SELECT user_id, event_id,
       round(sum(value) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS acc
FROM events
"""


def q_snap(spark, sf_dir):
    """t.snap: each extent's end becomes the next start
    (abstract_space_time_dataset.py:2099-2274; lead window)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id", "event_id",
        F.col("ts").alias("start_time"),
        F.lead("ts").over(w).alias("end_time"),
    )


ORACLE_SNAP = """
SELECT user_id, event_id,
       ts                                                        AS start_time,
       lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS end_time
FROM events
"""


def q_allen_relations(spark, sf_dir):
    """Temporal topology census (t.topology): classify each event's
    1-hour extent against its day granule with the 13 Allen relations in
    dispatcher priority order (temporal_extent.py:903-968)."""
    ev = _t(spark, sf_dir, "events").select(
        F.col("ts").alias("a_s"),
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("a_e"),
        F.date_trunc("day", F.col("ts")).alias("b_s"),
        (F.date_trunc("day", F.col("ts")) + F.expr("INTERVAL 1 DAY")).alias("b_e"),
    )
    out = ev.select(
        rel.relation_name("a_s", "a_e", "b_s", "b_e").alias("relation")
    )
    return out.groupBy("relation").agg(F.count(F.lit(1)).alias("cnt"))


ORACLE_ALLEN_RELATIONS = """
WITH iv AS (
  SELECT ts                                   AS a_s,
         ts + INTERVAL 1 HOUR                 AS a_e,
         date_trunc('day', ts)                AS b_s,
         date_trunc('day', ts) + INTERVAL 1 DAY AS b_e
  FROM events
)
SELECT CASE
    WHEN a_s = b_s AND a_e = b_e THEN 'equal'
    WHEN a_s > b_s AND a_e < b_e THEN 'during'
    WHEN a_s < b_s AND a_e > b_e THEN 'contains'
    WHEN a_s < b_s AND a_e < b_e AND a_e > b_s THEN 'overlaps'
    WHEN a_s > b_s AND a_e > b_e AND a_s < b_e THEN 'overlapped'
    WHEN a_s > b_e THEN 'after'
    WHEN a_e < b_s THEN 'before'
    WHEN a_s = b_s AND a_e < b_e THEN 'starts'
    WHEN a_e = b_e AND a_s > b_s THEN 'finishes'
    WHEN a_s = b_s AND a_e > b_e THEN 'started'
    WHEN a_e = b_e AND a_s < b_s THEN 'finished'
    WHEN a_s = b_e THEN 'follows'
    WHEN a_e = b_s THEN 'precedes'
    END AS relation,
    CAST(count(*) AS BIGINT) AS cnt
FROM iv GROUP BY 1
"""


def q_gapfill_daily(spark, sf_dir):
    """t.rast.gapfill: daily per-user averages, missing days filled by
    linear interpolation at positions i/(k+1)
    (r.series.interp/main.c:412-445)."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.date_trunc("day", F.col("ts")).alias("bucket_start")
    ).agg(F.avg("value").alias("v"))
    out = gapfill(daily, "1 day", keys=["user_id"], value_cols=["v"])
    return out.select(
        "user_id",
        F.col("bucket_start").alias("bucket"),
        F.round("v", 6).alias("v"),
        "filled",
    )


ORACLE_GAPFILL_DAILY = """
WITH daily AS (
  SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket, avg(value) AS v
  FROM events GROUP BY 1, 2
), org AS (SELECT min(bucket) AS o FROM daily),
idx AS (
  SELECT user_id, bucket, v,
         datediff('day', (SELECT o FROM org), bucket) AS gidx
  FROM daily
), nxt AS (
  SELECT *,
         lead(gidx) OVER (PARTITION BY user_id ORDER BY gidx) AS ngidx,
         lead(v)    OVER (PARTITION BY user_id ORDER BY gidx) AS nv
  FROM idx
), fills AS (
  SELECT user_id,
         gidx + unnest(generate_series(1, CAST(ngidx - gidx - 1 AS BIGINT))) AS fidx,
         gidx, ngidx, v, nv
  FROM nxt WHERE ngidx > gidx + 1
)
SELECT user_id, bucket, round(v, 6) AS v, false AS filled FROM daily
UNION ALL
SELECT user_id,
       (SELECT o FROM org) + INTERVAL (fidx) DAY AS bucket,
       round((1.0 - (fidx - gidx) / (ngidx - gidx)) * v
             + ((fidx - gidx) / (ngidx - gidx)) * nv, 6) AS v,
       true AS filled
FROM fills
"""


def q_tier_cascade_day(spark, sf_dir):
    """Continuous-aggregate cascade: hour tier -> day tier re-aggregated
    algebraically (count/sum/min/max); the oracle computes the day tier
    directly from raw — exactness of the cascade is the assertion."""
    ev = _t(spark, sf_dir, "events")
    hour = aggregate(
        ev, "1 hour", ["count", "sum", "minimum", "maximum"],
        keys=["user_id"], ts_col="ts", value_col="value",
    )
    day = hour.groupBy(
        "user_id", F.date_trunc("day", F.col("bucket_start")).alias("bucket")
    ).agg(
        F.sum("count").alias("cnt"),
        F.round(F.sum("sum"), 6).alias("sum"),
        F.round(F.min("minimum"), 6).alias("minimum"),
        F.round(F.max("maximum"), 6).alias("maximum"),
    )
    return day


ORACLE_TIER_CASCADE_DAY = """
SELECT user_id,
       CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket,
       CAST(count(value) AS BIGINT) AS cnt,
       round(sum(value), 6)         AS sum,
       round(min(value), 6)         AS minimum,
       round(max(value), 6)         AS maximum
FROM events GROUP BY 1, 2
"""


def q_extract_expr(spark, sf_dir):
    """t.rast.extract: where-subset + per-map r.mapcalc expression
    (python/grass/temporal/extract.py:115-416) — filter + computed column."""
    li = _t(spark, sf_dir, "lineitem")
    out = (
        li.filter(F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"),
            F.round(F.sum("l_quantity"), 6).alias("sum_qty"),
            F.count(F.lit(1)).alias("cnt"),
        )
    )
    return out


ORACLE_EXTRACT_EXPR = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
       round(sum(l_quantity), 6)                         AS sum_qty,
       CAST(count(*) AS BIGINT)                          AS cnt
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1995-01-01'
GROUP BY 1, 2
"""


# =====================================================================
# Weighted kernels (r.series input=...|weight), cyclic accumulation,
# resample priority, gap listing and pivots.
# =====================================================================


def _with_w(ev):
    """weight = the integer `k` field of the props JSON column."""
    return ev.withColumn(
        "w", F.get_json_object("props", "$.k").cast("double")
    )


# ---------------------------------------------------------------------
# weighted kernels (r.series input=...|weight — SURVEY §2.2)
# ---------------------------------------------------------------------


def q_weighted_avg_daily(spark, sf_dir):
    ev = _with_w(_t(spark, sf_dir, "events"))
    day = F.date_trunc("day", F.col("ts")).alias("bucket")
    return ev.groupBy(day).agg(
        F.round(weighted_kernel_expr("w_ave", "value", "w"), 6).alias("w_ave"),
        F.round(weighted_kernel_expr("w_var", "value", "w"), 6).alias("w_var"),
    )


ORACLE_WEIGHTED_AVG_DAILY = """
WITH e AS (
  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket, value AS v,
         CAST(json_extract_string(props, '$.k') AS DOUBLE) AS w
  FROM events
)
SELECT bucket,
       round(sum(v * w) / sum(w), 6) AS w_ave,
       round(sum(w * v * v) / sum(w) - pow(sum(w * v) / sum(w), 2), 6) AS w_var
FROM e GROUP BY bucket
"""


def q_weighted_median_mode(spark, sf_dir):
    """GRASS lower weighted median (c_median.c:16-41) + weighted mode
    per event_type; values discretized so mode is meaningful."""
    ev = _with_w(_t(spark, sf_dir, "events")).withColumn(
        "iv", F.round("value", 0).cast("long")
    )
    med = weighted_median(
        ev, keys=["event_type"], value_col="value", weight_col="w",
        tiebreak=["event_id"],
    )
    mode = weighted_mode(
        ev, keys=["event_type"], value_col="iv", weight_col="w",
    )
    return med.join(mode, "event_type").select(
        "event_type", F.round("w_median", 6).alias("w_median"),
        F.col("w_mode").cast("long").alias("w_mode"),
    )


ORACLE_WEIGHTED_MEDIAN_MODE = """
WITH e AS (
  SELECT event_type, event_id, value AS v,
         CAST(round(value, 0) AS BIGINT) AS iv,
         CAST(json_extract_string(props, '$.k') AS DOUBLE) AS w
  FROM events
), c AS (
  SELECT event_type, v, event_id,
         sum(w) OVER (PARTITION BY event_type ORDER BY v, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw,
         sum(w) OVER (PARTITION BY event_type) AS tot
  FROM e
), med AS (
  SELECT event_type, round(min(v), 6) AS w_median
  FROM c WHERE cumw >= tot * 0.5 GROUP BY event_type
), ws AS (
  SELECT event_type, iv, sum(w) AS wsum FROM e GROUP BY 1, 2
), mode AS (
  SELECT event_type, (list(iv ORDER BY wsum DESC, iv ASC))[1] AS w_mode
  FROM ws GROUP BY event_type
)
SELECT med.event_type, med.w_median, mode.w_mode
FROM med JOIN mode USING (event_type)
"""


# ---------------------------------------------------------------------
# cyclic accumulation (t.rast.accumulate — SURVEY §2.3)
# ---------------------------------------------------------------------

_ACC_ORIGIN = datetime(2024, 1, 1)


def q_accumulate_cycle(spark, sf_dir):
    """GDD accumulation (lower threshold 50) with weekly cycle reset."""
    ev = _t(spark, sf_dir, "events")
    out = accumulate(
        ev, keys=["user_id"], ts_col="ts", value_col="value",
        order_cols=["event_id"], lower=50.0, method="gdd",
        cycle="1 week", origin=_ACC_ORIGIN,
    )
    return out.select(
        "user_id", "event_id", "cycle_idx", F.round("acc", 6).alias("acc")
    )


ORACLE_ACCUMULATE_CYCLE = """
WITH e AS (
  SELECT user_id, event_id, ts,
         CAST(floor(datediff('day', TIMESTAMP '2024-01-01', CAST(ts AS DATE)) / 7)
              AS BIGINT) AS cycle_idx,
         greatest(value - 50.0, 0.0) AS contrib
  FROM events
)
SELECT user_id, event_id, cycle_idx,
       round(sum(contrib) OVER (
         PARTITION BY user_id, cycle_idx ORDER BY ts, event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS acc
FROM e
"""


# ---------------------------------------------------------------------
# resample by granularity with relation priority (SURVEY §2.5)
# ---------------------------------------------------------------------


def q_resample_priority(spark, sf_dir):
    """Per day granule, EVERY map of the first non-empty relation class
    in priority EQUAL>DURING>OVERLAPS>OVERLAPPED>CONTAINS — classes are
    the granule's topology-builder lists (granule-relative, widened:
    starts/finishes fold into during, started/finished into contains);
    gap granules keep a NULL map (resample_maplist_by_granularity,
    abstract_space_time_dataset.py:1195-1420)."""
    ev = _t(spark, sf_dir, "events").filter("user_id = 3").select(
        F.col("event_id").alias("map_id"),
        F.col("ts"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("te"),
    )
    rows = granule_series(datetime(2024, 1, 1), datetime(2024, 2, 1), "1 day")
    granules = spark.createDataFrame(rows, ["bucket_start", "bucket_end"])
    out = resample_by_granularity(ev, granules, map_start="ts", map_end="te")
    return out.withColumn("rank", F.col("rank").cast("bigint"))


# priority CASE: the granule's widened builder-list classes —
# g equal m; g during m (incl. g starts/finishes m); g overlaps m;
# g overlapped m; g contains m (incl. g started/finished m)
_RESAMPLE_PRIO_SQL = """
         CASE WHEN granule_start = ms AND granule_end = me THEN 0
              WHEN (granule_start > ms AND granule_end < me)
                OR (granule_start = ms AND granule_end < me)
                OR (granule_start > ms AND granule_end = me) THEN 1
              WHEN granule_start < ms AND granule_end < me
               AND granule_end > ms THEN 2
              WHEN granule_start > ms AND granule_start < me
               AND granule_end > me THEN 3
              WHEN (granule_start < ms AND granule_end > me)
                OR (granule_start = ms AND me < granule_end)
                OR (granule_end = me AND ms > granule_start) THEN 4
         END
"""

ORACLE_RESAMPLE_PRIORITY = f"""
WITH g AS (
  SELECT CAST(d AS TIMESTAMP) AS granule_start,
         CAST(d AS TIMESTAMP) + INTERVAL 1 DAY AS granule_end
  FROM (SELECT unnest(generate_series(TIMESTAMP '2024-01-01',
                                      TIMESTAMP '2024-01-31',
                                      INTERVAL 1 DAY)) AS d)
), m AS (
  SELECT event_id AS map_id, ts AS ms, ts + INTERVAL 30 MINUTE AS me
  FROM events WHERE user_id = 3
), j AS (
  SELECT granule_start, granule_end, map_id, ms,
         {_RESAMPLE_PRIO_SQL} AS prio
  FROM g LEFT JOIN m ON ({_RESAMPLE_PRIO_SQL}) IS NOT NULL
), w AS (
  SELECT *, min(prio) OVER (PARTITION BY granule_start) AS best FROM j
)
SELECT granule_start, granule_end, map_id, ms AS map_start,
       CAST(row_number() OVER (
              PARTITION BY granule_start
              ORDER BY ms NULLS LAST, map_id NULLS LAST) - 1
            AS BIGINT) AS rank
FROM w WHERE prio IS NOT DISTINCT FROM best
"""


# ---------------------------------------------------------------------
# gap listing (t.rast.list method=deltagaps — SURVEY §2.1)
# ---------------------------------------------------------------------


def q_gaps_daily(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    daily = ev.select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("bucket_start")
    ).distinct()
    return gaps_report(daily, "1 day", keys=["user_id"])


ORACLE_GAPS_DAILY = """
WITH daily AS (
  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS d
  FROM events
), x AS (
  SELECT user_id, d,
         lead(d) OVER (PARTITION BY user_id ORDER BY d) AS nd
  FROM daily
)
SELECT user_id,
       d + INTERVAL 1 DAY AS gap_start,
       nd                 AS gap_end,
       CAST(datediff('day', d, nd) - 1 AS BIGINT) AS gap_len
FROM x WHERE datediff('day', d, nd) > 1
"""


# ---------------------------------------------------------------------
# per-type activity pivot (per-role/per-tool activity analog)
# ---------------------------------------------------------------------

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def q_pivot_daily(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts")).alias("bucket")
    aggs = [
        F.sum(F.when(F.col("event_type") == t, 1).otherwise(0)).alias(f"n_{t}")
        for t in EVENT_TYPES
    ]
    return ev.groupBy("user_id", day).agg(
        F.count(F.lit(1)).alias("cnt"), *aggs
    )


ORACLE_PIVOT_DAILY = f"""
SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket,
       CAST(count(*) AS BIGINT) AS cnt,
       {', '.join(
           f"CAST(sum(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS BIGINT) AS n_{t}"
           for t in EVENT_TYPES
       )}
FROM events GROUP BY 1, 2
"""


# ---------------------------------------------------------------------
# t.rast.what — point sampling across time, wide format (SURVEY §2.1)
# ---------------------------------------------------------------------

WHAT_USERS = (1, 5, 9)


def q_what_wide(spark, sf_dir):
    """Sample 3 users' hourly averages as wide columns across time
    (t.rast.what wide output, temporal/t.rast.what/t.rast.what.py)."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id").isin(*WHAT_USERS))
    hour = F.date_trunc("hour", F.col("ts")).alias("bucket")
    aggs = [
        F.round(
            F.avg(F.when(F.col("user_id") == u, F.col("value"))), 6
        ).alias(f"u{u}")
        for u in WHAT_USERS
    ]
    return ev.groupBy(hour).agg(*aggs)


ORACLE_WHAT_WIDE = f"""
SELECT date_trunc('hour', ts) AS bucket,
       {', '.join(
           f"round(avg(CASE WHEN user_id = {u} THEN value END), 6) AS u{u}"
           for u in WHAT_USERS
       )}
FROM events WHERE user_id IN {WHAT_USERS}
GROUP BY 1
"""


def q_infer_granularity(spark, sf_dir):
    """Granularity inference (GCD of deltas/gaps) over each user's daily
    buckets — returns the inferred granularity string per user.  The
    consecutive-delta decomposition runs JVM-side (one lag window
    partitioned by user); only (user, distinct delta struct) rows reach
    the driver — O(users × distinct deltas), not O(distinct ts).  No SQL
    oracle (GCD aggregation is not portably expressible): rows-only check."""
    from grass_spark.functions.granularity import infer_granularity_grouped

    ev = _t(spark, sf_dir, "events")
    daily = ev.select("user_id", F.date_trunc("day", F.col("ts")).alias("d"))
    rows = infer_granularity_grouped(daily, keys=["user_id"], ts_col="d")
    return spark.createDataFrame(rows, "user_id bigint, granularity string")


def q_accdetect(spark, sf_dir):
    """t.rast.accdetect: in-band indicator (1 first, 2 middle, 3 last)
    + first-occurrence timestamp over the weekly GDD accumulation."""
    from grass_spark.operators.accumulate import accdetect

    ev = _t(spark, sf_dir, "events")
    acc = accumulate(
        ev, keys=["user_id"], ts_col="ts", value_col="value",
        order_cols=["event_id"], lower=50.0, method="gdd",
        cycle="1 week", origin=_ACC_ORIGIN,
    )
    out = accdetect(acc, 500.0, 2000.0, keys=["user_id"],
                    order_cols=["event_id"])
    return out.select(
        "user_id", "event_id", "cycle_idx", "in_range",
        "indicator", "occurrence",
    )


ORACLE_ACCDETECT = """
WITH e AS (
  SELECT user_id, event_id, ts,
         CAST(floor(datediff('day', TIMESTAMP '2024-01-01', CAST(ts AS DATE)) / 7)
              AS BIGINT) AS cycle_idx,
         greatest(value - 50.0, 0.0) AS contrib
  FROM events
), a AS (
  SELECT user_id, event_id, ts, cycle_idx,
         sum(contrib) OVER (
           PARTITION BY user_id, cycle_idx ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS acc
  FROM e
), f AS (
  SELECT *, acc BETWEEN 500.0 AND 2000.0 AS in_range FROM a
), m AS (
  SELECT *,
         min(CASE WHEN in_range THEN ts END)
           OVER (PARTITION BY user_id, cycle_idx) AS occurrence,
         max(CASE WHEN in_range THEN ts END)
           OVER (PARTITION BY user_id, cycle_idx) AS last_ts
  FROM f
)
SELECT user_id, event_id, cycle_idx, in_range,
       CASE WHEN NOT in_range THEN NULL
            WHEN ts = occurrence THEN 1
            WHEN ts = last_ts THEN 3
            ELSE 2 END AS indicator,
       occurrence
FROM m
"""


def q_masked_agg(spark, sf_dir):
    """r.series range=lo,hi masking (values outside [50,300] -> NULL,
    main.c:199-203) + the -n propagate-null flag variant: cnt_masked
    skips NULLs, sum_propagate is NULL when any input in the bucket was
    masked (main.c:208-210)."""
    from grass_spark.functions.kernels import masked

    ev = _t(spark, sf_dir, "events").withColumn("mv", masked("value", 50.0, 300.0))
    day = F.date_trunc("day", F.col("ts")).alias("bucket")
    return ev.groupBy("user_id", day).agg(
        F.count("mv").alias("cnt_masked"),
        F.round(F.sum("mv"), 6).alias("sum_masked"),
        F.round(
            F.when(F.count(F.lit(1)) == F.count("mv"), F.sum("mv")), 6
        ).alias("sum_propagate"),
    )


ORACLE_MASKED_AGG = """
WITH e AS (
  SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket,
         CASE WHEN value BETWEEN 50.0 AND 300.0 THEN value END AS mv
  FROM events
)
SELECT user_id, bucket,
       CAST(count(mv) AS BIGINT) AS cnt_masked,
       round(sum(mv), 6)         AS sum_masked,
       round(CASE WHEN count(*) = count(mv) THEN sum(mv) END, 6)
         AS sum_propagate
FROM e GROUP BY 1, 2
"""


def q_weighted_quantile(spark, sf_dir):
    """GRASS w_quant (c_percentile.c:49-75): lower weighted quantile at
    q=0.75 per event_type (cumulative weight >= total * q)."""
    from grass_spark.functions.weighted import weighted_quantile

    ev = _with_w(_t(spark, sf_dir, "events"))
    out = weighted_quantile(
        ev, 0.75, keys=["event_type"], value_col="value", weight_col="w",
        tiebreak=["event_id"], alias="w_q75",
    )
    return out.select("event_type", F.round("w_q75", 6).alias("w_q75"))


ORACLE_WEIGHTED_QUANTILE = """
WITH e AS (
  SELECT event_type, event_id, value AS v,
         CAST(json_extract_string(props, '$.k') AS DOUBLE) AS w
  FROM events
), c AS (
  SELECT event_type, v,
         sum(w) OVER (PARTITION BY event_type ORDER BY v, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw,
         sum(w) OVER (PARTITION BY event_type) AS tot
  FROM e
)
SELECT event_type, round(min(v), 6) AS w_q75
FROM c WHERE cumw >= tot * 0.75 GROUP BY event_type
"""


def q_sessionize(spark, sf_dir):
    """Sessionization: split each user's event stream at >30-minute
    inactivity gaps; per-session bounds + counts."""
    from grass_spark.operators.sessionize import session_stats, sessionize

    ev = _t(spark, sf_dir, "events")
    sess = sessionize(
        ev, 30 * 60, keys=["user_id"], ts_col="ts", order_cols=["event_id"]
    )
    return session_stats(sess, keys=["user_id"], ts_col="ts").select(
        "user_id", "session_idx", "session_start", "session_end",
        F.round("duration_s", 6).alias("duration_s"),
        F.col("n_events"),
    )


ORACLE_SESSIONIZE = """
WITH l AS (
  SELECT user_id, event_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events
), b AS (
  SELECT user_id, event_id, ts,
         CASE WHEN prev IS NULL
                OR date_diff('microsecond', prev, ts) > 30*60*1000000
              THEN 1 ELSE 0 END AS boundary
  FROM l
), s AS (
  SELECT user_id, ts,
         sum(boundary) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - 1 AS session_idx
  FROM b
)
SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
       min(ts) AS session_start, max(ts) AS session_end,
       round(date_diff('microsecond', min(ts), max(ts)) / 1e6, 6) AS duration_s,
       CAST(count(*) AS BIGINT) AS n_events
FROM s GROUP BY 1, 2
"""


def q_weighted_regression(spark, sf_dir):
    """w_reg_* kernels (c_reg.c regression_w): weighted OLS of value
    against the time index per event_type, weights from props.k."""
    from pyspark.sql import Window as W

    from grass_spark.functions.kernels import weighted_regression_expr

    ev = _with_w(_t(spark, sf_dir, "events"))
    idx = F.row_number().over(
        W.partitionBy("event_type").orderBy("ts", "event_id")
    ) - 1
    base = ev.withColumn("idx", idx)
    return base.groupBy("event_type").agg(
        F.round(weighted_regression_expr("w_slope", "value", "idx", "w"), 6).alias("w_slope"),
        F.round(weighted_regression_expr("w_offset", "value", "idx", "w"), 6).alias("w_offset"),
        F.round(weighted_regression_expr("w_detcoeff", "value", "idx", "w"), 6).alias("w_detcoeff"),
    )


ORACLE_WEIGHTED_REGRESSION = """
WITH e AS (
  SELECT event_type, value AS v,
         CAST(json_extract_string(props, '$.k') AS DOUBLE) AS w,
         row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) - 1 AS i
  FROM events
), a AS (
  SELECT event_type,
         sum(w) AS cnt,
         sum(i * w) / sum(w) AS xbar,
         sum(v * w) / sum(w) AS ybar,
         sum(i * v * w) AS sxy,
         sum(i * i * w) AS sxx,
         sum(v * v * w) AS syy
  FROM e GROUP BY event_type
), b AS (
  SELECT event_type, cnt, xbar, ybar,
         sxy - cnt * xbar * ybar AS numer,
         sxx - cnt * xbar * xbar AS denom,
         syy - cnt * ybar * ybar AS denom2
  FROM a
)
SELECT event_type,
       CASE WHEN cnt < 2 THEN NULL ELSE round(numer / denom, 6) END AS w_slope,
       CASE WHEN cnt < 2 THEN NULL
            ELSE round(ybar - xbar * numer / denom, 6) END AS w_offset,
       CASE WHEN cnt < 2 THEN NULL
            ELSE round(numer * numer / (denom * denom2), 6) END AS w_detcoeff
FROM b
"""


def q_what_long(spark, sf_dir):
    """t.rast.what long/text output: sampled users' raw values across
    time in long format (t.rast.what.py layout=row)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.filter(F.col("user_id").isin(*WHAT_USERS))
        .select(
            "user_id",
            F.col("ts").alias("sample_time"),
            F.round("value", 6).alias("value"),
            "event_type",
        )
    )


ORACLE_WHAT_LONG = f"""
SELECT user_id, ts AS sample_time, round(value, 6) AS value, event_type
FROM events WHERE user_id IN {WHAT_USERS}
"""


def q_weighted_skew_kurt(spark, sf_dir):
    """r.series w_skew / w_kurt weighted kernels (lib/stats/c_skew.c:
    49-105, c_kurt.c:47-101 — incl. the reference's d³ accumulation in
    w_kurt) per day."""
    ev = _with_w(_t(spark, sf_dir, "events"))
    day = F.date_trunc("day", F.col("ts")).alias("bucket")
    return ev.groupBy(day).agg(
        F.round(weighted_kernel_expr("w_skew", "value", "w"), 6).alias("w_skew"),
        F.round(weighted_kernel_expr("w_kurt", "value", "w"), 6).alias("w_kurt"),
    )


ORACLE_WEIGHTED_SKEW_KURT = """
WITH e AS (
  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket, value AS v,
         CAST(json_extract_string(props, '$.k') AS DOUBLE) AS w
  FROM events
), s AS (
  SELECT bucket, sum(w) AS W, sum(w * v) AS s1,
         sum(w * v * v) AS s2, sum(w * v * v * v) AS s3
  FROM e GROUP BY bucket
), c AS (
  SELECT bucket, W,
         s2 - W * pow(s1 / W, 2) AS cs2,
         s3 - 3 * (s1 / W) * s2 + 2 * W * pow(s1 / W, 3) AS cs3
  FROM s
)
SELECT bucket,
       round(cs3 / (W * pow(sqrt(cs2 / W), 3)), 6) AS w_skew,
       round(cs3 / (W * pow(cs2 / W, 2)) - 3, 6) AS w_kurt
FROM c
"""


def q_neighbors_rolling(spark, sf_dir):
    """t.rast.neighbors temporal analog: rolling ±1-granule kernels
    (average/median/sum/minimum/count) over each user's daily series
    (temporal/t.rast.neighbors/t.rast.neighbors.py:57-71, size=3)."""
    from grass_spark.operators.neighbors import neighbors

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.date_trunc("day", "ts").alias("bucket")
    ).agg(F.avg("value").alias("value"))
    out = neighbors(
        daily, keys=["user_id"], time_col="bucket", value_col="value",
        size=3, methods=("average", "median", "sum", "minimum", "count"),
    )
    return out.select(
        "user_id", "bucket",
        F.round("average", 6).alias("n_avg"),
        F.round("median", 6).alias("n_med"),
        F.round("sum", 6).alias("n_sum"),
        F.round("minimum", 6).alias("n_min"),
        F.col("count").alias("n_cnt"),
    )


ORACLE_NEIGHBORS_ROLLING = """
WITH d AS (
  SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket,
         avg(value) AS v
  FROM events GROUP BY 1, 2
)
SELECT user_id, bucket,
       round(avg(v) OVER w, 6)    AS n_avg,
       round(median(v) OVER w, 6) AS n_med,
       round(sum(v) OVER w, 6)    AS n_sum,
       round(min(v) OVER w, 6)    AS n_min,
       count(v) OVER w            AS n_cnt
FROM d
WINDOW w AS (PARTITION BY user_id ORDER BY bucket
             ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING)
"""


def _usec(c, s):
    """c + s seconds, microsecond-exact (no calendar arithmetic).
    Casts TIMESTAMP_NTZ parquet columns to session-UTC TIMESTAMP first
    (unix_micros rejects NTZ; session tz is pinned to UTC)."""
    return F.timestamp_micros(F.unix_micros(c.cast("timestamp")) + int(s) * 1_000_000)


# ---------------------------------------------------------------------
# t.shift (SURVEY §2.5 — abstract_space_time_dataset.py:1953-2097)
# ---------------------------------------------------------------------


def q_shift_extents(spark, sf_dir):
    """t.shift by a fixed granularity: every extent's start AND end move
    by 26 hours; NULL ends stay NULL (instant maps stay instants)."""
    from grass_spark.operators.timeshift import shift

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        F.col("ts").alias("start_time"),
        # interval maps for even ids, instants (NULL end) for odd ids
        F.when(F.col("event_id") % 2 == 0, _usec(F.col("ts"), 1800))
        .alias("end_time"),
    )
    return shift(ev, "26 hours")


ORACLE_SHIFT_EXTENTS = """
SELECT event_id,
       ts + INTERVAL 26 HOUR AS start_time,
       CASE WHEN event_id % 2 = 0
            THEN ts + INTERVAL '1800 seconds' + INTERVAL 26 HOUR
       END AS end_time
FROM events
"""


# ---------------------------------------------------------------------
# relative-time aggregation (SURVEY §1.4 — integer time + unit;
# map_tables_template.sql:28-34)
# ---------------------------------------------------------------------


def q_agg_relative(spark, sf_dir):
    """Relative-time aggregation: time is a plain integer (seconds id),
    granularity 604800 relative units, origin 0 — bucketing is integer
    floor division, no calendar arithmetic."""
    from grass_spark.operators.aggregate import aggregate_relative

    ev = _t(spark, sf_dir, "events").withColumn(
        "rel_t", F.floor(F.unix_micros(F.col("ts").cast("timestamp")) / 1_000_000).cast("long")
    )
    out = aggregate_relative(
        ev, 604800, ["average", "count", "sum"],
        keys=["user_id"], ts_col="rel_t", origin=0,
    )
    return out.select(
        "user_id", "bucket_start", "bucket_end",
        F.round("average", 6).alias("avg_v"),
        F.col("count").alias("cnt_v"),
        F.round("sum", 6).alias("sum_v"),
    )


ORACLE_AGG_RELATIVE = """
WITH e AS (
  SELECT user_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS rel_t,
         value AS v
  FROM events
)
SELECT user_id,
       CAST(floor(rel_t / 604800) * 604800 AS BIGINT) AS bucket_start,
       CAST(floor(rel_t / 604800) * 604800 + 604800 AS BIGINT) AS bucket_end,
       round(avg(v), 6) AS avg_v,
       CAST(count(v) AS BIGINT) AS cnt_v,
       round(sum(v), 6) AS sum_v
FROM e GROUP BY 1, 2, 3
"""


# ---------------------------------------------------------------------
# t.sample — tag maps with the granules they fall in (SURVEY §2.5)
# ---------------------------------------------------------------------


def q_sample_granules(spark, sf_dir):
    """t.sample: every event (point-type map) tagged with the 6-hour
    granule of a sampler dataset (granules derived from purchase
    activity) via the ``start`` method — the reference uses start-time
    sampling for point maps (abstract_space_time_dataset.py:673-675)."""
    from grass_spark.operators.sample import sample_by_dataset

    ev = _t(spark, sf_dir, "events")
    g6 = F.timestamp_micros(
        F.floor(F.unix_micros(F.col("ts").cast("timestamp")) / (21600 * 1_000_000)).cast("long")
        * (21600 * 1_000_000)
    )
    granules = (
        ev.filter(F.col("event_type") == "purchase")
        .select(g6.alias("bucket_start"))
        .distinct()
        .withColumn("bucket_end", _usec(F.col("bucket_start"), 21600))
    )
    out = sample_by_dataset(ev, granules, ["start"], map_start="ts")
    return out.select("event_id", "granule_start", "granule_end")


ORACLE_SAMPLE_GRANULES = """
WITH g AS (
  SELECT DISTINCT
         make_timestamp(CAST(floor(epoch(ts) / 21600) * 21600 * 1000000
                             AS BIGINT)) AS gs
  FROM events WHERE event_type = 'purchase'
)
SELECT e.event_id,
       g.gs AS granule_start,
       g.gs + to_seconds(CAST(21600 AS BIGINT)) AS granule_end
FROM events e
JOIN g ON e.ts >= g.gs AND e.ts < g.gs + to_seconds(CAST(21600 AS BIGINT))
"""


# ---------------------------------------------------------------------
# t.topology census (SURVEY §2.5) — banded equi-join, R*-tree-faithful
# ---------------------------------------------------------------------


def q_topology_census(spark, sf_dir):
    """t.topology counts over ordered pairs of extents that intersect
    or touch (the R*-tree candidate bound) — users <= 15, extent length
    = max(1, round(value)) seconds.  Counts are the builder's per-map
    list sums: a starts/finishes pair also increments during, a
    started/finished pair also increments contains
    (set_temporal_relationship, spatio_temporal_relationships.py:
    608-672; summed by count_temporal_topology_relationships)."""
    from grass_spark.operators.sample import topology_census

    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("user_id") <= 15)
        .select(
            "event_id",
            F.col("ts"),
            F.timestamp_micros(
                F.unix_micros(F.col("ts").cast("timestamp"))
                + F.greatest(F.lit(1.0), F.round("value", 0)).cast("long")
                * 1_000_000
            ).alias("end_t"),
        )
    )
    return topology_census(
        ev, start_col="ts", end_col="end_t", id_col="event_id",
        band_seconds=3600,
    )


# Interval-only CASE chain in the reference dispatcher's priority order
# (temporal_extent.py:903-968; instant branches vanish — every extent
# here has a non-NULL end).  before/after can't occur: the join bound
# (a_e >= b_s AND b_e >= a_s) IS the census's "intersect or touch" rule.
ORACLE_TOPOLOGY_CENSUS = """
WITH e AS (
  SELECT event_id AS id, ts AS s,
         ts + to_seconds(CAST(greatest(1.0, round(value, 0)) AS BIGINT)) AS en
  FROM events WHERE user_id <= 15
), p AS (
  SELECT a.s AS a_s, a.en AS a_e, b.s AS b_s, b.en AS b_e
  FROM e a JOIN e b
    ON a.id <> b.id AND a.en >= b.s AND b.en >= a.s
), r AS (
  SELECT CASE
    WHEN a_s = b_s AND a_e = b_e THEN 'equal'
    WHEN a_s > b_s AND a_e < b_e THEN 'during'
    WHEN b_s > a_s AND b_e < a_e THEN 'contains'
    WHEN a_s < b_s AND a_e < b_e AND a_e > b_s THEN 'overlaps'
    WHEN b_s < a_s AND b_e < a_e AND b_e > a_s THEN 'overlapped'
    WHEN a_s > b_e THEN 'after'
    WHEN a_e < b_s THEN 'before'
    WHEN a_s = b_s AND a_e < b_e THEN 'starts'
    WHEN a_e = b_e AND a_s > b_s THEN 'finishes'
    WHEN a_s = b_s AND b_e < a_e THEN 'started'
    WHEN a_e = b_e AND b_s > a_s THEN 'finished'
    WHEN a_s = b_e THEN 'follows'
    WHEN a_e = b_s THEN 'precedes'
  END AS relation
  FROM p
)
SELECT relation, CAST(count(*) AS BIGINT) AS cnt
FROM (
  SELECT relation FROM r
  UNION ALL
  SELECT 'during' FROM r WHERE relation IN ('starts', 'finishes')
  UNION ALL
  SELECT 'contains' FROM r WHERE relation IN ('started', 'finished')
)
WHERE relation NOT IN ('before', 'after')
GROUP BY relation
"""


# ---------------------------------------------------------------------
# group= granule grouping (SURVEY §2.6 —
# abstract_space_time_dataset.py:1889-1904 group_concat branch)
# ---------------------------------------------------------------------


def q_group_granules(spark, sf_dir):
    """t.rast.list group=day: one row per day with the comma-joined
    purchase event ids, ordered by (start time, id-string)."""
    from grass_spark.catalog import group_maps

    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .withColumn("day", F.date_trunc("day", F.col("ts")))
    )
    out = group_maps(ev, "day", columns=["event_id"], order_col="ts")
    return out.select(F.col("day").alias("bucket"), F.col("event_id").alias("ids"))


ORACLE_GROUP_GRANULES = """
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket,
       string_agg(CAST(event_id AS VARCHAR), ','
                  ORDER BY ts, CAST(event_id AS VARCHAR)) AS ids
FROM events WHERE event_type = 'purchase'
GROUP BY 1
"""


# ---------------------------------------------------------------------
# Mergeable-sketch tier cascade (opt-in approx holistic path —
# operators/sketches.py; round-3 VERDICT item #7)
# ---------------------------------------------------------------------


def q_sketch_cascade_day(spark, sf_dir):
    """Approximate day-level holistic stats from MERGED minute-tier
    sketches (KLL quantiles + HLL distinct) — never re-scanning raw for
    the estimates.  KLL compaction is randomized, so raw estimates are
    not bit-stable; what IS deterministic is the CONTRACT: the sketch
    stream length ``n`` is exact, and the estimates respect their rank
    and relative-error bounds.  The query therefore emits ``n`` plus
    per-group bound booleans (rank of the median/p90 estimate within
    0.03 + 1/n of its target; HLL within 5 %) — the DuckDB twin emits
    the exact counts with TRUE constants, so any bound violation
    hash-fails the gate.  tests/test_sketches.py pins tighter bounds.
    """
    from datetime import datetime

    from grass_spark.operators.sketches import (
        sketch_from_raw, sketch_from_tier, sketch_stats,
    )

    epoch = datetime(1970, 1, 1)
    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "value")
    mins = sketch_from_raw(ev, "1 minute", epoch, ["user_id"])
    days = sketch_from_tier(mins, "1 day", epoch, ["user_id"])
    st = sketch_stats(days, {"median": 0.5, "perc90": 0.9})

    raw = ev.select(
        "user_id",
        F.date_trunc("day", F.col("ts").cast("timestamp")).alias("bucket_start"),
        "value",
    )
    j = raw.join(st, ["user_id", "bucket_start"])

    def _rk(est, cmp):
        return (F.sum(cmp(F.col("value"), F.col(est)).cast("long"))
                / F.count("value"))

    g = j.groupBy("user_id", "bucket_start").agg(
        F.count("value").alias("cnt"),
        _rk("approx_median", lambda v, e: v < e).alias("med_lt"),
        _rk("approx_median", lambda v, e: v <= e).alias("med_le"),
        _rk("approx_perc90", lambda v, e: v < e).alias("p90_lt"),
        _rk("approx_perc90", lambda v, e: v <= e).alias("p90_le"),
        F.count_distinct("value").alias("nd"),
        F.first("approx_diversity").alias("adiv"),
        F.first("n").alias("sk_n"),
    )
    # tie-robust rank error: distance from q to the estimate's rank
    # interval [count_lt, count_le]/n (an element whose duplicate mass
    # spans q is exactly right; point ranks jump by the tie mass)
    eps = F.lit(0.03) + F.lit(1.0) / F.col("cnt")

    def _ok(lt, le, q):
        err = F.greatest(F.lit(0.0), F.col(lt) - F.lit(q),
                         F.lit(q) - F.col(le))
        return err <= eps

    return g.select(
        "user_id",
        F.col("bucket_start").alias("bucket"),
        F.col("sk_n").cast("long").alias("n"),
        _ok("med_lt", "med_le", 0.5).alias("median_rank_ok"),
        _ok("p90_lt", "p90_le", 0.9).alias("p90_rank_ok"),
        (F.abs(F.col("adiv") / F.col("nd") - 1.0) <= 0.05).alias("diversity_ok"),
    )


ORACLE_SKETCH_CASCADE_DAY = """
SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket,
       CAST(count(value) AS BIGINT) AS n,
       TRUE AS median_rank_ok, TRUE AS p90_rank_ok, TRUE AS diversity_ok
FROM events
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------
# M4 downsampling — 100 pixel-buckets per series (Jugel et al. 2014)
# ---------------------------------------------------------------------

_M4_BUCKETS = 100


def q_m4_downsample(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return m4_downsample(ev, _M4_BUCKETS).orderBy("series", "bucket")


# Elections mirror the struct orderings via deterministic row_number
# windows; bucket ids use exact integer floor division (// == div).
ORACLE_M4 = f"""
WITH b AS (
  SELECT min(epoch_us(ts)) AS lo, max(epoch_us(ts)) AS hi FROM events
),
e AS (
  SELECT event_type AS series,
         CAST(((epoch_us(ts) - b.lo) * {_M4_BUCKETS})
              // (b.hi - b.lo + 1) AS INT) AS bucket,
         ts, value, event_id, epoch_us(ts) AS t
  FROM events, b
),
fi AS (
  SELECT series, bucket, ts, value FROM (
    SELECT *, row_number() OVER (
      PARTITION BY series, bucket ORDER BY t, event_id, value) AS rn
    FROM e) WHERE rn = 1
),
la AS (
  SELECT series, bucket, ts, value FROM (
    SELECT *, row_number() OVER (
      PARTITION BY series, bucket
      ORDER BY t DESC, event_id DESC, value DESC) AS rn
    FROM e) WHERE rn = 1
),
mn AS (
  SELECT series, bucket, ts, value FROM (
    SELECT *, row_number() OVER (
      PARTITION BY series, bucket ORDER BY value, t, event_id) AS rn
    FROM e) WHERE rn = 1
),
mx AS (
  SELECT series, bucket, ts, value FROM (
    SELECT *, row_number() OVER (
      PARTITION BY series, bucket
      ORDER BY value DESC, t DESC, event_id DESC) AS rn
    FROM e) WHERE rn = 1
),
cn AS (
  SELECT series, bucket, count(*) AS n FROM e GROUP BY 1, 2
)
SELECT cn.series, cn.bucket,
       fi.ts AS t_first, round(fi.value, 6) AS v_first,
       la.ts AS t_last,  round(la.value, 6) AS v_last,
       mn.ts AS t_min,   round(mn.value, 6) AS v_min,
       mx.ts AS t_max,   round(mx.value, 6) AS v_max,
       cn.n
FROM cn
JOIN fi USING (series, bucket)
JOIN la USING (series, bucket)
JOIN mn USING (series, bucket)
JOIN mx USING (series, bucket)
ORDER BY 1, 2
"""


# ---------------------------------------------------------------------
# LOCF grid resample — 6-hour grid, 12-hour staleness bound
# ---------------------------------------------------------------------

_RS_STEP = 6 * 3600
_RS_STALE = 12 * 3600
_RS_STEP_US = _RS_STEP * 1_000_000


def q_resample_locf(spark, sf_dir):
    from grass_spark.operators.asof import resample_locf

    ev = _t(spark, sf_dir, "events")
    out = resample_locf(
        ev, step_seconds=_RS_STEP, on="user_id", ts_col="ts",
        value_col="value", tie_col="event_id",
        max_staleness_seconds=_RS_STALE,
    )
    return out.select(
        "user_id", "gts",
        F.col("ts_r").alias("obs_ts"),
        F.round("value_r", 6).alias("value_locf"),
    ).orderBy("user_id", "gts")


ORACLE_RESAMPLE_LOCF = f"""
WITH obs AS (
  SELECT user_id, ts, arg_max(value, event_id) AS value
  FROM events GROUP BY user_id, ts
),
span AS (
  SELECT user_id,
         (epoch_us(min(ts)) + {_RS_STEP_US - 1}) // {_RS_STEP_US} AS klo,
         epoch_us(max(ts)) // {_RS_STEP_US} AS khi
  FROM events GROUP BY user_id
),
grid AS (
  SELECT user_id, make_timestamp(k * {_RS_STEP_US}) AS gts
  FROM (
    SELECT user_id, unnest(generate_series(klo, khi)) AS k
    FROM span WHERE klo <= khi
  )
)
SELECT g.user_id, g.gts,
       CASE WHEN o.ts >= g.gts - INTERVAL {_RS_STALE} SECOND
            THEN o.ts END AS obs_ts,
       CASE WHEN o.ts >= g.gts - INTERVAL {_RS_STALE} SECOND
            THEN round(o.value, 6) END AS value_locf
FROM grid g
ASOF LEFT JOIN obs o
  ON g.user_id = o.user_id AND g.gts >= o.ts
ORDER BY g.user_id, g.gts
"""


REGISTRY = {
    "agg_hourly": (q_agg_hourly, ORACLE_AGG_HOURLY),
    "agg_daily_holistic": (q_agg_daily_holistic, ORACLE_AGG_DAILY_HOLISTIC),
    "agg_weekly_mode_div": (q_agg_weekly_mode_div, ORACLE_AGG_WEEKLY_MODE_DIV),
    "series_overall": (q_series_overall, ORACLE_SERIES_OVERALL),
    "series_where": (q_series_where, ORACLE_SERIES_WHERE),
    "argminmax": (q_argminmax, ORACLE_ARGMINMAX),
    "regression": (q_regression, ORACLE_REGRESSION),
    "univar_daily": (q_univar_daily, ORACLE_UNIVAR_DAILY),
    "accumulate": (q_accumulate, ORACLE_ACCUMULATE),
    "snap": (q_snap, ORACLE_SNAP),
    "allen_relations": (q_allen_relations, ORACLE_ALLEN_RELATIONS),
    "gapfill_daily": (q_gapfill_daily, ORACLE_GAPFILL_DAILY),
    "tier_cascade_day": (q_tier_cascade_day, ORACLE_TIER_CASCADE_DAY),
    "extract_expr": (q_extract_expr, ORACLE_EXTRACT_EXPR),
    "weighted_avg_daily": (q_weighted_avg_daily, ORACLE_WEIGHTED_AVG_DAILY),
    "weighted_median_mode": (q_weighted_median_mode, ORACLE_WEIGHTED_MEDIAN_MODE),
    "accumulate_cycle": (q_accumulate_cycle, ORACLE_ACCUMULATE_CYCLE),
    "resample_priority": (q_resample_priority, ORACLE_RESAMPLE_PRIORITY),
    "gaps_daily": (q_gaps_daily, ORACLE_GAPS_DAILY),
    "pivot_daily": (q_pivot_daily, ORACLE_PIVOT_DAILY),
    "what_wide": (q_what_wide, ORACLE_WHAT_WIDE),
    "infer_granularity": (q_infer_granularity, None),
    "accdetect": (q_accdetect, ORACLE_ACCDETECT),
    "masked_agg": (q_masked_agg, ORACLE_MASKED_AGG),
    "weighted_quantile": (q_weighted_quantile, ORACLE_WEIGHTED_QUANTILE),
    "sessionize": (q_sessionize, ORACLE_SESSIONIZE),
    "weighted_regression": (q_weighted_regression, ORACLE_WEIGHTED_REGRESSION),
    "what_long": (q_what_long, ORACLE_WHAT_LONG),
    "weighted_skew_kurt": (q_weighted_skew_kurt, ORACLE_WEIGHTED_SKEW_KURT),
    "neighbors_rolling": (q_neighbors_rolling, ORACLE_NEIGHBORS_ROLLING),
    "shift_extents": (q_shift_extents, ORACLE_SHIFT_EXTENTS),
    "agg_relative": (q_agg_relative, ORACLE_AGG_RELATIVE),
    "sample_granules": (q_sample_granules, ORACLE_SAMPLE_GRANULES),
    "topology_census": (q_topology_census, ORACLE_TOPOLOGY_CENSUS),
    "group_granules": (q_group_granules, ORACLE_GROUP_GRANULES),
    "sketch_cascade_day": (q_sketch_cascade_day, ORACLE_SKETCH_CASCADE_DAY),
    "m4_downsample": (q_m4_downsample, ORACLE_M4),
    "resample_locf": (q_resample_locf, ORACLE_RESAMPLE_LOCF),
}
