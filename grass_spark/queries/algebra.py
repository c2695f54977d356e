"""Temporal-algebra queries (t.rast.algebra / t.select analogues).

Expression evaluation, hashing, the relation-parameterized select,
``merge()``, conditionals and the granularity (``-g``) mode, each over
:class:`grass_spark.algebra.TemporalAlgebra`.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from grass_spark.queries.temporal import _t, _usec


def q_algebra_expr(spark, sf_dir):
    """t.rast.algebra through the expression front-end: per user per day,
    D = if(S / C > 100, S / C, 0) over sum (S) and count (C) datasets —
    parsed and compiled to a DataFrame plan by TemporalAlgebra."""
    from grass_spark.algebra import TemporalAlgebra

    ev = _t(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts")).alias("bucket_start")
    s = ev.groupBy("user_id", day).agg(F.sum("value").alias("value"))
    c = ev.groupBy("user_id", day).agg(
        F.count("value").cast("double").alias("value")
    )
    alg = TemporalAlgebra(keys=["user_id"], time_col="bucket_start",
                          end_col=None, value_col="value")
    out = alg.eval("if(S / C > 100, S / C, 0)", {"S": s, "C": c})
    return out.select(
        "user_id",
        F.col("bucket_start").alias("bucket"),
        F.round("value", 6).alias("value"),
    )


ORACLE_ALGEBRA_EXPR = """
WITH d AS (
  SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket,
         sum(value) AS s, CAST(count(value) AS DOUBLE) AS c
  FROM events GROUP BY 1, 2
)
SELECT user_id, bucket,
       round(CASE WHEN s / c > 100 THEN s / c ELSE 0 END, 6) AS value
FROM d
"""


def q_algebra_hash(spark, sf_dir):
    """t.rast.algebra round-2 grammar: the hash operator
    ``D {#,contains} H`` (count of hourly granules inside each day
    granule — builder-widened contains, so the boundary hours that
    merely ``started``/``finished`` the day count too;
    temporal_algebra.py:2726-2747, count_map branch at :1609-1620)
    composed with an if/else conditional on a temporal accessor
    (``p_expr_condition_elif``, :3130-3169): weekday days keep the
    count, weekend days map to -1."""
    from grass_spark.algebra import TemporalAlgebra

    ev = _t(spark, sf_dir, "events")
    usec = lambda c, s: F.timestamp_micros(F.unix_micros(c) + s * 1_000_000)  # noqa: E731
    d = (
        ev.groupBy("user_id", F.date_trunc("day", "ts").alias("bucket_start"))
        .agg(F.avg("value").alias("value"))
        .withColumn("bucket_end", usec(F.col("bucket_start"), 86400))
    )
    h = (
        ev.groupBy("user_id", F.date_trunc("hour", "ts").alias("bucket_start"))
        .agg(F.count(F.lit(1)).cast("double").alias("value"))
        .withColumn("bucket_end", usec(F.col("bucket_start"), 3600))
    )
    alg = TemporalAlgebra(keys=["user_id"])
    out = alg.eval(
        "if(start_dow() <= 5, D {#,contains} H, (D {#,contains} H) * 0 - 1)",
        {"D": d, "H": h},
    )
    return out.select(
        "user_id",
        F.col("bucket_start").alias("bucket"),
        F.col("value").cast("bigint").alias("hash_cnt"),
    )


ORACLE_ALGEBRA_HASH = """
WITH h AS (
  SELECT user_id, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS h0
  FROM events GROUP BY 1, 2
), d AS (
  SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket
  FROM events GROUP BY 1, 2
), c AS (
  SELECT d.user_id, d.bucket, count(*) AS cnt
  FROM d JOIN h ON d.user_id = h.user_id
   AND h.h0 >= d.bucket
   AND h.h0 + INTERVAL 1 HOUR <= d.bucket + INTERVAL 1 DAY
  GROUP BY 1, 2
)
SELECT user_id, bucket,
       CAST(CASE WHEN isodow(bucket) <= 5 THEN cnt ELSE -1 END AS BIGINT)
         AS hash_cnt
FROM c
"""


# ---------------------------------------------------------------------
# algebra relation-parameterized select: A {:,during} B (SURVEY §2.7 —
# temporal_algebra.py select evaluation; strict `during`)
# ---------------------------------------------------------------------


def q_algebra_select(spark, sf_dir):
    """Keep hourly granules inside a high-activity day (daily sum >
    300): ``A {:,during} B`` through the algebra front-end — a
    left-semi relation join on the builder-widened during list (the
    day's first and last hours count), keys equi-joined."""
    from grass_spark.algebra import TemporalAlgebra

    ev = _t(spark, sf_dir, "events")
    hourly = (
        ev.groupBy("user_id", F.date_trunc("hour", "ts").alias("bucket_start"))
        .agg(F.avg("value").alias("value"))
        .withColumn("bucket_end", _usec(F.col("bucket_start"), 3600))
    )
    daily = (
        ev.groupBy("user_id", F.date_trunc("day", "ts").alias("bucket_start"))
        .agg(F.sum("value").alias("value"))
        .filter(F.col("value") > 300)
        .withColumn("bucket_end", _usec(F.col("bucket_start"), 86400))
    )
    alg = TemporalAlgebra(keys=["user_id"])
    out = alg.eval("A {:,during} B", {"A": hourly, "B": daily})
    return out.select(
        "user_id",
        F.col("bucket_start").alias("bucket"),
        F.round("value", 6).alias("value"),
    )


# builder-widened `during` (spatio_temporal_relationships.py:608-672):
# the 00:00 hour (`starts`) and 23:00 hour (`finishes`) of a qualifying
# day are IN the builder's DURING list, so the algebra keeps them —
# verified against the reference's own suite (A {:,during} C keeps the
# map that merely starts C; unittests_temporal_algebra.py:185-205).
ORACLE_ALGEBRA_SELECT = """
WITH h AS (
  SELECT user_id, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bs,
         avg(value) AS v
  FROM events GROUP BY 1, 2
), d AS (
  SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS bs
  FROM events GROUP BY 1, 2 HAVING sum(value) > 300
)
SELECT h.user_id, h.bs AS bucket, round(h.v, 6) AS value
FROM h
WHERE EXISTS (
  SELECT 1 FROM d
  WHERE d.user_id = h.user_id
    AND h.bs >= d.bs
    AND h.bs + INTERVAL 1 HOUR <= d.bs + INTERVAL 1 DAY
)
"""


# ---------------------------------------------------------------------
# algebra merge(A, B) — dataset union (temporal_algebra.py:2651-2709)
# ---------------------------------------------------------------------


def q_merge_extract(spark, sf_dir):
    """merge() of two extracted datasets (click-day and purchase-day
    averages) — the t.merge analog; map lists are disjoint by
    construction so the union is the reference's registered-maps set."""
    from grass_spark.algebra import TemporalAlgebra

    ev = _t(spark, sf_dir, "events")

    def _daily(etype):
        return (
            ev.filter(F.col("event_type") == etype)
            .groupBy("user_id", F.date_trunc("day", "ts").alias("bucket_start"))
            .agg(F.avg("value").alias("value"))
        )

    alg = TemporalAlgebra(keys=["user_id"], end_col=None)
    out = alg.eval("merge(A, B)", {"A": _daily("click"), "B": _daily("purchase")})
    return out.select(
        "user_id",
        F.col("bucket_start").alias("bucket"),
        F.round("value", 6).alias("value"),
    )


ORACLE_MERGE_EXTRACT = """
SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket,
       round(avg(value), 6) AS value
FROM events WHERE event_type = 'click' GROUP BY 1, 2
UNION ALL
SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket,
       round(avg(value), 6) AS value
FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
"""


# ---------------------------------------------------------------------
# t.rast.algebra raster conditional — the build_condition_cmd_list
# r.mapcalc pipeline (temporal_raster_base_algebra.py:641-747)
# ---------------------------------------------------------------------


def q_algebra_condition(spark, sf_dir):
    """``if({contains}, B > 50, A, A * 2)`` with the raster flavor:
    hourly averages (A) keep their value on days whose daily average
    (B) exceeds 50 and double otherwise.  Conclusions merge by EQUAL
    (A with A*2 — same extents), then each hour pairs its widened-contains
    day granule (boundary hours included: started/finished fold into
    contains, spatio_temporal_relationships.py:608-672) and takes the
    per-pair mapcalc value."""
    from grass_spark.algebra import TemporalAlgebra

    ev = _t(spark, sf_dir, "events")
    hour = (
        ev.groupBy(
            "user_id", F.date_trunc("hour", "ts").alias("bucket_start")
        )
        .agg(F.avg("value").alias("value"))
        .withColumn("bucket_end", _usec(F.col("bucket_start"), 3600))
    )
    day = (
        ev.groupBy(
            "user_id", F.date_trunc("day", "ts").alias("bucket_start")
        )
        .agg(F.avg("value").alias("value"))
        .withColumn("bucket_end", _usec(F.col("bucket_start"), 86400))
    )
    alg = TemporalAlgebra(keys=["user_id"], flavor="raster")
    out = alg.eval("if({contains}, B > 50, A, A * 2)", {"A": hour, "B": day})
    return out.select(
        "user_id",
        F.col("bucket_start").alias("bucket"),
        F.round("value", 6).alias("value"),
    )


# widened contains of a 1-hour granule in its 1-day granule is the
# plain range containment (equality of extents is impossible)
ORACLE_ALGEBRA_CONDITION = """
WITH h AS (
  SELECT user_id, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bucket,
         avg(value) AS hv
  FROM events GROUP BY 1, 2
), d AS (
  SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS ds,
         avg(value) AS dv
  FROM events GROUP BY 1, 2
)
SELECT h.user_id, h.bucket,
       round(CASE WHEN d.dv > 50 THEN h.hv ELSE h.hv * 2 END, 6) AS value
FROM h JOIN d
  ON d.user_id = h.user_id
 AND h.bucket >= d.ds
 AND h.bucket + INTERVAL 1 HOUR <= d.ds + INTERVAL 1 DAY
"""


# ---------------------------------------------------------------------
# t.rast.algebra -g — common-granularity mode (setup_common_granularity,
# temporal_algebra.py:853-976)
# ---------------------------------------------------------------------


def q_algebra_gran(spark, sf_dir):
    """``A : B`` in granularity mode: hourly click averages (granularity
    1 hour) selected against daily purchase activity (granularity
    1 day).  The common granularity is 1 hour, so each purchase day
    splits into 24 hourly granules and the select keeps every click
    hour inside a day with purchases."""
    from grass_spark.algebra import TemporalAlgebra

    ev = _t(spark, sf_dir, "events")
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", F.date_trunc("hour", "ts").alias("bucket_start"))
        .agg(F.avg("value").alias("value"))
        .withColumn("bucket_end", _usec(F.col("bucket_start"), 3600))
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", F.date_trunc("day", "ts").alias("bucket_start"))
        .agg(F.avg("value").alias("value"))
        .withColumn("bucket_end", _usec(F.col("bucket_start"), 86400))
    )
    alg = TemporalAlgebra(keys=["user_id"])
    out = alg.eval_gran("A : B", {"A": clicks, "B": purchases})
    return out.select(
        "user_id",
        F.col("bucket_start").alias("bucket"),
        F.round("value", 6).alias("value"),
    )


ORACLE_ALGEBRA_GRAN = """
WITH a AS (
  SELECT user_id, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bucket,
         round(avg(value), 6) AS value
  FROM events WHERE event_type = 'click' GROUP BY 1, 2
), b AS (
  SELECT DISTINCT user_id,
         CAST(date_trunc('day', ts) AS TIMESTAMP) AS ds
  FROM events WHERE event_type = 'purchase'
)
SELECT a.user_id, a.bucket, a.value
FROM a
WHERE EXISTS (
  SELECT 1 FROM b
  WHERE b.user_id = a.user_id
    AND CAST(date_trunc('day', a.bucket) AS TIMESTAMP) = b.ds
)
"""


def q_algebra_gran_cond(spark, sf_dir):
    """``if(B > 50, A - 1, A + 1)`` in granularity mode, raster flavor
    (the unittests_temporal_raster_algebra_grs.py test_4 shape): each
    purchase day splits into 24 hourly granules; the value-bearing
    condition pairs EQUAL with the merged conclusions and every click
    hour inside a purchase day gets a-1 or a+1 by the day's average."""
    from grass_spark.algebra import TemporalAlgebra

    ev = _t(spark, sf_dir, "events")
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", F.date_trunc("hour", "ts").alias("bucket_start"))
        .agg(F.avg("value").alias("value"))
        .withColumn("bucket_end", _usec(F.col("bucket_start"), 3600))
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", F.date_trunc("day", "ts").alias("bucket_start"))
        .agg(F.avg("value").alias("value"))
        .withColumn("bucket_end", _usec(F.col("bucket_start"), 86400))
    )
    alg = TemporalAlgebra(keys=["user_id"], flavor="raster")
    out = alg.eval_gran(
        "if(B > 50.0, A - 1.0, A + 1.0)", {"A": clicks, "B": purchases}
    )
    return out.select(
        "user_id",
        F.col("bucket_start").alias("bucket"),
        F.round("value", 6).alias("value"),
    )


ORACLE_ALGEBRA_GRAN_COND = """
WITH a AS (
  SELECT user_id, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bucket,
         avg(value) AS value
  FROM events WHERE event_type = 'click' GROUP BY 1, 2
), b AS (
  SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS ds,
         avg(value) AS value
  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
)
SELECT a.user_id, a.bucket,
       round(CASE WHEN b.value > 50.0 THEN a.value - 1.0
                  ELSE a.value + 1.0 END, 6) AS value
FROM a
JOIN b ON b.user_id = a.user_id
      AND CAST(date_trunc('day', a.bucket) AS TIMESTAMP) = b.ds
"""


REGISTRY = {
    "algebra_expr": (q_algebra_expr, ORACLE_ALGEBRA_EXPR),
    "algebra_hash": (q_algebra_hash, ORACLE_ALGEBRA_HASH),
    "algebra_select": (q_algebra_select, ORACLE_ALGEBRA_SELECT),
    "merge_extract": (q_merge_extract, ORACLE_MERGE_EXTRACT),
    "algebra_condition": (q_algebra_condition, ORACLE_ALGEBRA_CONDITION),
    "algebra_gran": (q_algebra_gran, ORACLE_ALGEBRA_GRAN),
    "algebra_gran_cond": (q_algebra_gran_cond, ORACLE_ALGEBRA_GRAN_COND),
}
