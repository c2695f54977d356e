"""Event-stream analytics queries over ``events`` (and ``orders``).

Funnels, retention cohorts, sessions, transitions and next-event
lookups, as-of attribution, rate and seasonal anomalies, engagement
(active users, streaks, RFM, HHI, heatmaps), interval joins and
concurrency, churn labels, trending ranks and event-mix drift.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from grass_spark.operators.asof import asof_join
from grass_spark.operators.ccf import cross_correlation
from grass_spark.operators.churn import churn_labels
from grass_spark.operators.engagement import (
    activity_histogram,
    cusum_alarms,
    heatmap_lift,
    rfm_segments,
    rolling_active_users,
    type_correlations,
    user_growth,
    user_hhi,
    user_streaks,
)
from grass_spark.operators.funnel import (
    event_funnel,
    extract_props,
    funnel_weekly,
    retention_cohorts,
)
from grass_spark.operators.interval import interval_overlap_join
from grass_spark.operators.occupancy import state_occupancy
from grass_spark.operators.seasonal import dow_index, seasonal_anomalies
from grass_spark.operators.smoothing import ewma_daily, ewma_weights
from grass_spark.operators.sweep import concurrency_sweep
from grass_spark.operators.transitions import (
    event_ngrams,
    event_transitions,
    next_event_top,
    rate_anomalies,
    session_summary,
    sessionize_events,
    transition_entropy,
)
from grass_spark.operators.trending import trending_ranks, type_mix_drift
from grass_spark.queries.temporal import _t


# =====================================================================
# Event-stream analytics — windowed funnels, retention cohorts, typed
# JSON-props rollups (operators/funnel.py) over the ``events`` table.
# =====================================================================


# ---------------------------------------------------------------------
# windowed funnel — view -> click -> purchase within 7 days of entry
# ---------------------------------------------------------------------

_FUNNEL_STEPS = ("view", "click", "purchase")
_FUNNEL_WINDOW = 7 * 86400


def q_event_funnel(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    out = event_funnel(ev, _FUNNEL_STEPS, _FUNNEL_WINDOW)
    return out.orderBy("user_id")


ORACLE_EVENT_FUNNEL = f"""
WITH s1 AS (
  SELECT user_id, min(ts) AS t1
  FROM events WHERE event_type = '{_FUNNEL_STEPS[0]}'
  GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN s1 USING (user_id)
  WHERE e.event_type = '{_FUNNEL_STEPS[1]}'
    AND e.ts > s1.t1
    AND e.ts <= s1.t1 + INTERVAL {_FUNNEL_WINDOW} SECOND
  GROUP BY e.user_id
),
s3 AS (
  SELECT e.user_id, min(e.ts) AS t3
  FROM events e JOIN s1 USING (user_id) JOIN s2 USING (user_id)
  WHERE e.event_type = '{_FUNNEL_STEPS[2]}'
    AND e.ts > s2.t2
    AND e.ts <= s1.t1 + INTERVAL {_FUNNEL_WINDOW} SECOND
  GROUP BY e.user_id
)
SELECT s1.user_id,
       s1.t1 AS entered_at,
       CAST(1 + CASE WHEN s2.user_id IS NULL THEN 0 ELSE 1 END
              + CASE WHEN s3.user_id IS NULL THEN 0 ELSE 1 END
            AS INT) AS steps_completed
FROM s1
LEFT JOIN s2 USING (user_id)
LEFT JOIN s3 USING (user_id)
ORDER BY s1.user_id
"""


# ---------------------------------------------------------------------
# retention cohorts — first-active-day cohort x day-offset user counts
# ---------------------------------------------------------------------

def q_retention_cohorts(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    out = retention_cohorts(ev)
    return out.orderBy("cohort", "offset_days")


ORACLE_RETENTION_COHORTS = """
WITH act AS (
  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
  FROM events
),
coh AS (
  SELECT user_id, min(d) AS cohort FROM act GROUP BY user_id
)
SELECT coh.cohort,
       CAST(date_diff('day', coh.cohort, act.d) AS INT) AS offset_days,
       count(*) AS n_users
FROM act JOIN coh USING (user_id)
GROUP BY 1, 2
ORDER BY 1, 2
"""


# ---------------------------------------------------------------------
# JSON-props rollup — typed $.k extraction, daily per-type aggregates
# ---------------------------------------------------------------------

def q_event_props(spark, sf_dir):
    ev = extract_props(
        _t(spark, sf_dir, "events"), {"k": ("$.k", "bigint")}
    )
    day = F.to_date(F.date_trunc("day", F.col("ts"))).alias("day")
    return (
        ev.groupBy("event_type", day)
        .agg(
            F.round(F.avg("k"), 6).alias("avg_k"),
            F.sum("k").alias("sum_k"),
            F.count("k").alias("n"),
        )
        .orderBy("event_type", "day")
    )


ORACLE_EVENT_PROPS = """
WITH e AS (
  SELECT event_type,
         CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
  FROM events
)
SELECT event_type, day,
       round(avg(k), 6) AS avg_k,
       CAST(sum(k) AS BIGINT) AS sum_k,
       count(k) AS n
FROM e
GROUP BY 1, 2
ORDER BY 1, 2
"""


# ---------------------------------------------------------------------
# Markov transition matrix — consecutive event-type pairs per user
# ---------------------------------------------------------------------

def q_event_transitions(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return event_transitions(ev).orderBy("from_type", "to_type")


ORACLE_EVENT_TRANSITIONS = """
WITH seq AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) AS nxt
  FROM events
),
m AS (
  SELECT event_type AS from_type, nxt AS to_type, count(*) AS n
  FROM seq WHERE nxt IS NOT NULL
  GROUP BY 1, 2
)
SELECT from_type, to_type, n,
       round(CAST(n AS DOUBLE)
             / CAST(sum(n) OVER (PARTITION BY from_type) AS DOUBLE),
             6) AS p
FROM m
ORDER BY 1, 2
"""


# ---------------------------------------------------------------------
# rate anomalies — per-(user, day) z-score vs the trailing 7-day window
# ---------------------------------------------------------------------

def q_rate_anomalies(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return rate_anomalies(ev).orderBy("user_id", "day")


# z composes from EXACT integer power sums in both engines (see
# operators/transitions.py) — built-in stddev differs in the last ulp.
ORACLE_RATE_ANOMALIES = """
WITH daily AS (
  SELECT user_id,
         CAST(date_trunc('day', ts) AS DATE) AS day,
         count(*) AS n_events
  FROM events GROUP BY 1, 2
),
win AS (
  SELECT user_id, day, n_events,
         sum(n_events)            OVER w AS s1,
         sum(n_events * n_events) OVER w AS s2,
         count(n_events)          OVER w AS m
  FROM daily
  WINDOW w AS (
    PARTITION BY user_id
    ORDER BY date_diff('day', DATE '1970-01-01', day)
    RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING
  )
)
SELECT user_id, day, n_events,
       CAST(coalesce(m, 0) AS INT) AS n_prev,
       CASE WHEN m >= 3
             AND (CAST(s2 AS DOUBLE) / m
                  - (CAST(s1 AS DOUBLE) / m) * (CAST(s1 AS DOUBLE) / m)) > 0
            THEN round(
              (n_events - CAST(s1 AS DOUBLE) / m)
              / sqrt(CAST(s2 AS DOUBLE) / m
                     - (CAST(s1 AS DOUBLE) / m) * (CAST(s1 AS DOUBLE) / m)),
              6)
       END AS z
FROM win
ORDER BY user_id, day
"""


# ---------------------------------------------------------------------
# as-of attribution — each purchase's most recent preceding view within
# 3 days, cross-checked against DuckDB's NATIVE ASOF JOIN
# ---------------------------------------------------------------------

_ATTR_TOL = 3 * 86400


def q_asof_attribution(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = ev.where(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"), "user_id", "ts"
    )
    out = asof_join(
        purchases, views, on="user_id",
        tie_col="view_id", tolerance_seconds=_ATTR_TOL,
    )
    return out.select(
        "event_id", "user_id", "ts", "ts_r", "view_id_r"
    ).orderBy("event_id")


# The oracle pre-dedups the right side to one row per (user, ts) with
# max(event_id) — DuckDB's ASOF JOIN is nondeterministic among tied
# timestamps; the dedup makes it equal to asof_join's greatest-tie rule.
ORACLE_ASOF_ATTRIBUTION = f"""
WITH p AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
),
v AS (
  SELECT user_id, ts, max(event_id) AS view_id
  FROM events WHERE event_type = 'view'
  GROUP BY 1, 2
),
m AS (
  SELECT p.event_id, p.user_id, p.ts,
         v.ts AS mts, v.view_id AS mview
  FROM p ASOF LEFT JOIN v
    ON p.user_id = v.user_id AND p.ts >= v.ts
)
SELECT event_id, user_id, ts,
       CASE WHEN mts >= ts - INTERVAL {_ATTR_TOL} SECOND THEN mts END
         AS ts_r,
       CASE WHEN mts >= ts - INTERVAL {_ATTR_TOL} SECOND THEN mview END
         AS view_id_r
FROM m
ORDER BY event_id
"""


# ---------------------------------------------------------------------
# event paths — consecutive event-type trigram counts per user
# ---------------------------------------------------------------------

def q_event_paths(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return event_ngrams(ev, 3).orderBy("g1", "g2", "g3")


ORACLE_EVENT_PATHS = """
WITH seq AS (
  SELECT event_type AS g1,
         lead(event_type, 1) OVER w AS g2,
         lead(event_type, 2) OVER w AS g3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT g1, g2, g3, count(*) AS n_paths
FROM seq WHERE g3 IS NOT NULL
GROUP BY 1, 2, 3
ORDER BY 1, 2, 3
"""


# ---------------------------------------------------------------------
# user-stream sessionization — 6h inactivity gap, bucket-decomposed
# ---------------------------------------------------------------------

_SESSION_GAP = 6 * 3600


def q_sessionize_events(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    out = sessionize_events(ev, _SESSION_GAP)
    return out.select(
        "event_id", "user_id", "ts", "session_idx", "session_id"
    ).orderBy("event_id")


ORACLE_SESSIONIZE_EVENTS = f"""
WITH s AS (
  SELECT event_id, user_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events
),
f AS (
  SELECT *, CASE WHEN prev IS NULL
                   OR ts > prev + INTERVAL {_SESSION_GAP} SECOND
                 THEN 1 ELSE 0 END AS flag
  FROM s
),
x AS (
  SELECT event_id, user_id, ts,
         CAST(sum(flag) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) - 1 AS BIGINT) AS session_idx
  FROM f
)
SELECT event_id, user_id, ts, session_idx,
       CAST(user_id AS VARCHAR) || '#' || CAST(session_idx AS VARCHAR)
         AS session_id
FROM x ORDER BY event_id
"""


# ---------------------------------------------------------------------
# inter-event gap statistics (burstiness) per user
# ---------------------------------------------------------------------


def q_interevent_stats(spark, sf_dir):
    from grass_spark.operators.transitions import interevent_stats

    ev = _t(spark, sf_dir, "events")
    return interevent_stats(ev).orderBy("user_id")


ORACLE_INTEREVENT = """
WITH e AS (
  SELECT user_id, epoch_us(ts) AS us, event_id FROM events
),
g0 AS (
  SELECT user_id,
         us - lag(us) OVER (
           PARTITION BY user_id ORDER BY us, event_id
         ) AS g
  FROM e
),
g AS (SELECT user_id, g FROM g0 WHERE g IS NOT NULL),
st AS (
  SELECT user_id,
         count(*) AS n,
         CAST(sum(g) AS BIGINT) AS s1,
         sum(CAST(g AS HUGEINT) * g) AS s2,
         min(g) AS gmin,
         max(g) AS gmax
  FROM g GROUP BY user_id
),
c AS (SELECT user_id, count(*) AS n_events FROM e GROUP BY user_id),
j AS (
  SELECT c.user_id, c.n_events,
         coalesce(st.n, 0) AS n_gaps,
         CAST(st.s1 AS DOUBLE) / (st.n * 1000000.0) AS mean,
         CAST(st.s2 AS DOUBLE) / (st.n * 1000000000000.0) AS ms2,
         st.gmin, st.gmax
  FROM c LEFT JOIN st USING (user_id)
)
SELECT user_id, n_events, n_gaps,
       round(mean, 6) AS mean_gap_s,
       CASE WHEN ms2 IS NOT NULL THEN
         round(sqrt(greatest(round(ms2 - mean * mean, 6),
                             CAST(0 AS DOUBLE))), 6)
       END AS std_gap_s,
       CASE WHEN round(mean, 6) > 0 THEN
         round(sqrt(greatest(round(ms2 - mean * mean, 6),
                             CAST(0 AS DOUBLE))) / round(mean, 6), 6)
       END AS cv_gap,
       round(gmin / 1000000.0, 6) AS min_gap_s,
       round(gmax / 1000000.0, 6) AS max_gap_s
FROM j
ORDER BY user_id
"""


# ---------------------------------------------------------------------
# multi-touch attribution — 3-day lookback, 1-day half-life decay
# ---------------------------------------------------------------------

_MTA_LOOK = 3 * 86400
_MTA_HALF = 86400


def q_multi_touch(spark, sf_dir):
    from grass_spark.operators.funnel import multi_touch_attribution

    ev = _t(spark, sf_dir, "events")
    return multi_touch_attribution(
        ev, conversion_type="purchase", touch_types=("view", "click"),
        lookback_seconds=_MTA_LOOK, half_life_seconds=_MTA_HALF,
    ).orderBy("conv_id", "touch_id")


ORACLE_MULTI_TOUCH = f"""
WITH conv AS (
  SELECT user_id, event_id AS conv_id, ts AS conv_ts, epoch_us(ts) AS cus
  FROM events WHERE event_type = 'purchase'
),
t AS (
  SELECT user_id, event_id AS touch_id, ts AS touch_ts,
         event_type AS touch_type, epoch_us(ts) AS tus
  FROM events WHERE event_type IN ('view', 'click')
),
cand AS (
  SELECT c.user_id, c.conv_id, c.conv_ts, t.touch_id, t.touch_ts,
         t.touch_type,
         round(pow(0.5, (c.cus - t.tus) / {float(_MTA_HALF) * 1e6}), 6)
           AS w
  FROM conv c JOIN t USING (user_id)
  WHERE t.tus <= c.cus AND c.cus - t.tus <= {_MTA_LOOK * 1_000_000}
),
tot AS (
  SELECT conv_id, count(*) AS n_touches, round(sum(w), 6) AS s
  FROM cand GROUP BY conv_id
)
SELECT cand.user_id, cand.conv_id, cand.conv_ts, cand.touch_id,
       cand.touch_ts, cand.touch_type,
       CAST(tot.n_touches AS BIGINT) AS n_touches,
       round(CAST(1 AS DOUBLE) / tot.n_touches, 6) AS w_linear,
       round(cand.w / tot.s, 6) AS w_decay
FROM cand JOIN tot USING (conv_id)
ORDER BY cand.conv_id, cand.touch_id
"""


# ---------------------------------------------------------------------
# session-scoped funnel — composite-key funnel over sessionized events
# ---------------------------------------------------------------------

_SFUN_GAP = 6 * 3600


def q_session_funnel(spark, sf_dir):
    from grass_spark.operators.transitions import sessionize_events

    ev = _t(spark, sf_dir, "events")
    sess = sessionize_events(ev, _SFUN_GAP)
    return event_funnel(
        sess, ("view", "click"), _SFUN_GAP,
        user_col=["user_id", "session_idx"],
    ).orderBy("user_id", "session_idx")


ORACLE_SESSION_FUNNEL = f"""
WITH s AS (
  SELECT event_id, user_id, ts, event_type,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events
),
f AS (
  SELECT *, CASE WHEN prev IS NULL
                   OR ts > prev + INTERVAL {_SFUN_GAP} SECOND
                 THEN 1 ELSE 0 END AS flag
  FROM s
),
x AS (
  SELECT user_id, ts, event_type,
         CAST(sum(flag) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) - 1 AS BIGINT) AS session_idx
  FROM f
),
s1 AS (
  SELECT user_id, session_idx, min(ts) AS t1
  FROM x WHERE event_type = 'view' GROUP BY 1, 2
),
s2 AS (
  SELECT e.user_id, e.session_idx, min(e.ts) AS t2
  FROM x e JOIN s1 USING (user_id, session_idx)
  WHERE e.event_type = 'click'
    AND e.ts > s1.t1
    AND e.ts <= s1.t1 + INTERVAL {_SFUN_GAP} SECOND
  GROUP BY 1, 2
)
SELECT s1.user_id, s1.session_idx, s1.t1 AS entered_at,
       CAST(1 + CASE WHEN s2.user_id IS NULL THEN 0 ELSE 1 END AS INT)
         AS steps_completed
FROM s1 LEFT JOIN s2 USING (user_id, session_idx)
ORDER BY s1.user_id, s1.session_idx
"""


# ---------------------------------------------------------------------
# funnel latency — time-to-convert summary per completion depth
# ---------------------------------------------------------------------


def q_funnel_latency(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    fun = event_funnel(
        ev, _FUNNEL_STEPS, _FUNNEL_WINDOW, return_times=True
    )
    # exact integer micros from entry to the deepest completed step
    lat = F.expr(
        "timestampdiff(MICROSECOND, entered_at, "
        "coalesce(step_ts_3, step_ts_2, entered_at))"
    )
    g = fun.select("steps_completed", lat.alias("_lat")).groupBy(
        "steps_completed"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("_lat").alias("_s"),
        F.max("_lat").alias("_m"),
    )
    return g.select(
        "steps_completed",
        "n",
        F.round(
            F.col("_s").cast("double") / (F.col("n") * F.lit(1000000.0)), 6
        ).alias("mean_latency_s"),
        F.round(F.col("_m") / F.lit(1000000.0), 6).alias("max_latency_s"),
    ).orderBy("steps_completed")


ORACLE_FUNNEL_LATENCY = f"""
WITH s1 AS (
  SELECT user_id, min(ts) AS t1
  FROM events WHERE event_type = '{_FUNNEL_STEPS[0]}'
  GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN s1 USING (user_id)
  WHERE e.event_type = '{_FUNNEL_STEPS[1]}'
    AND e.ts > s1.t1
    AND e.ts <= s1.t1 + INTERVAL {_FUNNEL_WINDOW} SECOND
  GROUP BY e.user_id
),
s3 AS (
  SELECT e.user_id, min(e.ts) AS t3
  FROM events e JOIN s1 USING (user_id) JOIN s2 USING (user_id)
  WHERE e.event_type = '{_FUNNEL_STEPS[2]}'
    AND e.ts > s2.t2
    AND e.ts <= s1.t1 + INTERVAL {_FUNNEL_WINDOW} SECOND
  GROUP BY e.user_id
),
j AS (
  SELECT s1.user_id,
         CAST(1 + CASE WHEN s2.user_id IS NULL THEN 0 ELSE 1 END
                + CASE WHEN s3.user_id IS NULL THEN 0 ELSE 1 END
              AS INT) AS steps_completed,
         epoch_us(coalesce(s3.t3, s2.t2, s1.t1)) - epoch_us(s1.t1) AS lat
  FROM s1
  LEFT JOIN s2 USING (user_id)
  LEFT JOIN s3 USING (user_id)
)
SELECT steps_completed,
       count(*) AS n,
       round(CAST(sum(lat) AS DOUBLE) / (count(*) * 1000000.0), 6)
         AS mean_latency_s,
       round(max(lat) / 1000000.0, 6) AS max_latency_s
FROM j GROUP BY steps_completed
ORDER BY steps_completed
"""


# =====================================================================
# Engagement & monitoring analytics — rolling active users (interval
# sweep, never a banded calendar join), days-active histogram, RFM
# quintile segmentation (distinct-value census, never a global user
# rank), CUSUM changepoint alarms (prefix-sum identity, no sequential
# recurrence), and event-type daily-count correlations
# (operators/engagement.py) over ``events``.
# =====================================================================


# ---------------------------------------------------------------------
# rolling active users — DAU / 7-day WAU / stickiness per calendar day
# ---------------------------------------------------------------------

_ACTIVE_WINDOW = 7


def q_active_users(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return rolling_active_users(ev, window_days=_ACTIVE_WINDOW)


ORACLE_ACTIVE_USERS = f"""
WITH ud AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
),
cal AS (
  SELECT CAST(unnest(generate_series(min(day), max(day),
              INTERVAL 1 DAY)) AS DATE) AS day
  FROM ud
),
wau AS (
  SELECT c.day, count(DISTINCT u.user_id) AS wau
  FROM cal c
  LEFT JOIN ud u ON u.day BETWEEN c.day - {_ACTIVE_WINDOW - 1} AND c.day
  GROUP BY c.day
),
dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau FROM ud GROUP BY day)
SELECT c.day,
       CAST(coalesce(d.dau, 0) AS BIGINT) AS dau,
       CAST(w.wau AS BIGINT) AS wau,
       CASE WHEN w.wau > 0
            THEN round(CAST(coalesce(d.dau, 0) AS DOUBLE) / w.wau, 6)
       END AS stickiness
FROM cal c
JOIN wau w ON c.day = w.day
LEFT JOIN dau d ON c.day = d.day
ORDER BY c.day
"""


# ---------------------------------------------------------------------
# power-user curve — users by exact days-active count
# ---------------------------------------------------------------------


def q_activity_histogram(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return activity_histogram(ev)


ORACLE_ACTIVITY_HISTOGRAM = """
WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
pu AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_days_active
  FROM ud GROUP BY user_id
)
SELECT n_days_active, CAST(count(*) AS BIGINT) AS n_users
FROM pu GROUP BY n_days_active ORDER BY n_days_active
"""


# ---------------------------------------------------------------------
# RFM segmentation — exact quintiles via distinct-value census
# ---------------------------------------------------------------------


def q_rfm_segments(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return rfm_segments(ev)


# score = ceil(5 * cum_worse_or_equal / n) in pure integer math; the
# census windows run over DISTINCT metric values (v), mirroring the
# Spark shape exactly.  monetary is exact integer cents.
ORACLE_RFM_SEGMENTS = """
WITH base AS (
  SELECT user_id,
         max(CAST(ts AS DATE)) AS umax,
         CAST(count(*) AS BIGINT) AS frequency,
         CAST(coalesce(sum(CASE WHEN event_type = 'purchase'
              THEN CAST(round(value * 100) AS BIGINT)
              ELSE 0 END), 0) AS BIGINT) AS cents
  FROM events GROUP BY user_id
),
pu AS (
  SELECT user_id,
         CAST(date_diff('day', umax,
              (SELECT max(umax) FROM base)) AS INT) AS recency_days,
         frequency, cents
  FROM base
),
rc AS (SELECT recency_days AS v, count(*) AS c FROM pu GROUP BY 1),
rs AS (
  SELECT v, CAST((5 * sum(c) OVER (ORDER BY v DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              + sum(c) OVER () - 1) // sum(c) OVER () AS INT) AS r_score
  FROM rc
),
fc AS (SELECT frequency AS v, count(*) AS c FROM pu GROUP BY 1),
fs AS (
  SELECT v, CAST((5 * sum(c) OVER (ORDER BY v ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              + sum(c) OVER () - 1) // sum(c) OVER () AS INT) AS f_score
  FROM fc
),
mc AS (SELECT cents AS v, count(*) AS c FROM pu GROUP BY 1),
ms AS (
  SELECT v, CAST((5 * sum(c) OVER (ORDER BY v ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              + sum(c) OVER () - 1) // sum(c) OVER () AS INT) AS m_score
  FROM mc
)
SELECT p.user_id, p.recency_days, p.frequency,
       round(CAST(p.cents AS DOUBLE) / CAST(100 AS DOUBLE), 2) AS monetary,
       rs.r_score, fs.f_score, ms.m_score,
       CAST(rs.r_score AS VARCHAR) || CAST(fs.f_score AS VARCHAR)
         || CAST(ms.m_score AS VARCHAR) AS segment
FROM pu p
JOIN rs ON p.recency_days = rs.v
JOIN fs ON p.frequency = fs.v
JOIN ms ON p.cents = ms.v
ORDER BY p.user_id
"""


# ---------------------------------------------------------------------
# CUSUM changepoint alarms on per-user daily activity
# ---------------------------------------------------------------------

_CUSUM_DRIFT = 3
_CUSUM_H = 3


def q_cusum_alarms(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return cusum_alarms(ev, drift=_CUSUM_DRIFT, threshold=_CUSUM_H)


ORACLE_CUSUM_ALARMS = f"""
WITH ud AS (
  SELECT user_id, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
),
span AS (SELECT user_id, min(day) AS lo, max(day) AS hi FROM ud GROUP BY 1),
cal AS (
  SELECT user_id,
         CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day
  FROM span
),
dense AS (
  SELECT c.user_id, c.day, coalesce(u.x, 0) AS x
  FROM cal c LEFT JOIN ud u ON c.user_id = u.user_id AND c.day = u.day
),
p AS (
  SELECT user_id, day,
         sum(x - {_CUSUM_DRIFT}) OVER (PARTITION BY user_id ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pp
  FROM dense
),
s AS (
  SELECT user_id, day,
         pp - least(0, min(pp) OVER (PARTITION BY user_id ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS ss
  FROM p
)
SELECT user_id,
       min(day) FILTER (WHERE ss > {_CUSUM_H}) AS alarm_day,
       CAST(max(ss) AS BIGINT) AS max_s
FROM s GROUP BY user_id ORDER BY user_id
"""


# ---------------------------------------------------------------------
# event-type daily-count Pearson correlations
# ---------------------------------------------------------------------


def q_type_correlations(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return type_correlations(ev)


ORACLE_TYPE_CORRELATIONS = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, event_type AS t,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
cal AS (
  SELECT CAST(unnest(generate_series(min(day), max(day),
              INTERVAL 1 DAY)) AS DATE) AS day
  FROM daily
),
types AS (SELECT DISTINCT t FROM daily),
dense AS (
  SELECT c.day, ty.t, coalesce(d.n, 0) AS n
  FROM cal c CROSS JOIN types ty
  LEFT JOIN daily d ON c.day = d.day AND ty.t = d.t
),
pairs AS (
  SELECT a.t AS type_a, b.t AS type_b, a.n AS xa, b.n AS xb
  FROM dense a JOIN dense b ON a.day = b.day AND a.t < b.t
),
sums AS (
  SELECT type_a, type_b, CAST(count(*) AS BIGINT) AS n_days,
         CAST(sum(CAST(xa AS HUGEINT)) AS DOUBLE) AS sx,
         CAST(sum(CAST(xb AS HUGEINT)) AS DOUBLE) AS sy,
         CAST(sum(CAST(xa AS HUGEINT) * xa) AS DOUBLE) AS sxx,
         CAST(sum(CAST(xb AS HUGEINT) * xb) AS DOUBLE) AS syy,
         CAST(sum(CAST(xa AS HUGEINT) * xb) AS DOUBLE) AS sxy
  FROM pairs GROUP BY 1, 2
)
SELECT type_a, type_b, n_days,
       CASE WHEN (n_days * sxx - sx * sx) > 0
             AND (n_days * syy - sy * sy) > 0
            THEN round((n_days * sxy - sx * sy)
                 / sqrt((n_days * sxx - sx * sx)
                        * (n_days * syy - sy * sy)), 6)
       END AS corr
FROM sums ORDER BY type_a, type_b
"""


# ---------------------------------------------------------------------
# seasonal anomalies — z > 2 against the (type, dow, hour) baseline
# (z = 2 rather than 3 so the 30-day synthetic table yields rows)
# ---------------------------------------------------------------------


def q_seasonal_anomalies(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").select("ts", "event_type")
    return seasonal_anomalies(ev, z=2.0)


ORACLE_SEASONAL = """
WITH cen AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(hour(ts) AS INT) AS hour, count(*) AS c
  FROM events GROUP BY 1, 2, 3
),
days AS (SELECT DISTINCT day FROM cen),
types AS (SELECT DISTINCT event_type FROM cen),
hours AS (SELECT CAST(unnest(generate_series(0, 23)) AS INT) AS hour),
cells AS (
  SELECT t.event_type, d.day, h.hour,
         CAST(((d.day - DATE '1970-01-05') % 7 + 7) % 7 AS INT) AS dow,
         coalesce(c.c, 0) AS x
  FROM days d CROSS JOIN types t CROSS JOIN hours h
  LEFT JOIN cen c
    ON c.event_type = t.event_type AND c.day = d.day AND c.hour = h.hour
),
base AS (
  SELECT event_type, dow, hour, count(*) AS n, sum(x) AS s1,
         sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS s2
  FROM cells GROUP BY 1, 2, 3
),
sc AS (
  SELECT c.event_type, c.day, c.hour, c.dow, c.x,
         CAST(b.s1 AS DOUBLE) / CAST(b.n AS DOUBLE) AS mu,
         sqrt(greatest(round(
             CAST(b.s2 AS DOUBLE) / CAST(b.n AS DOUBLE)
             - (CAST(b.s1 AS DOUBLE) / CAST(b.n AS DOUBLE))
               * (CAST(b.s1 AS DOUBLE) / CAST(b.n AS DOUBLE)), 6),
           CAST(0 AS DOUBLE))) AS sigma
  FROM cells c JOIN base b USING (event_type, dow, hour)
)
SELECT event_type, day, hour, dow, x,
       round(mu, 6) AS mu, round(sigma, 6) AS sigma
FROM sc
WHERE sigma > 0
  AND round(abs(CAST(x AS DOUBLE) - mu), 6)
      > round(CAST(2.0 AS DOUBLE) * sigma, 6)
ORDER BY event_type, day, hour
"""


# =====================================================================
# The general interval-overlap equi-join (operators/interval.py) over
# per-user event windows.
# =====================================================================


# ---------------------------------------------------------------------
# interval overlap join: even-event windows vs odd-event windows per
# user (1..120 / 1..90 minute durations derived from the event id)
# ---------------------------------------------------------------------


def q_interval_join(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    a = ev.where(F.col("event_id") % 2 == 0).select(
        "user_id",
        F.col("event_id").alias("a_id"),
        F.col("ts").alias("a_start"),
        F.expr("timestampadd(MINUTE, 1 + event_id % 120, ts)").alias(
            "a_end"
        ),
    )
    b = ev.where(F.col("event_id") % 2 == 1).select(
        "user_id",
        F.col("event_id").alias("b_id"),
        F.col("ts").alias("b_start"),
        F.expr("timestampadd(MINUTE, 1 + event_id % 90, ts)").alias(
            "b_end"
        ),
    )
    out = interval_overlap_join(a, b, on=["user_id"], bucket="1 hour")
    return out.select(
        "user_id", "a_id", "b_id",
        "overlap_start", "overlap_end", "overlap_us",
    ).orderBy("user_id", "a_id", "b_id")


ORACLE_INTERVAL_JOIN = """
WITH a AS (
  SELECT user_id, event_id AS a_id, ts AS a_start,
         ts + (1 + event_id % 120) * INTERVAL 1 MINUTE AS a_end
  FROM events WHERE event_id % 2 = 0
),
b AS (
  SELECT user_id, event_id AS b_id, ts AS b_start,
         ts + (1 + event_id % 90) * INTERVAL 1 MINUTE AS b_end
  FROM events WHERE event_id % 2 = 1
)
SELECT a.user_id, a_id, b_id,
       greatest(a_start, b_start) AS overlap_start,
       least(a_end, b_end) AS overlap_end,
       CAST(epoch_us(least(a_end, b_end))
            - epoch_us(greatest(a_start, b_start)) AS BIGINT)
         AS overlap_us
FROM a JOIN b
  ON a.user_id = b.user_id AND a_start < b_end AND b_start < a_end
ORDER BY a.user_id, a_id, b_id
"""


# ---------------------------------------------------------------------
# gaps-and-islands: per-user consecutive-day activity streaks
# ---------------------------------------------------------------------


def q_user_streaks(spark, sf_dir):
    return user_streaks(_t(spark, sf_dir, "events"))


ORACLE_USER_STREAKS = """
WITH ud AS (
  SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS day FROM events
),
rn AS (
  SELECT u, day,
         CAST(row_number() OVER (PARTITION BY u ORDER BY day) AS INT)
           AS rn
  FROM ud
),
runs AS (
  SELECT u, day - rn AS anchor, count(*) AS len,
         min(day) AS s, max(day) AS e
  FROM rn GROUP BY 1, 2
),
agg AS (
  SELECT u, CAST(sum(len) AS BIGINT) AS n_active_days,
         CAST(count(*) AS BIGINT) AS n_streaks,
         max(len) AS lmax,
         CAST(arg_max(len, e) AS BIGINT) AS last_streak,
         max(e) AS last_day
  FROM runs GROUP BY 1
),
ls AS (
  SELECT r.u, min(r.s) AS longest_start
  FROM runs r JOIN agg a ON r.u = a.u AND r.len = a.lmax
  GROUP BY 1
)
SELECT a.u AS user_id, n_active_days, n_streaks,
       CAST(lmax AS BIGINT) AS longest_streak, longest_start,
       last_streak, last_day
FROM agg a JOIN ls ON a.u = ls.u
ORDER BY user_id
"""


# ---------------------------------------------------------------------
# gap-aware EWMA over daily event counts
# ---------------------------------------------------------------------


def q_ewma_daily(spark, sf_dir):
    return ewma_daily(
        _t(spark, sf_dir, "events"),
        ts_col="ts",
        key_col="event_type",
        alpha=0.3,
        horizon=14,
    ).orderBy("event_type", "day")


def _ewma_values() -> str:
    return ", ".join(
        f"({o}, CAST('{w!r}' AS DOUBLE))"
        for o, w in enumerate(ewma_weights(0.3, 14))
    )


ORACLE_EWMA_DAILY = f"""
WITH w(o, wt) AS (VALUES {_ewma_values()}),
daily AS (
  SELECT event_type AS k, CAST(ts AS DATE) AS d, count(*) AS x
  FROM events GROUP BY 1, 2
),
contrib AS (
  SELECT daily.k, daily.d + w.o AS td, w.wt, daily.x
  FROM daily CROSS JOIN w
),
agg AS (
  SELECT k, td,
         CAST(count(*) AS BIGINT) AS n_window_days,
         round(sum(wt * CAST(x AS DOUBLE)) / sum(wt), 6) AS ewma
  FROM contrib GROUP BY 1, 2
)
SELECT agg.k AS event_type, agg.td AS day, daily.x AS x,
       n_window_days, ewma
FROM agg JOIN daily ON agg.k = daily.k AND agg.td = daily.d
ORDER BY event_type, day
"""


# =====================================================================
# Sweep-line interval concurrency (operators/sweep.py — peak
# simultaneously-open orders per day over deterministic ``[orderdate,
# orderdate + (key % 28 + 1) days)`` intervals).
#
# An all-integer pipeline whose only corpus-sized stage is a map-side-
# combinable census groupBy; the sweep runs over a calendar-bounded
# census.  The oracle replays the identical arithmetic with DuckDB
# window functions (sums CAST to BIGINT — the HUGEINT trap).
# =====================================================================


# ---------------------------------------------------------------------
# per-day order concurrency: intervals [o_orderdate, +1..28 days)
# ---------------------------------------------------------------------


def q_concurrency_days(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderdate").cast("date").alias("s"),
        F.date_add(
            F.col("o_orderdate").cast("date"),
            (F.col("o_orderkey") % 28 + 1).cast("int"),
        ).alias("e"),
    )
    return concurrency_sweep(o, start_col="s", end_col="e")


ORACLE_CONCURRENCY_DAYS = """
WITH iv AS (
  SELECT CAST(o_orderdate AS DATE) AS s,
         CAST(o_orderdate AS DATE)
           + CAST(o_orderkey % 28 + 1 AS INTEGER) AS e
  FROM orders
),
ev AS (
  SELECT s AS day, 1 AS d FROM iv
  UNION ALL
  SELECT e AS day, -1 AS d FROM iv
),
cen AS (
  SELECT day,
         CAST(sum(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_start,
         CAST(sum(CASE WHEN d < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_end,
         CAST(sum(d) AS BIGINT) AS net
  FROM ev WHERE day IS NOT NULL GROUP BY day
),
cum AS (
  SELECT day, n_start, n_end, net,
         CAST(sum(net) OVER (
           ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS active_end
  FROM cen
)
SELECT day, n_start, n_end,
       active_end - net AS carry_in,
       active_end,
       greatest(active_end - net, active_end) AS peak
FROM cum
ORDER BY day
"""


# =====================================================================
# Lagged daily cross-correlation between two event-type count series
# (operators/ccf.py — does 'purchase' follow 'click'?) and per-state
# next-event conditional entropy (operators/transitions.py
# ``transition_entropy`` — Markov predictability of the event stream).
#
# The CCF oracle mirrors the exact-power-sum Pearson composition
# (HUGEINT sums -> one double expression); the entropy oracle reuses the
# event_transitions lead-window SQL as a CTE and the source_entropy
# ``ln(n) - sum(n ln n)/n`` identity with per-term 6-dp rounding.
# =====================================================================


# ---------------------------------------------------------------------
# click -> purchase daily-count CCF at lags 0..7
# ---------------------------------------------------------------------


def q_ccf_daily(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return cross_correlation(
        ev, type_x="click", type_y="purchase", max_lag=7
    )


ORACLE_CCF_DAILY = """
WITH cen AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
              AS BIGINT) AS x,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS y
  FROM events WHERE event_type IN ('click', 'purchase')
  GROUP BY 1
),
b AS (SELECT min(day) AS lo, max(day) AS hi FROM cen),
grid AS (
  SELECT d.day, coalesce(cen.x, 0) AS x, coalesce(cen.y, 0) AS y
  FROM (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE
          AS day FROM b) d
  LEFT JOIN cen ON d.day = cen.day
),
lags AS (SELECT unnest(generate_series(0, 7)) AS lag),
j AS (
  SELECT l.lag, gx.x, gy.y
  FROM grid gx CROSS JOIN lags l
  JOIN grid gy ON gy.day = gx.day + CAST(l.lag AS INTEGER)
),
agg AS (
  SELECT lag, count(*) AS n_days,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         sum(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy,
         sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx,
         sum(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS syy
  FROM j GROUP BY lag
)
SELECT CAST(lag AS INTEGER) AS lag, n_days,
       CASE WHEN sqrt(CAST(n_days AS DOUBLE) * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                 * sqrt(CAST(n_days AS DOUBLE) * CAST(syy AS DOUBLE)
                        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
            THEN round(
              (CAST(n_days AS DOUBLE) * CAST(sxy AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
              / (sqrt(CAST(n_days AS DOUBLE) * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                 * sqrt(CAST(n_days AS DOUBLE) * CAST(syy AS DOUBLE)
                        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
       END AS r
FROM agg
ORDER BY lag
"""


# ---------------------------------------------------------------------
# next-event conditional entropy per from_type
# ---------------------------------------------------------------------


def q_transition_entropy(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return transition_entropy(ev)


ORACLE_TRANSITION_ENTROPY = """
WITH seq AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) AS nxt
  FROM events
),
m AS (
  SELECT event_type AS from_type, nxt AS to_type, count(*) AS n
  FROM seq WHERE nxt IS NOT NULL
  GROUP BY 1, 2
),
agg AS (
  SELECT from_type,
         CAST(sum(n) AS BIGINT) AS n_obs,
         CAST(count(*) AS BIGINT) AS n_next_types,
         sum(round(CAST(n AS DOUBLE) * ln(CAST(n AS DOUBLE)), 6))
           AS snln
  FROM m GROUP BY 1
)
SELECT from_type, n_obs, n_next_types,
       round(ln(CAST(n_obs AS DOUBLE))
             - snln / CAST(n_obs AS DOUBLE), 6) AS entropy,
       CASE WHEN n_next_types > 1 THEN
         round(round(ln(CAST(n_obs AS DOUBLE))
                     - snln / CAST(n_obs AS DOUBLE), 6)
               / ln(CAST(n_next_types AS DOUBLE)), 6)
       END AS entropy_norm
FROM agg
ORDER BY from_type
"""


# =====================================================================
# Per-state occupancy time (operators/occupancy.py — how long users
# collectively sit in each event state, via the exact bucket-stitch
# global-order decomposition).
#
# The oracle follows the exact-integer discipline: micro-second sums
# stay in HUGEINT/DECIMAL(38) and every double is one mirrored
# expression over exact integers, rounded to 6 dp.
# =====================================================================


# ---------------------------------------------------------------------
# per-state occupancy time
# ---------------------------------------------------------------------


def q_state_occupancy(spark, sf_dir):
    return state_occupancy(_t(spark, sf_dir, "events"))


ORACLE_STATE_OCCUPANCY = """
WITH seq AS (
  SELECT event_type AS st,
         lead(epoch_us(ts)) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) - epoch_us(ts) AS g
  FROM events
),
cen AS (
  SELECT st, CAST(count(*) AS BIGINT) AS n_intervals,
         sum(CAST(g AS HUGEINT)) AS s
  FROM seq WHERE g IS NOT NULL
  GROUP BY 1
),
tot AS (SELECT sum(s) AS t FROM cen)
SELECT st AS state, n_intervals,
       round(CAST(s AS DOUBLE) / 1e6, 6) AS total_s,
       CASE WHEN CAST(t AS DOUBLE) > 0
            THEN round(CAST(s AS DOUBLE) / CAST(t AS DOUBLE), 6)
       END AS share
FROM cen CROSS JOIN tot
ORDER BY state
"""


# ---------------------------------------------------------------------
# cumulative user growth
# ---------------------------------------------------------------------


def q_user_growth(spark, sf_dir):
    return user_growth(_t(spark, sf_dir, "events"))


ORACLE_USER_GROWTH = """
WITH fst AS (
  SELECT user_id, min(CAST(ts AS DATE)) AS d FROM events GROUP BY 1
),
cen AS (SELECT d, CAST(count(*) AS BIGINT) AS nn FROM fst GROUP BY 1),
b AS (SELECT min(d) AS lo, max(d) AS hi FROM cen),
grid AS (
  SELECT g.day, CAST(coalesce(cen.nn, 0) AS BIGINT) AS n_new_users
  FROM (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE
          AS day FROM b) g
  LEFT JOIN cen ON g.day = cen.d
)
SELECT day, n_new_users,
       CAST(sum(n_new_users) OVER (ORDER BY day) AS BIGINT) AS cum_users
FROM grid
ORDER BY day
"""


# =====================================================================
# Week-over-week trending ranks (operators/trending.py — portable Monday
# anchor, census self-join for the previous-week lookup).
# =====================================================================


# ---------------------------------------------------------------------
# trending event types, week over week
# ---------------------------------------------------------------------


def q_trending_ranks(spark, sf_dir):
    return trending_ranks(_t(spark, sf_dir, "events"))


ORACLE_TRENDING_RANKS = """
WITH cen AS (
  SELECT CAST(ts AS DATE)
           - CAST(((CAST(ts AS DATE) - DATE '1970-01-05') % 7 + 7) % 7
                  AS INTEGER) AS wk,
         event_type, CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
r AS (
  SELECT wk, event_type, n,
         CAST(row_number() OVER (
           PARTITION BY wk ORDER BY n DESC, event_type
         ) AS INTEGER) AS rnk
  FROM cen
)
SELECT a.wk AS week_start, a.event_type, a.n, a.rnk,
       b.rnk AS prev_rnk,
       CAST(b.rnk - a.rnk AS INTEGER) AS rank_delta
FROM r a LEFT JOIN r b
  ON b.event_type = a.event_type AND b.wk = a.wk - 7
ORDER BY week_start, a.rnk
"""


# ---------------------------------------------------------------------
# session engagement summary (same 6 h gap as sessionize_events)
# ---------------------------------------------------------------------


def q_session_summary(spark, sf_dir):
    return session_summary(_t(spark, sf_dir, "events"), _SESSION_GAP)


ORACLE_SESSION_SUMMARY = f"""
WITH s AS (
  SELECT event_id, user_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events
),
f AS (
  SELECT *, CASE WHEN prev IS NULL
                   OR ts > prev + INTERVAL {_SESSION_GAP} SECOND
                 THEN 1 ELSE 0 END AS flag
  FROM s
),
x AS (
  SELECT user_id,
         CAST(sum(flag) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) - 1 AS BIGINT) AS session_idx
  FROM f
),
dep AS (
  SELECT user_id, session_idx, CAST(count(*) AS BIGINT) AS d
  FROM x GROUP BY 1, 2
),
a AS (
  SELECT CAST(count(*) AS BIGINT) AS n_sessions,
         CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
         CAST(sum(d) AS BIGINT) AS n_events,
         CAST(sum(CASE WHEN d = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS bounce_sessions,
         round(quantile_cont(d, 0.5), 6) AS p50_depth,
         round(quantile_cont(d, 0.95), 6) AS p95_depth
  FROM dep
)
SELECT n_sessions, n_users, n_events, bounce_sessions,
       round(CAST(bounce_sessions AS DOUBLE)
             / CAST(n_sessions AS DOUBLE), 6) AS bounce_rate,
       round(CAST(n_events AS DOUBLE)
             / CAST(n_sessions AS DOUBLE), 6) AS mean_depth,
       p50_depth, p95_depth
FROM a
"""


# =====================================================================
# Leakage-free churn label generation (operators/churn.py — features
# strictly before the cutoff, label from the bounded observation window
# after it).
# =====================================================================


_CUTOFF = "2024-01-21"
_CHURN_WINDOW = 10  # observation window [21, 31) sits inside the data


# ---------------------------------------------------------------------
# churn training labels
# ---------------------------------------------------------------------


def q_churn_labels(spark, sf_dir):
    return churn_labels(
        _t(spark, sf_dir, "events"), _CUTOFF, window_days=_CHURN_WINDOW
    )


ORACLE_CHURN_LABELS = f"""
WITH base AS (
  SELECT user_id, CAST(ts AS DATE) AS d FROM events
  WHERE CAST(ts AS DATE) < DATE '{_CUTOFF}' + {_CHURN_WINDOW}
),
pu AS (
  SELECT user_id,
         CAST(sum(CASE WHEN d < DATE '{_CUTOFF}' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_events_before,
         CAST(count(DISTINCT CASE WHEN d < DATE '{_CUTOFF}' THEN d END)
              AS BIGINT) AS n_active_days_before,
         max(CASE WHEN d < DATE '{_CUTOFF}' THEN d END) AS last_seen_day,
         max(CASE WHEN d >= DATE '{_CUTOFF}' THEN 1 ELSE 0 END) AS aft
  FROM base GROUP BY 1
)
SELECT user_id, n_events_before, n_active_days_before, last_seen_day,
       CAST(DATE '{_CUTOFF}' - last_seen_day AS INTEGER) AS recency_days,
       CAST(1 - aft AS INTEGER) AS churned
FROM pu WHERE n_events_before > 0
ORDER BY user_id
"""


# ---------------------------------------------------------------------
# weekly click -> purchase funnel trend
# ---------------------------------------------------------------------


def q_funnel_weekly(spark, sf_dir):
    return funnel_weekly(
        _t(spark, sf_dir, "events"), step1="click", step2="purchase"
    )


ORACLE_FUNNEL_WEEKLY = """
WITH s1 AS (
  SELECT user_id, min(ts) AS fts FROM events
  WHERE event_type = 'click' GROUP BY 1
),
s1b AS (
  SELECT e.user_id, s1.fts, min(e.event_id) AS fid
  FROM events e JOIN s1
    ON e.user_id = s1.user_id AND e.ts = s1.fts
  WHERE e.event_type = 'click'
  GROUP BY 1, 2
),
c AS (
  SELECT s.user_id,
         max(CASE WHEN e.ts > s.fts
                    OR (e.ts = s.fts AND e.event_id > s.fid)
                  THEN 1 ELSE 0 END) AS conv
  FROM s1b s LEFT JOIN events e
    ON e.user_id = s.user_id AND e.event_type = 'purchase'
  GROUP BY 1
),
wk AS (
  SELECT CAST(s.fts AS DATE)
           - CAST(((CAST(s.fts AS DATE) - DATE '1970-01-05') % 7 + 7) % 7
                  AS INTEGER) AS week_start,
         c.conv
  FROM s1b s JOIN c USING (user_id)
)
SELECT week_start,
       CAST(count(*) AS BIGINT) AS n_cohort,
       CAST(sum(conv) AS BIGINT) AS n_converted,
       round(CAST(sum(conv) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
         AS cvr
FROM wk GROUP BY 1
ORDER BY week_start
"""


# ---------------------------------------------------------------------
# day-of-week revenue seasonality
# ---------------------------------------------------------------------


def q_dow_index(spark, sf_dir):
    return dow_index(
        _t(spark, sf_dir, "orders"),
        ts_col="o_orderdate",
        value_col="o_totalprice",
    )


ORACLE_DOW_INDEX = """
WITH cen AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         CAST(sum(CAST(round(o_totalprice * CAST(100 AS DOUBLE))
                       AS BIGINT)) AS BIGINT) AS s
  FROM orders WHERE o_totalprice IS NOT NULL GROUP BY 1
),
b AS (SELECT min(d) AS lo, max(d) AS hi FROM cen),
grid AS (
  SELECT g.day, CAST(coalesce(cen.s, 0) AS BIGINT) AS s
  FROM (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE
          AS day FROM b) g
  LEFT JOIN cen ON g.day = cen.d
),
pd AS (
  SELECT CAST(((day - DATE '1970-01-05') % 7 + 7) % 7 AS INTEGER) AS dow,
         CAST(count(*) AS BIGINT) AS n_days,
         CAST(sum(s) AS BIGINT) AS ds
  FROM grid GROUP BY 1
),
tot AS (
  SELECT CAST(sum(n_days) AS BIGINT) AS nd,
         CAST(sum(ds) AS BIGINT) AS ts
  FROM pd
)
SELECT dow, n_days,
       round(CAST(ds AS DOUBLE)
             / (CAST(n_days AS DOUBLE) * CAST(100 AS DOUBLE)), 6)
         AS day_value_mean,
       CASE WHEN ts > 0 THEN
         round(CAST(CAST(ds AS HUGEINT) * CAST(nd AS HUGEINT) AS DOUBLE)
               / CAST(CAST(n_days AS HUGEINT) * CAST(ts AS HUGEINT)
                      AS DOUBLE), 6)
       END AS index
FROM pd CROSS JOIN tot
ORDER BY dow
"""


# =====================================================================
# Per-state next-event top-k lookup (operators/transitions.py
# ``next_event_top`` — the transition census ranked within from_type).
# =====================================================================


# ---------------------------------------------------------------------
# next-event top-3 per state
# ---------------------------------------------------------------------


def q_next_event_top(spark, sf_dir):
    return next_event_top(_t(spark, sf_dir, "events"), k=3)


ORACLE_NEXT_EVENT_TOP = f"""
WITH trans AS ({ORACLE_EVENT_TRANSITIONS}),
r AS (
  SELECT from_type, to_type, n, p,
         CAST(row_number() OVER (
           PARTITION BY from_type ORDER BY n DESC, to_type
         ) AS INTEGER) AS rank
  FROM trans
)
SELECT from_type, rank, to_type, n, p
FROM r WHERE rank <= 3
ORDER BY from_type, rank
"""


# ---------------------------------------------------------------------
# per-user Herfindahl concentration
# ---------------------------------------------------------------------


def q_user_hhi(spark, sf_dir):
    return user_hhi(_t(spark, sf_dir, "events"))


ORACLE_USER_HHI = """
WITH cen AS (
  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
agg AS (
  SELECT user_id,
         CAST(sum(n) AS BIGINT) AS n_events,
         CAST(count(*) AS BIGINT) AS n_types,
         sum(CAST(n AS HUGEINT) * CAST(n AS HUGEINT)) AS s2
  FROM cen GROUP BY 1
)
SELECT user_id, n_events, n_types,
       round(CAST(s2 AS DOUBLE)
             / CAST(CAST(n_events AS HUGEINT)
                    * CAST(n_events AS HUGEINT) AS DOUBLE), 6) AS hhi
FROM agg
ORDER BY user_id
"""


# =====================================================================
# Weekly type-mix drift (operators/trending.py ``type_mix_drift`` — per-
# week total variation vs the overall distribution, exact integer cross
# products).
# =====================================================================


_WK = (
    "CAST({c} AS DATE) - CAST(((CAST({c} AS DATE) - DATE '1970-01-05')"
    " % 7 + 7) % 7 AS INTEGER)"
)


# ---------------------------------------------------------------------
# weekly type-mix drift
# ---------------------------------------------------------------------


def q_type_mix_drift(spark, sf_dir):
    return type_mix_drift(_t(spark, sf_dir, "events"))


ORACLE_TYPE_MIX_DRIFT = f"""
WITH cen AS (
  SELECT {_WK.format(c='ts')} AS wk,
         event_type AS t, CAST(count(*) AS BIGINT) AS nwt
  FROM events GROUP BY 1, 2
),
wtot AS (SELECT wk, CAST(sum(nwt) AS BIGINT) AS nw FROM cen GROUP BY 1),
ttot AS (SELECT t, CAST(sum(nwt) AS BIGINT) AS nt FROM cen GROUP BY 1),
gtot AS (SELECT CAST(sum(nw) AS BIGINT) AS n FROM wtot),
grid AS (
  SELECT w.wk, w.nw, tt.nt, CAST(coalesce(c.nwt, 0) AS BIGINT) AS nwt
  FROM wtot w CROSS JOIN ttot tt
  LEFT JOIN cen c ON c.wk = w.wk AND c.t = tt.t
),
s AS (
  SELECT wk, nw,
         sum(abs(CAST(nwt AS HUGEINT) * CAST(n AS HUGEINT)
                 - CAST(nt AS HUGEINT) * CAST(nw AS HUGEINT))) AS sm,
         max(n) AS n
  FROM grid CROSS JOIN gtot GROUP BY 1, 2
)
SELECT wk AS week_start, nw AS n_events,
       round(CAST(0.5 AS DOUBLE) * CAST(sm AS DOUBLE)
             / (CAST(nw AS DOUBLE) * CAST(n AS DOUBLE)), 6) AS tv_dist
FROM s ORDER BY week_start
"""


# =====================================================================
# Day-of-week x hour usage heatmap with independence lift
# (operators/engagement.py ``heatmap_lift`` — exact cross-product lift
# over the <= 168-cell census).
# =====================================================================


# ---------------------------------------------------------------------
# dow x hour heatmap lift
# ---------------------------------------------------------------------


def q_heatmap_lift(spark, sf_dir):
    return heatmap_lift(_t(spark, sf_dir, "events"))


ORACLE_HEATMAP_LIFT = """
WITH cen AS (
  SELECT CAST(((CAST(ts AS DATE) - DATE '1970-01-05') % 7 + 7) % 7
              AS INTEGER) AS dow,
         CAST(hour(ts) AS INTEGER) AS hour,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
md AS (SELECT dow, CAST(sum(n) AS BIGINT) AS nd FROM cen GROUP BY 1),
mh AS (SELECT hour, CAST(sum(n) AS BIGINT) AS nh FROM cen GROUP BY 1),
tot AS (SELECT CAST(sum(nd) AS BIGINT) AS nn FROM md)
SELECT c.dow, c.hour, c.n,
       round(CAST(CAST(c.n AS HUGEINT) * CAST(nn AS HUGEINT) AS DOUBLE)
             / CAST(CAST(nd AS HUGEINT) * CAST(nh AS HUGEINT) AS DOUBLE),
             6) AS lift
FROM cen c JOIN md USING (dow) JOIN mh USING (hour) CROSS JOIN tot
ORDER BY c.dow, c.hour
"""


REGISTRY = {
    "event_funnel": (q_event_funnel, ORACLE_EVENT_FUNNEL),
    "retention_cohorts": (q_retention_cohorts, ORACLE_RETENTION_COHORTS),
    "event_props": (q_event_props, ORACLE_EVENT_PROPS),
    "event_transitions": (q_event_transitions, ORACLE_EVENT_TRANSITIONS),
    "rate_anomalies": (q_rate_anomalies, ORACLE_RATE_ANOMALIES),
    "asof_attribution": (q_asof_attribution, ORACLE_ASOF_ATTRIBUTION),
    "event_paths": (q_event_paths, ORACLE_EVENT_PATHS),
    "sessionize_events": (q_sessionize_events, ORACLE_SESSIONIZE_EVENTS),
    "interevent_stats": (q_interevent_stats, ORACLE_INTEREVENT),
    "multi_touch": (q_multi_touch, ORACLE_MULTI_TOUCH),
    "session_funnel": (q_session_funnel, ORACLE_SESSION_FUNNEL),
    "funnel_latency": (q_funnel_latency, ORACLE_FUNNEL_LATENCY),
    "active_users": (q_active_users, ORACLE_ACTIVE_USERS),
    "activity_histogram": (q_activity_histogram, ORACLE_ACTIVITY_HISTOGRAM),
    "rfm_segments": (q_rfm_segments, ORACLE_RFM_SEGMENTS),
    "cusum_alarms": (q_cusum_alarms, ORACLE_CUSUM_ALARMS),
    "type_correlations": (q_type_correlations, ORACLE_TYPE_CORRELATIONS),
    "seasonal_anomalies": (q_seasonal_anomalies, ORACLE_SEASONAL),
    "interval_join": (q_interval_join, ORACLE_INTERVAL_JOIN),
    "user_streaks": (q_user_streaks, ORACLE_USER_STREAKS),
    "ewma_daily": (q_ewma_daily, ORACLE_EWMA_DAILY),
    "concurrency_days": (q_concurrency_days, ORACLE_CONCURRENCY_DAYS),
    "ccf_daily": (q_ccf_daily, ORACLE_CCF_DAILY),
    "transition_entropy": (q_transition_entropy, ORACLE_TRANSITION_ENTROPY),
    "state_occupancy": (q_state_occupancy, ORACLE_STATE_OCCUPANCY),
    "user_growth": (q_user_growth, ORACLE_USER_GROWTH),
    "trending_ranks": (q_trending_ranks, ORACLE_TRENDING_RANKS),
    "session_summary": (q_session_summary, ORACLE_SESSION_SUMMARY),
    "churn_labels": (q_churn_labels, ORACLE_CHURN_LABELS),
    "funnel_weekly": (q_funnel_weekly, ORACLE_FUNNEL_WEEKLY),
    "dow_index": (q_dow_index, ORACLE_DOW_INDEX),
    "next_event_top": (q_next_event_top, ORACLE_NEXT_EVENT_TOP),
    "user_hhi": (q_user_hhi, ORACLE_USER_HHI),
    "type_mix_drift": (q_type_mix_drift, ORACLE_TYPE_MIX_DRIFT),
    "heatmap_lift": (q_heatmap_lift, ORACLE_HEATMAP_LIFT),
}
