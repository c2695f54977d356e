"""Statistical and business-analytics queries.

Classical tests and robust statistics, experiment measurement (A/B,
difference-in-differences, CUPED, stratified ATE, quantile effects),
classifier evaluation (AUC, calibration, gains, Brier, ECE, confusion
matrices), star-schema OLAP over the TPC-H-style tables, data-quality
audits (profiles, expectations, FK orphans, reconciliation,
freshness), graph analytics, sampling and physical-layout primitives.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from grass_spark.operators.abtest import (
    ab_test,
    assign_variant,
    conversion_ci,
    cuped_means,
    did_estimate,
    quantile_effects,
    stratified_ate,
)
from grass_spark.operators.acf import acf_daily
from grass_spark.operators.agreement import cohens_kappa
from grass_spark.operators.audit import k_anonymity, skew_report
from grass_spark.operators.basket import association_rules
from grass_spark.operators.cdc import apply_cdc
from grass_spark.operators.compaction import compaction_plan
from grass_spark.operators.dedup import normalize_text
from grass_spark.operators.divergence import psi_bins
from grass_spark.operators.expectations import expect, validate
from grass_spark.operators.graph import cooccurrence_edges, triangle_stats
from grass_spark.operators.inference import (
    poisson_bootstrap,
    poisson_cdf_thresholds,
    welch_ttest,
)
from grass_spark.operators.integrity import fk_orphans
from grass_spark.operators.ltv import cohort_ltv, repeat_orders
from grass_spark.operators.mleval import (
    auc_eval,
    brier_score,
    calibration_bins,
    class_metrics,
    confusion_matrix,
    ece_score,
    gains_table,
    pr_thresholds,
)
from grass_spark.operators.olap import cube_report, rollup_report, share_shift
from grass_spark.operators.pagerank import pagerank
from grass_spark.operators.pareto import abc_analysis, gini_coefficient
from grass_spark.operators.profile import (
    freshness_report,
    join_cardinality,
    profile_table,
    value_histogram,
)
from grass_spark.operators.reconcile import reconcile_totals
from grass_spark.operators.robust import mad_outliers, quantile_rank, trimmed_stats
from grass_spark.operators.sampling import clip_report, ess_report, weighted_sample
from grass_spark.operators.scd import scd2_join
from grass_spark.operators.seasonal import weekly_quantiles
from grass_spark.operators.skewjoin import skew_join
from grass_spark.operators.starjoin import (
    customer_order_dist,
    order_priority_counts,
    promo_share,
    revenue_by_nation,
    top_suppliers,
)
from grass_spark.operators.stats import (
    benford_digits,
    chi_square,
    geometric_means,
    hill_tail_index,
    mann_whitney,
    spearman_corr,
)
from grass_spark.operators.survival import km_survival
from grass_spark.operators.trend import seasonal_naive_eval, theil_sen_daily
from grass_spark.operators.zorder import with_zorder
from grass_spark.queries.corpus import (
    ORACLE_CLASSIFIER,
    ORACLE_LANG_GUESS,
    q_lang_guess,
    q_quality_classifier,
)
from grass_spark.queries.events import _WK
from grass_spark.queries.temporal import _t


# ---------------------------------------------------------------------
# A/B test — sticky hash assignment, purchase conversion, pooled z
# ---------------------------------------------------------------------

def q_ab_test(spark, sf_dir):
    return ab_test(_t(spark, sf_dir, "events"))


# The z composes from exact integer counts in a fixed float order; the
# portable uniform is the shared first-8-md5-hex-digits recipe.  CAST
# every literal to DOUBLE — DuckDB's 1.0 is DECIMAL and diverges.
ORACLE_AB_TEST = """
WITH pu AS (
  SELECT user_id,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
  FROM events GROUP BY 1
),
v AS (
  SELECT conv,
         CASE WHEN CAST('0x' || substr(
                      md5('ab:' || CAST(user_id AS VARCHAR)), 1, 8)
                    AS UBIGINT) / CAST(4294967296 AS DOUBLE) < 0.5
              THEN 'B' ELSE 'A' END AS variant
  FROM pu
),
a AS (
  SELECT
    CAST(sum(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
    CAST(sum(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
    CAST(sum(CASE WHEN variant = 'A' THEN conv ELSE 0 END) AS BIGINT)
      AS conv_a,
    CAST(sum(CASE WHEN variant = 'B' THEN conv ELSE 0 END) AS BIGINT)
      AS conv_b
  FROM v
),
b AS (
  SELECT *,
         CAST(conv_a AS DOUBLE) / n_a AS p_a,
         CAST(conv_b AS DOUBLE) / n_b AS p_b,
         CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b) AS pool
  FROM a
),
c AS (
  SELECT *,
         pool * (CAST(1 AS DOUBLE) - pool)
              * (CAST(1 AS DOUBLE) / n_a + CAST(1 AS DOUBLE) / n_b) AS se2
  FROM b
)
SELECT n_a, n_b, conv_a, conv_b,
       CASE WHEN n_a > 0 THEN round(p_a, 6) END AS rate_a,
       CASE WHEN n_b > 0 THEN round(p_b, 6) END AS rate_b,
       CASE WHEN n_a > 0 AND n_b > 0 THEN round(p_b - p_a, 6) END AS lift,
       CASE WHEN n_a > 0 AND n_b > 0 AND se2 > 0
            THEN round((p_b - p_a) / sqrt(se2), 6) END AS z
FROM c
"""


# =====================================================================
# Pipeline-audit analytics — market-basket association rules
# (operators/basket.py) and key-skew diagnostics (operators/audit.py).
# =====================================================================


# ---------------------------------------------------------------------
# association rules — user-day baskets of event types
# ---------------------------------------------------------------------


def q_association_rules(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return association_rules(ev)


ORACLE_ASSOCIATION_RULES = """
WITH items AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day, event_type AS i
  FROM events
),
nb AS (
  SELECT CAST(count(*) AS BIGINT) AS n
  FROM (SELECT DISTINCT user_id, day FROM items)
),
ic AS (SELECT i, CAST(count(*) AS BIGINT) AS c FROM items GROUP BY i),
pc AS (
  SELECT a.i AS antecedent, b.i AS consequent,
         CAST(count(*) AS BIGINT) AS pair_count
  FROM items a
  JOIN items b ON a.user_id = b.user_id AND a.day = b.day AND a.i <> b.i
  GROUP BY 1, 2
)
SELECT p.antecedent, p.consequent, p.pair_count,
       round(CAST(p.pair_count AS DOUBLE) / CAST(nb.n AS DOUBLE), 6)
         AS support,
       round(CAST(p.pair_count AS DOUBLE) / CAST(ca.c AS DOUBLE), 6)
         AS confidence,
       round(CAST(p.pair_count AS DOUBLE) * CAST(nb.n AS DOUBLE)
             / (CAST(ca.c AS DOUBLE) * CAST(cb.c AS DOUBLE)), 6) AS lift
FROM pc p
JOIN ic ca ON p.antecedent = ca.i
JOIN ic cb ON p.consequent = cb.i
CROSS JOIN nb
ORDER BY p.antecedent, p.consequent
"""


# ---------------------------------------------------------------------
# skew report — word-frequency distribution of the document corpus
# ---------------------------------------------------------------------


def q_skew_report(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(
            F.split(normalize_text(F.col("text")), " ")
        ).alias("word")
    )
    return skew_report(words, "word")


ORACLE_SKEW_REPORT = """
WITH words AS (
  SELECT unnest(string_split(
         regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS word
  FROM documents
),
census AS (SELECT word, CAST(count(*) AS BIGINT) AS f FROM words GROUP BY word),
c2 AS (SELECT f, CAST(count(*) AS BIGINT) AS c FROM census GROUP BY f),
staged AS (
  SELECT f, c,
         sum(c) OVER (ORDER BY f
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         sum(c) OVER () AS n
  FROM c2
),
st2 AS (
  SELECT *, cum - c AS r0,
         CASE WHEN c % 2 = 0 THEN CAST(c // 2 AS HUGEINT) * (c + 1)
              ELSE CAST(c AS HUGEINT) * ((c + 1) // 2) END AS tri
  FROM staged
),
st3 AS (
  SELECT *, CAST(f AS HUGEINT) * (CAST(c AS HUGEINT) * r0 + tri) AS rf
  FROM st2
),
agg AS (
  SELECT CAST(sum(CAST(f AS HUGEINT) * c) AS BIGINT) AS n_rows,
         CAST(sum(c) AS BIGINT) AS n_keys,
         max(f) AS max_freq,
         min(CASE WHEN cum >= (1 * n + 1) // 2 THEN f END) AS p50_freq,
         min(CASE WHEN cum >= (9 * n + 9) // 10 THEN f END) AS p90_freq,
         min(CASE WHEN cum >= (99 * n + 99) // 100 THEN f END) AS p99_freq,
         CAST(sum(rf) AS DOUBLE) AS srf
  FROM st3
)
SELECT n_rows, n_keys, max_freq, p50_freq, p90_freq, p99_freq,
       round(CAST(max_freq AS DOUBLE) / CAST(n_rows AS DOUBLE), 6)
         AS top_share,
       round(CAST(2 AS DOUBLE) * srf
             / (CAST(n_keys AS DOUBLE) * CAST(n_rows AS DOUBLE))
             - (CAST(n_keys AS DOUBLE) + CAST(1 AS DOUBLE))
               / CAST(n_keys AS DOUBLE), 6) AS gini
FROM agg
"""


# =====================================================================
# Robust analytics — median/MAD outliers (operators/robust.py),
# Kaplan–Meier retention survival (operators/survival.py) and daily-
# series autocorrelation (operators/acf.py).
# =====================================================================


# ---------------------------------------------------------------------
# median/MAD outliers — per-source robust length gate
# ---------------------------------------------------------------------


def q_mad_outliers(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").select("source", "n_chars")
    return mad_outliers(docs, value_col="n_chars", group_col="source", k=3.0)


ORACLE_MAD = """
WITH med AS (
  SELECT source, median(n_chars) AS med, count(*) AS n
  FROM documents GROUP BY 1
),
dev AS (
  SELECT d.source, abs(CAST(d.n_chars AS DOUBLE) - m.med) AS dv
  FROM documents d JOIN med m USING (source)
),
mad AS (SELECT source, median(dv) AS mad FROM dev GROUP BY 1),
fl AS (
  SELECT dev.source,
         round(CAST(3.0 AS DOUBLE) * CAST(1.4826 AS DOUBLE) * mad.mad, 6)
           AS cutoff,
         sum(CASE WHEN round(dv, 6) >
                  round(CAST(3.0 AS DOUBLE) * CAST(1.4826 AS DOUBLE)
                        * mad.mad, 6)
                  THEN 1 ELSE 0 END) AS n_outliers,
         count(*) AS n2
  FROM dev JOIN mad USING (source)
  GROUP BY 1, 2
)
SELECT med.source, CAST(med.n AS BIGINT) AS n,
       round(med.med, 6) AS med, round(mad.mad, 6) AS mad, fl.cutoff,
       CAST(fl.n_outliers AS BIGINT) AS n_outliers,
       round(CAST(fl.n_outliers AS DOUBLE) / CAST(fl.n2 AS DOUBLE), 6)
         AS outlier_frac
FROM med JOIN mad USING (source) JOIN fl USING (source)
ORDER BY med.source
"""


# ---------------------------------------------------------------------
# Kaplan-Meier retention survival — 7-day churn gap
# ---------------------------------------------------------------------


def q_km_survival(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").select("user_id", "ts")
    return km_survival(ev, churn_gap_days=7)


ORACLE_KM = """
WITH pu AS (
  SELECT user_id, min(ts) AS f, max(ts) AS l FROM events GROUP BY 1
),
mx AS (SELECT max(ts) AS maxts FROM events),
lab AS (
  SELECT CAST(date_diff('day', CAST(f AS DATE), CAST(l AS DATE)) AS INT)
           AS lifetime_day,
         (l < maxts - INTERVAL 7 DAY) AS churned
  FROM pu CROSS JOIN mx
),
cen AS (
  SELECT lifetime_day,
         sum(CASE WHEN churned THEN 1 ELSE 0 END) AS n_churned,
         sum(CASE WHEN churned THEN 0 ELSE 1 END) AS n_censored
  FROM lab GROUP BY 1
),
st AS (
  SELECT lifetime_day, n_churned, n_censored,
         sum(n_churned + n_censored) OVER ()
         - coalesce(sum(n_churned + n_censored) OVER (
             ORDER BY lifetime_day
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS n_at_risk
  FROM cen
),
st2 AS (
  SELECT *,
         sum(CASE WHEN n_churned < n_at_risk THEN
               round(ln(CAST(1 AS DOUBLE)
                        - CAST(n_churned AS DOUBLE)
                          / CAST(n_at_risk AS DOUBLE)), 6)
             END) OVER (ORDER BY lifetime_day
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cumln,
         max(CASE WHEN n_churned >= n_at_risk THEN 1 ELSE 0 END)
           OVER (ORDER BY lifetime_day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dead
  FROM st
)
SELECT lifetime_day, CAST(n_at_risk AS BIGINT) AS n_at_risk,
       CAST(n_churned AS BIGINT) AS n_churned,
       CAST(n_censored AS BIGINT) AS n_censored,
       CASE WHEN dead = 1 THEN CAST(0 AS DOUBLE)
            ELSE round(exp(coalesce(cumln, CAST(0 AS DOUBLE))), 6)
       END AS survival
FROM st2 ORDER BY lifetime_day
"""


# ---------------------------------------------------------------------
# daily-count autocorrelation — lags 1..7 over the gap-filled series
# ---------------------------------------------------------------------


def q_acf_daily(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").select("ts")
    return acf_daily(ev, max_lag=7)


ORACLE_ACF = """
WITH cen AS (
  SELECT CAST(ts AS DATE) AS day, count(*) AS c FROM events GROUP BY 1
),
bounds AS (SELECT min(day) AS lo, max(day) AS hi FROM cen),
spine AS (
  SELECT CAST(unnest(generate_series(CAST(lo AS TIMESTAMP),
                                     CAST(hi AS TIMESTAMP),
                                     INTERVAL 1 DAY)) AS DATE) AS day
  FROM bounds
),
ser AS (
  SELECT spine.day, coalesce(c, 0) AS x
  FROM spine LEFT JOIN cen USING (day)
),
sc AS (
  SELECT count(*) AS n, sum(x) AS s1,
         sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS s2
  FROM ser
),
lg AS (
  SELECT a.day, a.x AS xa, CAST(t.lag AS INT) AS lag
  FROM ser a, unnest(generate_series(1, 7)) AS t(lag)
),
pr AS (
  SELECT lg.lag, lg.xa, b.x AS xb
  FROM lg JOIN ser b ON b.day = lg.day + lg.lag
),
ag AS (
  SELECT lag, count(*) AS n_pairs,
         sum(CAST(xa AS HUGEINT) * CAST(xb AS HUGEINT)) AS sxy,
         sum(xa) AS sxa, sum(xb) AS sxb
  FROM pr GROUP BY 1
)
SELECT CAST(ag.lag AS INT) AS lag, CAST(ag.n_pairs AS BIGINT) AS n_pairs,
       CASE WHEN (CAST(sc.s2 AS DOUBLE)
                  - CAST(sc.n AS DOUBLE)
                    * ((CAST(sc.s1 AS DOUBLE) / CAST(sc.n AS DOUBLE))
                       * (CAST(sc.s1 AS DOUBLE) / CAST(sc.n AS DOUBLE))))
                 <> CAST(0 AS DOUBLE)
       THEN round((CAST(ag.sxy AS DOUBLE)
                   - (CAST(sc.s1 AS DOUBLE) / CAST(sc.n AS DOUBLE))
                     * (CAST(ag.sxa AS DOUBLE) + CAST(ag.sxb AS DOUBLE))
                   + CAST(ag.n_pairs AS DOUBLE)
                     * ((CAST(sc.s1 AS DOUBLE) / CAST(sc.n AS DOUBLE))
                        * (CAST(sc.s1 AS DOUBLE) / CAST(sc.n AS DOUBLE))))
                  / (CAST(sc.s2 AS DOUBLE)
                     - CAST(sc.n AS DOUBLE)
                       * ((CAST(sc.s1 AS DOUBLE) / CAST(sc.n AS DOUBLE))
                          * (CAST(sc.s1 AS DOUBLE) / CAST(sc.n AS DOUBLE)))),
                  6)
       END AS acf
FROM ag CROSS JOIN sc ORDER BY lag
"""


# ---------------------------------------------------------------------
# table profiler over events (value double excluded: Java vs C
# shortest-repr float rendering diverges — documented contract)
# ---------------------------------------------------------------------

_PROFILE_COLS = ["event_id", "event_type", "props", "ts", "user_id"]


def q_profile_events(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return profile_table(ev, columns=_PROFILE_COLS)


ORACLE_PROFILE = """
WITH stacked AS (
  SELECT 'event_id' AS "column", CAST(event_id AS VARCHAR) AS val
  FROM events
  UNION ALL SELECT 'event_type', event_type FROM events
  UNION ALL SELECT 'props', props FROM events
  UNION ALL SELECT 'ts', CAST(ts AS VARCHAR) FROM events
  UNION ALL SELECT 'user_id', CAST(user_id AS VARCHAR) FROM events
),
census AS (
  SELECT "column", val, count(*) AS c FROM stacked GROUP BY 1, 2
)
SELECT "column",
       CAST(sum(c) AS BIGINT) AS n_rows,
       CAST(coalesce(sum(CASE WHEN val IS NULL THEN c END), 0) AS BIGINT)
         AS n_nulls,
       CAST(count(CASE WHEN val IS NOT NULL THEN 1 END) AS BIGINT)
         AS n_distinct,
       min(val) AS min_val,
       max(val) AS max_val
FROM census GROUP BY 1 ORDER BY 1
"""


# =====================================================================
# Census-exact classical tests (operators/stats.py) — chi-square
# independence of event_type × day-of-week, and a Mann-Whitney U
# location test between two event halves.
# =====================================================================


# ---------------------------------------------------------------------
# chi-square independence: event_type x portable day-of-week
# ---------------------------------------------------------------------


def q_chi_square(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.pmod(
            F.datediff(F.col("ts").cast("date"), F.lit("1970-01-05").cast("date")),
            F.lit(7),
        ).alias("dow"),
    )
    return chi_square(ev, "event_type", "dow")


ORACLE_CHI_SQUARE = """
WITH base AS (
  SELECT event_type AS a,
         CAST(((CAST(ts AS DATE) - DATE '1970-01-05') % 7 + 7) % 7 AS INT)
           AS b
  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
),
cen AS (SELECT a, b, count(*) AS o FROM base GROUP BY 1, 2),
ma AS (SELECT a, sum(o) AS na FROM cen GROUP BY 1),
mb AS (SELECT b, sum(o) AS nb FROM cen GROUP BY 1),
tot AS (SELECT sum(o) AS n FROM cen),
grid AS (
  SELECT ma.a, mb.b, ma.na, mb.nb, coalesce(cen.o, 0) AS o, tot.n
  FROM ma CROSS JOIN mb
  LEFT JOIN cen ON cen.a = ma.a AND cen.b = mb.b
  CROSS JOIN tot
),
terms AS (
  SELECT n, a, b,
         round((CAST(o AS DOUBLE)
                - (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))
                  / CAST(n AS DOUBLE))
               * (CAST(o AS DOUBLE)
                  - (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))
                    / CAST(n AS DOUBLE))
               / ((CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))
                  / CAST(n AS DOUBLE)), 6) AS term
  FROM grid
),
agg AS (
  SELECT CAST(max(n) AS BIGINT) AS n,
         CAST(count(DISTINCT a) AS BIGINT) AS card_a,
         CAST(count(DISTINCT b) AS BIGINT) AS card_b,
         round(sum(term), 6) AS chi2
  FROM terms
)
SELECT n, card_a, card_b,
       CAST((card_a - 1) * (card_b - 1) AS BIGINT) AS dof, chi2,
       CASE WHEN least(card_a, card_b) - 1 > 0 THEN
         round(sqrt(chi2 / (CAST(n AS DOUBLE)
                            * CAST(least(card_a, card_b) - 1 AS DOUBLE))),
               6)
       END AS cramers_v
FROM agg
"""


# ---------------------------------------------------------------------
# Mann-Whitney U: event value, even vs odd event ids
# ---------------------------------------------------------------------


def q_mann_whitney(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").select("event_id", "value")
    a = ev.where(F.col("event_id") % 2 == 0).select("value")
    b = ev.where(F.col("event_id") % 2 == 1).select("value")
    return mann_whitney(a, b, value_col="value")


ORACLE_MANN_WHITNEY = """
WITH va AS (
  SELECT value AS v FROM events
  WHERE event_id % 2 = 0 AND value IS NOT NULL
),
vb AS (
  SELECT value AS v FROM events
  WHERE event_id % 2 = 1 AND value IS NOT NULL
),
ca AS (SELECT v, count(*) AS ca FROM va GROUP BY 1),
cb AS (SELECT v, count(*) AS cb FROM vb GROUP BY 1),
j AS (
  SELECT v, coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb
  FROM ca FULL OUTER JOIN cb USING (v)
),
st AS (
  SELECT v, ca, cb, ca + cb AS t,
         coalesce(sum(ca + cb) OVER (
           ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           0) AS prev
  FROM j
),
agg AS (
  SELECT CAST(sum(ca) AS BIGINT) AS n_a, CAST(sum(cb) AS BIGINT) AS n_b,
         sum(CAST(ca AS HUGEINT)
             * CAST(2 * prev + t + 1 AS HUGEINT)) AS r2a,
         sum(CAST(t AS HUGEINT) * CAST(t AS HUGEINT) * CAST(t AS HUGEINT)
             - CAST(t AS HUGEINT)) AS ties
  FROM st
),
u AS (
  SELECT n_a, n_b, ties,
         r2a - CAST(n_a AS HUGEINT) * (CAST(n_a AS HUGEINT) + 1) AS u2a
  FROM agg
),
u2 AS (
  SELECT n_a, n_b, ties, u2a,
         2 * CAST(n_a AS HUGEINT) * CAST(n_b AS HUGEINT) - u2a AS u2b
  FROM u
)
SELECT n_a, n_b,
       CAST(u2a AS DOUBLE) / CAST(2 AS DOUBLE) AS u_a,
       CAST(u2b AS DOUBLE) / CAST(2 AS DOUBLE) AS u_b,
       CASE WHEN round((CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
                        / CAST(12 AS DOUBLE))
                       * ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)
                           + CAST(1 AS DOUBLE))
                          - CAST(ties AS DOUBLE)
                            / ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))
                               * (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)
                                  - CAST(1 AS DOUBLE)))), 6) > 0
       THEN round((CAST(u2a AS DOUBLE)
                   - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
                  / (CAST(2 AS DOUBLE)
                     * sqrt((CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
                             / CAST(12 AS DOUBLE))
                            * ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)
                                + CAST(1 AS DOUBLE))
                               - CAST(ties AS DOUBLE)
                                 / ((CAST(n_a AS DOUBLE)
                                     + CAST(n_b AS DOUBLE))
                                    * (CAST(n_a AS DOUBLE)
                                       + CAST(n_b AS DOUBLE)
                                       - CAST(1 AS DOUBLE)))))), 6)
       END AS z
FROM u2
"""


# ---------------------------------------------------------------------
# quantile rank — per-source length ECDF on every document
# ---------------------------------------------------------------------


def q_quantile_rank(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    return quantile_rank(docs).select(
        "doc_id", "source", "n_chars", "ecdf"
    ).orderBy("doc_id")


ORACLE_QUANTILE_RANK = """
WITH cen AS (
  SELECT source, n_chars, count(*) AS c FROM documents GROUP BY 1, 2
),
st AS (
  SELECT source, n_chars,
         sum(c) OVER (PARTITION BY source ORDER BY n_chars
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum,
         sum(c) OVER (PARTITION BY source) AS tot
  FROM cen
)
SELECT d.doc_id, d.source, d.n_chars,
       round(CAST(st.cum AS DOUBLE) / CAST(st.tot AS DOUBLE), 6) AS ecdf
FROM documents d JOIN st USING (source, n_chars)
ORDER BY d.doc_id
"""


# =====================================================================
# Rank correlation (operators/stats.py), PSI distribution drift
# (operators/divergence.py) and the Benford first-digit QC screen
# (operators/stats.py).
# =====================================================================


# portable day-of-week (0 = Monday) — the CLAUDE.md pmod anchor
def _dow(col):
    return F.pmod(
        F.datediff(col.cast("date"), F.lit("1970-01-05").cast("date")),
        F.lit(7),
    )


# ---------------------------------------------------------------------
# Spearman rank correlation: hour-of-day vs event value (tie-stress —
# only 24 distinct x values)
# ---------------------------------------------------------------------


def q_spearman(spark, sf_dir):
    ev = (
        _t(spark, sf_dir, "events")
        .where(F.col("ts").isNotNull())
        .select(
            F.hour("ts").cast("long").alias("x"),
            F.col("value").alias("y"),
        )
    )
    return spearman_corr(ev, "x", "y")


ORACLE_SPEARMAN = """
WITH base AS (
  SELECT CAST(hour(ts) AS BIGINT) AS x, value AS y
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
),
cx AS (SELECT x, count(*) AS c FROM base GROUP BY 1),
rx AS (
  SELECT x,
         2 * coalesce(sum(c) OVER (
           ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           0) + c + 1 AS r2x
  FROM cx
),
cy AS (SELECT y, count(*) AS c FROM base GROUP BY 1),
ry AS (
  SELECT y,
         2 * coalesce(sum(c) OVER (
           ORDER BY y ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           0) + c + 1 AS r2y
  FROM cy
),
rk AS (
  SELECT CAST(r2x AS HUGEINT) AS r2x, CAST(r2y AS HUGEINT) AS r2y
  FROM base JOIN rx USING (x) JOIN ry USING (y)
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(r2x) AS DOUBLE) AS sx,
         CAST(sum(r2y) AS DOUBLE) AS sy,
         CAST(sum(r2x * r2x) AS DOUBLE) AS sxx,
         CAST(sum(r2y * r2y) AS DOUBLE) AS syy,
         CAST(sum(r2x * r2y) AS DOUBLE) AS sxy
  FROM rk
)
SELECT n,
       CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx > 0
             AND CAST(n AS DOUBLE) * syy - sy * sy > 0
       THEN round((CAST(n AS DOUBLE) * sxy - sx * sy)
                  / sqrt((CAST(n AS DOUBLE) * sxx - sx * sx)
                         * (CAST(n AS DOUBLE) * syy - sy * sy)), 6)
       END AS rho
FROM agg
"""


# ---------------------------------------------------------------------
# PSI drift: weekday vs weekend event-value distributions, 10
# reference-quantile buckets
# ---------------------------------------------------------------------


def q_psi_drift(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").where(
        F.col("value").isNotNull() & F.col("ts").isNotNull()
    )
    ref = ev.where(_dow(F.col("ts")) < 5).select("value")
    cur = ev.where(_dow(F.col("ts")) >= 5).select("value")
    return psi_bins(ref, cur, value_col="value", n_bins=10)


ORACLE_PSI_DRIFT = """
WITH ev AS (
  SELECT value AS v,
         ((CAST(ts AS DATE) - DATE '1970-01-05') % 7 + 7) % 7 AS dw
  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
),
cr AS (SELECT v, count(*) AS cr FROM ev WHERE dw < 5 GROUP BY 1),
cc AS (SELECT v, count(*) AS cc FROM ev WHERE dw >= 5 GROUP BY 1),
j AS (
  SELECT v, coalesce(cr, 0) AS cr, coalesce(cc, 0) AS cc
  FROM cr FULL OUTER JOIN cc USING (v)
),
st AS (
  SELECT cr, cc,
         coalesce(sum(cr) OVER (
           ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           0) AS prev,
         sum(cr) OVER () AS nref, sum(cc) OVER () AS ncur
  FROM j
),
bk AS (
  SELECT CAST(least(9, (10 * prev) // nref) AS INT) AS bucket,
         cr, cc, nref, ncur
  FROM st
),
bins AS (
  SELECT bucket, sum(cr) AS ref_n, sum(cc) AS cur_n,
         max(nref) AS nref, max(ncur) AS ncur
  FROM bk GROUP BY 1
),
tot AS (SELECT max(nref) AS nref, max(ncur) AS ncur FROM bins),
grid AS (
  SELECT CAST(unnest(generate_series(0, 9)) AS INT) AS bucket,
         nref, ncur
  FROM tot
),
dense AS (
  SELECT g.bucket, coalesce(b.ref_n, 0) AS ref_n,
         coalesce(b.cur_n, 0) AS cur_n, g.nref, g.ncur
  FROM grid g LEFT JOIN bins b USING (bucket)
)
SELECT bucket, CAST(ref_n AS BIGINT) AS ref_n,
       CAST(cur_n AS BIGINT) AS cur_n,
       round((CAST(ref_n AS DOUBLE) + 0.5)
             / (CAST(nref AS DOUBLE) + 5.0), 6) AS ref_frac,
       round((CAST(cur_n AS DOUBLE) + 0.5)
             / (CAST(ncur AS DOUBLE) + 5.0), 6) AS cur_frac,
       round(((CAST(cur_n AS DOUBLE) + 0.5)
                / (CAST(ncur AS DOUBLE) + 5.0)
              - (CAST(ref_n AS DOUBLE) + 0.5)
                / (CAST(nref AS DOUBLE) + 5.0))
             * ln(((CAST(cur_n AS DOUBLE) + 0.5)
                     / (CAST(ncur AS DOUBLE) + 5.0))
                  / ((CAST(ref_n AS DOUBLE) + 0.5)
                     / (CAST(nref AS DOUBLE) + 5.0))), 6) AS psi_term
FROM dense ORDER BY bucket
"""


# ---------------------------------------------------------------------
# Benford first-digit screen over event values
# ---------------------------------------------------------------------


def q_benford(spark, sf_dir):
    return benford_digits(_t(spark, sf_dir, "events"), value_col="value")


ORACLE_BENFORD = """
WITH c AS (
  SELECT CAST(round(abs(value) * 100) AS BIGINT) AS cents
  FROM events WHERE value IS NOT NULL
),
d AS (
  SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS INT) AS digit
  FROM c WHERE cents > 0
),
cen AS (SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1),
t AS (SELECT digit, n, sum(n) OVER () AS tot FROM cen)
SELECT digit, n,
       round(CAST(n AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS p_obs,
       round(log10(CAST(1 AS DOUBLE)
                   + CAST(1 AS DOUBLE) / CAST(digit AS DOUBLE)), 6)
         AS p_benford,
       round(abs(round(CAST(n AS DOUBLE) / CAST(tot AS DOUBLE), 6)
                 - round(log10(CAST(1 AS DOUBLE)
                               + CAST(1 AS DOUBLE)
                                 / CAST(digit AS DOUBLE)), 6)), 6)
         AS abs_dev
FROM t ORDER BY digit
"""


# =====================================================================
# Co-occurrence graph analytics (operators/graph.py) over the part-per-
# order bipartite relation.
# =====================================================================


_MAX_GROUP = 16

#: shared oracle chain: distinct membership -> density cap -> pairs
_SQL_EDGES = f"""m AS (
  SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem
  WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
),
sz AS (
  SELECT g FROM (SELECT g, count(*) AS c FROM m GROUP BY 1)
  WHERE c <= {_MAX_GROUP}
),
k AS (SELECT m.g, m.i FROM m JOIN sz USING (g)),
e AS (
  SELECT a.i AS src, b.i AS dst, CAST(count(*) AS BIGINT) AS weight
  FROM k a JOIN k b ON a.g = b.g AND a.i < b.i
  GROUP BY 1, 2
)"""


# ---------------------------------------------------------------------
# co-purchase affinity edges: parts sharing >= 2 orders
# ---------------------------------------------------------------------


def q_cooccur_edges(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        cooccurrence_edges(
            li,
            group_col="l_orderkey",
            item_col="l_partkey",
            max_group=_MAX_GROUP,
            min_weight=2,
        )
        .orderBy("src", "dst")
    )


ORACLE_COOCCUR_EDGES = f"""
WITH {_SQL_EDGES}
SELECT src, dst, weight FROM e WHERE weight >= 2 ORDER BY src, dst
"""


# ---------------------------------------------------------------------
# triangle census of the full co-purchase graph
# ---------------------------------------------------------------------


def q_graph_triangles(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    edges = cooccurrence_edges(
        li,
        group_col="l_orderkey",
        item_col="l_partkey",
        max_group=_MAX_GROUP,
    )
    return triangle_stats(edges)


ORACLE_GRAPH_TRIANGLES = f"""
WITH {_SQL_EDGES},
canon AS (SELECT src AS a, dst AS b FROM e),
deg AS (
  SELECT v, count(*) AS d FROM (
    SELECT a AS v FROM canon UNION ALL SELECT b AS v FROM canon
  ) GROUP BY 1
),
tri AS (
  SELECT CAST(count(*) AS BIGINT) AS n_triangles
  FROM canon e1
  JOIN canon e2 ON e2.a = e1.b
  JOIN canon e3 ON e3.a = e1.a AND e3.b = e2.b
),
nd AS (
  SELECT CAST(count(*) AS BIGINT) AS n_nodes,
         CAST(sum(CAST((d * (d - 1)) // 2 AS HUGEINT)) AS BIGINT)
           AS n_wedges
  FROM deg
),
ne AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM canon)
SELECT n_nodes, n_edges, n_wedges, n_triangles,
       CASE WHEN n_wedges > 0 THEN
         round(CAST(3 AS DOUBLE) * CAST(n_triangles AS DOUBLE)
               / CAST(n_wedges AS DOUBLE), 6)
       END AS clustering
FROM nd, ne, tri
"""


# =====================================================================
# Census-exact trimmed and winsorized means (operators/robust.py) and
# the single-pass ROLLUP subtotal report (operators/olap.py).
# =====================================================================


# ---------------------------------------------------------------------
# trimmed / winsorized per-source length means (10% per tail)
# ---------------------------------------------------------------------


def q_trimmed_means(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return trimmed_stats(
        docs, value_col="n_chars", group_col="source", trim_frac=0.1
    )


ORACLE_TRIMMED_MEANS = """
WITH base AS (
  SELECT source, CAST(n_chars AS DOUBLE) AS v
  FROM documents WHERE n_chars IS NOT NULL
),
cen AS (SELECT source, v, count(*) AS c FROM base GROUP BY 1, 2),
st AS (
  SELECT source, v, c,
         sum(c) OVER (PARTITION BY source ORDER BY v
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum,
         sum(c) OVER (PARTITION BY source) AS n
  FROM cen
),
kk AS (
  SELECT *, CAST(floor(0.1 * CAST(n AS DOUBLE)) AS BIGINT) AS k FROM st
),
agg AS (
  SELECT source, CAST(max(n) AS BIGINT) AS n, max(k) AS k,
         sum(CAST(greatest(0, least(cum, n - k) - greatest(cum - c, k))
                  AS DOUBLE) * v) AS tsum,
         min(CASE WHEN cum >= k + 1 THEN v END) AS lo_cut,
         min(CASE WHEN cum >= n - k THEN v END) AS hi_cut
  FROM kk GROUP BY 1
)
SELECT source, n, k, n - 2 * k AS n_kept, lo_cut, hi_cut,
       CASE WHEN n - 2 * k > 0 THEN
         round(tsum / CAST(n - 2 * k AS DOUBLE), 6)
       END AS trimmed_mean,
       CASE WHEN n - 2 * k > 0 THEN
         round((tsum + CAST(k AS DOUBLE) * (lo_cut + hi_cut))
               / CAST(n AS DOUBLE), 6)
       END AS winsor_mean
FROM agg ORDER BY source
"""


# ---------------------------------------------------------------------
# single-pass ROLLUP: events by (event_type, portable dow)
# ---------------------------------------------------------------------


def q_rollup_report(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.pmod(
            F.datediff(F.col("ts").cast("date"), F.lit("1970-01-05").cast("date")),
            F.lit(7),
        ).alias("dow"),
        "value",
    )
    return rollup_report(ev, ["event_type", "dow"], value_col="value")


ORACLE_ROLLUP_REPORT = """
WITH base AS (
  SELECT event_type,
         CAST(((CAST(ts AS DATE) - DATE '1970-01-05') % 7 + 7) % 7 AS INT)
           AS dow,
         value
  FROM events
)
SELECT event_type, dow,
       CAST(grouping_id(event_type, dow) AS BIGINT) AS level,
       CAST(count(*) AS BIGINT) AS n,
       round(CAST(sum(coalesce(CAST(round(value * 100) AS BIGINT), 0))
                  AS DOUBLE) / CAST(100 AS DOUBLE), 2) AS value_sum
FROM base
GROUP BY ROLLUP(event_type, dow)
ORDER BY level, event_type ASC NULLS FIRST, dow ASC NULLS FIRST
"""


# ---------------------------------------------------------------------
# CUBE grouping-sets report (event_type x portable dow)
# ---------------------------------------------------------------------


def q_cube_report(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.pmod(
            F.datediff(
                F.col("ts").cast("date"), F.lit("1970-01-05").cast("date")
            ),
            F.lit(7),
        ).alias("dow"),
        "value",
    )
    return cube_report(ev, ["event_type", "dow"], value_col="value")


ORACLE_CUBE_REPORT = """
WITH base AS (
  SELECT event_type,
         CAST(((CAST(ts AS DATE) - DATE '1970-01-05') % 7 + 7) % 7 AS INT)
           AS dow,
         value
  FROM events
)
SELECT event_type, dow,
       CAST(grouping_id(event_type, dow) AS BIGINT) AS level,
       CAST(count(*) AS BIGINT) AS n,
       round(CAST(sum(coalesce(CAST(round(value * 100) AS BIGINT), 0))
                  AS DOUBLE) / CAST(100 AS DOUBLE), 2) AS value_sum
FROM base
GROUP BY CUBE(event_type, dow)
ORDER BY level, event_type ASC NULLS FIRST, dow ASC NULLS FIRST
"""


# =====================================================================
# Efraimidis–Spirakis weighted sampling (operators/sampling.py) and the
# k-anonymity privacy audit (operators/audit.py).
# =====================================================================


# ---------------------------------------------------------------------
# weighted sampling without replacement (exponential race, per source)
# ---------------------------------------------------------------------


def q_weighted_sample(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    return weighted_sample(
        docs, 10, weight_col="n_chars", group_col="source", salt="ws"
    ).orderBy("source", "doc_id")


ORACLE_WEIGHTED_SAMPLE = """
WITH keyed AS (
  SELECT doc_id, source, n_chars,
         round(
           -ln(CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                                        || ':ws'), 1, 8) AS UBIGINT)
                    AS DOUBLE) / 4294967296.0
               + 0.5 / 4294967296.0)
           / CAST(n_chars AS DOUBLE), 9) AS ekey
  FROM documents
  WHERE n_chars IS NOT NULL AND n_chars > 0
),
r AS (
  SELECT doc_id, source, n_chars,
         row_number() OVER (PARTITION BY source
                            ORDER BY ekey ASC, doc_id ASC) AS rn
  FROM keyed
)
SELECT doc_id, source, n_chars FROM r WHERE rn <= 10
ORDER BY source, doc_id
"""


# ---------------------------------------------------------------------
# k-anonymity audit over (event_type, dow, floor(value)) quasi-ids
# ---------------------------------------------------------------------


def q_k_anonymity(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.pmod(
            F.datediff(
                F.col("ts").cast("date"), F.lit("1970-01-05").cast("date")
            ),
            F.lit(7),
        ).alias("dow"),
        F.floor("value").cast("long").alias("vb"),
    )
    return k_anonymity(ev, ["event_type", "dow", "vb"], k=5)


ORACLE_K_ANONYMITY = """
WITH qi AS (
  SELECT event_type,
         CAST(((CAST(ts AS DATE) - DATE '1970-01-05') % 7 + 7) % 7 AS INT)
           AS dow,
         CAST(floor(value) AS BIGINT) AS vb
  FROM events
),
s AS (
  SELECT event_type, dow, vb, count(*) AS n
  FROM qi GROUP BY 1, 2, 3
)
SELECT CAST(5 AS INT) AS k,
       CAST(sum(n) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_groups,
       CAST(sum(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_risky_groups,
       CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
         AS n_risky_rows,
       CAST(min(n) AS BIGINT) AS min_group_n,
       round(CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS DOUBLE)
             / CAST(sum(n) AS DOUBLE), 6) AS risky_row_frac
FROM s
"""


# =====================================================================
# Classifier evaluation (operators/mleval.py — exact AUC, calibration
# bins, PR-threshold sweep).
#
# The eval queries grade a deterministic "length-quality" score (6-dp-
# rounded sigmoid of n_chars) against the ``lang == 'en'`` label — the
# score is a stand-in for any classifier output; exactness of the
# metrics, not the score, is what the oracles gate.
# =====================================================================


def _scored(spark, sf_dir):
    """(doc_id, score in [0,1], label 0/1) — sigmoid of n_chars,
    rounded BEFORE use (the classify.py lesson: JVM vs libm exp can
    differ in the last ulp; comparisons run on the rounded value)."""
    docs = _t(spark, sf_dir, "documents")
    s = F.round(
        F.lit(1.0)
        / (
            F.lit(1.0)
            + F.exp(
                -(F.col("n_chars").cast("double") - F.lit(500.0))
                / F.lit(200.0)
            )
        ),
        6,
    )
    return docs.select(
        "doc_id",
        s.alias("score"),
        (F.col("lang") == "en").cast("int").alias("label"),
    )


_SQL_SCORED = """
  SELECT doc_id,
         round(CAST(1 AS DOUBLE)
               / (CAST(1 AS DOUBLE)
                  + exp(-(CAST(n_chars AS DOUBLE) - CAST(500 AS DOUBLE))
                        / CAST(200 AS DOUBLE))), 6) AS score,
         CAST(lang = 'en' AS INT) AS label
  FROM documents
"""


# ---------------------------------------------------------------------
# exact ROC-AUC via tie-averaged rank sums
# ---------------------------------------------------------------------


def q_auc_eval(spark, sf_dir):
    return auc_eval(_scored(spark, sf_dir))


ORACLE_AUC_EVAL = f"""
WITH scored AS ({_SQL_SCORED}),
va AS (SELECT score AS v FROM scored WHERE label = 1),
vb AS (SELECT score AS v FROM scored WHERE label = 0),
ca AS (SELECT v, count(*) AS ca FROM va GROUP BY 1),
cb AS (SELECT v, count(*) AS cb FROM vb GROUP BY 1),
j AS (
  SELECT v, coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb
  FROM ca FULL OUTER JOIN cb USING (v)
),
st AS (
  SELECT v, ca, cb, ca + cb AS t,
         coalesce(sum(ca + cb) OVER (
           ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           0) AS prev
  FROM j
),
agg AS (
  SELECT CAST(sum(ca) AS BIGINT) AS n_a, CAST(sum(cb) AS BIGINT) AS n_b,
         sum(CAST(ca AS HUGEINT)
             * CAST(2 * prev + t + 1 AS HUGEINT)) AS r2a,
         sum(CAST(t AS HUGEINT) * CAST(t AS HUGEINT) * CAST(t AS HUGEINT)
             - CAST(t AS HUGEINT)) AS ties
  FROM st
),
u AS (
  SELECT n_a, n_b, ties,
         r2a - CAST(n_a AS HUGEINT) * (CAST(n_a AS HUGEINT) + 1) AS u2a
  FROM agg
)
SELECT n_a AS n_pos, n_b AS n_neg,
       CASE WHEN n_a > 0 AND n_b > 0 THEN
         round((CAST(u2a AS DOUBLE) / CAST(2 AS DOUBLE))
               / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)), 6)
       END AS auc,
       CASE WHEN round((CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
                        / CAST(12 AS DOUBLE))
                       * ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)
                           + CAST(1 AS DOUBLE))
                          - CAST(ties AS DOUBLE)
                            / ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))
                               * (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)
                                  - CAST(1 AS DOUBLE)))), 6) > 0
       THEN round((CAST(u2a AS DOUBLE)
                   - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
                  / (CAST(2 AS DOUBLE)
                     * sqrt((CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
                             / CAST(12 AS DOUBLE))
                            * ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)
                                + CAST(1 AS DOUBLE))
                               - CAST(ties AS DOUBLE)
                                 / ((CAST(n_a AS DOUBLE)
                                     + CAST(n_b AS DOUBLE))
                                    * (CAST(n_a AS DOUBLE)
                                       + CAST(n_b AS DOUBLE)
                                       - CAST(1 AS DOUBLE)))))), 6)
       END AS z
FROM u
"""


# ---------------------------------------------------------------------
# calibration bins (reliability diagram)
# ---------------------------------------------------------------------


def q_calibration_bins(spark, sf_dir):
    return calibration_bins(_scored(spark, sf_dir), n_bins=10).orderBy(
        "bin"
    )


ORACLE_CALIBRATION_BINS = f"""
WITH scored AS ({_SQL_SCORED})
SELECT CAST(least(CAST(floor(score * 10) AS INT), 9) AS INT) AS bin,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(label) AS BIGINT) AS n_pos,
       round(avg(score), 6) AS mean_score,
       round(CAST(sum(label) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
         AS frac_pos
FROM scored
GROUP BY 1
ORDER BY bin
"""


# ---------------------------------------------------------------------
# precision / recall / F1 threshold sweep
# ---------------------------------------------------------------------

_PR_THRESHOLDS = [0.1, 0.3, 0.5, 0.7, 0.9]


def q_pr_thresholds(spark, sf_dir):
    return pr_thresholds(
        _scored(spark, sf_dir), _PR_THRESHOLDS
    ).orderBy("threshold")


def _pr_values() -> str:
    return ", ".join(f"(CAST({t!r} AS DOUBLE))" for t in _PR_THRESHOLDS)


ORACLE_PR_THRESHOLDS = f"""
WITH scored AS ({_SQL_SCORED}),
th(threshold) AS (VALUES {_pr_values()}),
c AS (
  SELECT th.threshold,
         CAST(sum(CASE WHEN scored.score >= th.threshold
                       THEN scored.label ELSE 0 END) AS BIGINT) AS tp,
         CAST(sum(CASE WHEN scored.score >= th.threshold
                       THEN 1 - scored.label ELSE 0 END) AS BIGINT) AS fp,
         CAST(sum(scored.label) AS BIGINT)
           - CAST(sum(CASE WHEN scored.score >= th.threshold
                           THEN scored.label ELSE 0 END) AS BIGINT) AS fn
  FROM th CROSS JOIN scored
  GROUP BY 1
),
m AS (
  SELECT threshold, tp, fp, fn,
         CASE WHEN tp + fp > 0 THEN
           round(CAST(tp AS DOUBLE) / (CAST(tp AS DOUBLE)
                                       + CAST(fp AS DOUBLE)), 6)
         END AS precision,
         CASE WHEN tp + fn > 0 THEN
           round(CAST(tp AS DOUBLE) / (CAST(tp AS DOUBLE)
                                       + CAST(fn AS DOUBLE)), 6)
         END AS recall
  FROM c
)
SELECT threshold, tp, fp, fn, precision, recall,
       CASE WHEN precision IS NOT NULL AND recall IS NOT NULL
                 AND precision + recall > 0 THEN
         round(CAST(2 AS DOUBLE) * precision * recall
               / (precision + recall), 6)
       END AS f1
FROM m
ORDER BY threshold
"""


# =====================================================================
# Classic star-schema OLAP joins (operators/starjoin.py — TPC-H
# Q5/Q4/Q14/Q13/Q15 shapes) over the TPC-H-ish tables.
#
# All revenue math runs in exact integer "scaled cents" (see the
# operators/starjoin.py docstring) so the Spark and DuckDB sums are bit-
# identical regardless of shuffle order.
# =====================================================================


# exact scaled-cents revenue: round(price*100) * (100 - round(disc*100))
_SQL_RS = (
    "CAST(CAST(round(l_extendedprice * 100) AS BIGINT)"
    " * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS HUGEINT)"
)
_SQL_DOLLARS = (
    "round(CAST({s} AS DOUBLE) / CAST(10000 AS DOUBLE), 6)"
)


# ---------------------------------------------------------------------
# Q5 shape: revenue per nation (region + year + local-supplier filter)
# ---------------------------------------------------------------------


def q_star_revenue(spark, sf_dir):
    return revenue_by_nation(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "nation"),
        _t(spark, sf_dir, "region"),
        region_name="ASIA",
        date_lo="1996-01-01",
        date_hi="1997-01-01",
    )


ORACLE_STAR_REVENUE = f"""
SELECT n_name,
       {_SQL_DOLLARS.format(s='sum(rs)')} AS revenue
FROM (
  SELECT n_name, {_SQL_RS} AS rs
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
  JOIN nation   ON c_nationkey = n_nationkey
  JOIN region   ON n_regionkey = r_regionkey
  WHERE r_name = 'ASIA'
    AND o_orderdate >= TIMESTAMP '1996-01-01'
    AND o_orderdate <  TIMESTAMP '1997-01-01'
)
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


# ---------------------------------------------------------------------
# Q4 shape: late-shipping EXISTS per order priority
# ---------------------------------------------------------------------


def q_order_priorities(spark, sf_dir):
    return order_priority_counts(
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"),
        date_lo="1996-01-01",
        date_hi="1996-04-01",
    )


ORACLE_ORDER_PRIORITIES = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1996-04-01'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
  )
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# ---------------------------------------------------------------------
# Q14 shape: promo revenue share per ship month
# ---------------------------------------------------------------------


def q_promo_share(spark, sf_dir):
    return promo_share(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "part"),
        promo_type="PROMO",
    )


ORACLE_PROMO_SHARE = f"""
WITH j AS (
  SELECT CAST(date_trunc('month', l_shipdate) AS TIMESTAMP) AS month,
         {_SQL_RS} AS rs,
         p_type
  FROM lineitem JOIN part ON l_partkey = p_partkey
),
agg AS (
  SELECT month,
         sum(CASE WHEN p_type = 'PROMO' THEN rs
                  ELSE CAST(0 AS HUGEINT) END) AS pr,
         sum(rs) AS tr
  FROM j GROUP BY month
)
SELECT month,
       {_SQL_DOLLARS.format(s='pr')} AS promo_revenue,
       {_SQL_DOLLARS.format(s='tr')} AS total_revenue,
       round(CAST(100 AS DOUBLE) * CAST(pr AS DOUBLE)
             / CAST(tr AS DOUBLE), 6) AS promo_pct
FROM agg
ORDER BY month
"""


# ---------------------------------------------------------------------
# Q13 shape: orders-per-customer distribution (zero-order customers in)
# ---------------------------------------------------------------------


def q_customer_orders(spark, sf_dir):
    return customer_order_dist(
        _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders")
    )


ORACLE_CUSTOMER_ORDERS = """
SELECT n_orders, count(*) AS n_customers
FROM (
  SELECT c_custkey, count(o_orderkey) AS n_orders
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
)
GROUP BY n_orders
ORDER BY n_customers DESC, n_orders DESC
"""


# ---------------------------------------------------------------------
# Q15 shape: max-revenue supplier(s) for one ship quarter
# ---------------------------------------------------------------------


def q_top_suppliers(spark, sf_dir):
    return top_suppliers(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "supplier"),
        date_lo="1996-01-01",
        date_hi="1996-04-01",
    )


ORACLE_TOP_SUPPLIERS = f"""
WITH rev AS (
  SELECT l_suppkey, sum({_SQL_RS}) AS sr
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name,
       {_SQL_DOLLARS.format(s='sr')} AS revenue
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE sr = (SELECT max(sr) FROM rev)
ORDER BY s_suppkey
"""


# =====================================================================
# Two-sample inference and resampling (operators/inference.py — Welch
# t-test, distributed Poisson bootstrap).
# =====================================================================


# ---------------------------------------------------------------------
# Welch two-sample t-test: purchase vs click event values
# ---------------------------------------------------------------------


def q_welch_ttest(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return welch_ttest(
        ev.where(F.col("event_type") == "purchase"),
        ev.where(F.col("event_type") == "click"),
        value_col="value",
    )


_SQL_SIDE = """
  SELECT count(*) AS n_{t},
         sum(CAST(CAST(round(value * 100) AS BIGINT) AS HUGEINT)) AS s1{t},
         sum(CAST(CAST(round(value * 100) AS BIGINT) AS HUGEINT)
             * CAST(CAST(round(value * 100) AS BIGINT) AS HUGEINT)) AS s2{t}
  FROM events WHERE event_type = '{et}' AND value IS NOT NULL
"""

# mirrored double expressions (exact integers cast ONCE)
_M = "(CAST(s1{t} AS DOUBLE) / (CAST(n_{t} AS DOUBLE) * CAST(100 AS DOUBLE)))"
_V = (
    "(CAST(CAST(n_{t} AS HUGEINT) * s2{t} - s1{t} * s1{t} AS DOUBLE)"
    " / (CAST(n_{t} AS DOUBLE) * (CAST(n_{t} AS DOUBLE) - CAST(1 AS DOUBLE))"
    " * CAST(10000 AS DOUBLE)))"
)
_VA = _V.format(t="a")
_VB = _V.format(t="b")
_SE2 = (
    f"({_VA} / CAST(n_a AS DOUBLE) + {_VB} / CAST(n_b AS DOUBLE))"
)
_DFDEN = (
    f"(({_VA} / CAST(n_a AS DOUBLE)) * ({_VA} / CAST(n_a AS DOUBLE))"
    f" / (CAST(n_a AS DOUBLE) - CAST(1 AS DOUBLE))"
    f" + ({_VB} / CAST(n_b AS DOUBLE)) * ({_VB} / CAST(n_b AS DOUBLE))"
    f" / (CAST(n_b AS DOUBLE) - CAST(1 AS DOUBLE)))"
)

ORACLE_WELCH_TTEST = f"""
WITH sa AS ({_SQL_SIDE.format(t='a', et='purchase')}),
sb AS ({_SQL_SIDE.format(t='b', et='click')})
SELECT n_a, n_b,
       round({_M.format(t='a')}, 6) AS mean_a,
       round({_M.format(t='b')}, 6) AS mean_b,
       CASE WHEN {_SE2} > 0 THEN
         round(({_M.format(t='a')} - {_M.format(t='b')})
               / sqrt({_SE2}), 6) END AS t,
       CASE WHEN {_SE2} > 0 AND {_DFDEN} > 0 THEN
         round({_SE2} * {_SE2} / {_DFDEN}, 6) END AS df
FROM sa CROSS JOIN sb
"""


# ---------------------------------------------------------------------
# Poisson-bootstrap CI for the mean event value
# ---------------------------------------------------------------------


def q_poisson_bootstrap(spark, sf_dir):
    return poisson_bootstrap(
        _t(spark, sf_dir, "events"),
        value_col="value",
        id_col="event_id",
        n_reps=64,
    )


def _poisson_case() -> str:
    cdf = poisson_cdf_thresholds()
    whens = " ".join(
        f"WHEN u < CAST('{c!r}' AS DOUBLE) THEN {k}"
        for k, c in enumerate(cdf)
    )
    return f"CASE {whens} ELSE {len(cdf)} END"


ORACLE_POISSON_BOOTSTRAP = f"""
WITH base AS (
  SELECT CAST(event_id AS VARCHAR) AS id,
         CAST(round(value * 100) AS BIGINT) AS c
  FROM events WHERE value IS NOT NULL
),
reps AS (
  SELECT id, c, rep
  FROM base, (SELECT unnest(generate_series(1, 64)) AS rep) r
),
uw AS (
  SELECT c, rep,
         CAST(('0x' || substr(md5(id || ':' || CAST(rep AS VARCHAR)
                                  || ':boot'), 1, 8)) AS UBIGINT)
           / CAST(4294967296 AS DOUBLE) AS u
  FROM reps
),
kk AS (SELECT rep, c, {_poisson_case()} AS k FROM uw),
per AS (
  SELECT rep,
         sum(CAST(k AS HUGEINT) * CAST(c AS HUGEINT)) AS skc,
         sum(k) AS sk
  FROM kk GROUP BY rep
),
rm AS (
  SELECT round(CAST(skc AS DOUBLE)
               / (CAST(sk AS DOUBLE) * CAST(100 AS DOUBLE)), 6) AS m
  FROM per WHERE sk > 0
),
ci AS (
  SELECT CAST(count(*) AS BIGINT) AS n_reps,
         round(CAST(quantile_cont(m, 0.025) AS DOUBLE), 6) AS ci_lo,
         round(CAST(quantile_cont(m, 0.975) AS DOUBLE), 6) AS ci_hi
  FROM rm
),
fl AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         round(CAST(sum(CAST(c AS HUGEINT)) AS DOUBLE)
               / (CAST(count(*) AS DOUBLE) * CAST(100 AS DOUBLE)), 6)
           AS mean
  FROM base
)
SELECT n, n_reps, mean, ci_lo, ci_hi FROM fl CROSS JOIN ci
"""


# =====================================================================
# Distributed-plan layout primitives — the generic skew-safe equi-join
# (operators/skewjoin.py) and the Z-order multi-dimensional clustering
# key (operators/zorder.py).
# =====================================================================


# ---------------------------------------------------------------------
# skew-safe fact ⋈ dim join (orders ⋈ customer, forced-low threshold so
# BOTH branches execute at sf0.01 — exactness vs the plain-join oracle)
# ---------------------------------------------------------------------


def q_skew_join(spark, sf_dir):
    fact = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"),
        "o_orderkey",
        F.round("o_totalprice", 6).alias("totalprice"),
    )
    dim = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_name", "c_mktsegment"
    )
    return skew_join(fact, dim, "custkey", how="inner", hot_threshold=15)


ORACLE_SKEW_JOIN = """
SELECT o_custkey AS custkey, o_orderkey,
       round(o_totalprice, 6) AS totalprice,
       c_name, c_mktsegment
FROM orders JOIN customer ON o_custkey = c_custkey
"""


# ---------------------------------------------------------------------
# z-order layout key over (day index, value bucket)
# ---------------------------------------------------------------------

_Z_BITS = 9


def q_zorder_layout(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        F.datediff(
            F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
        ).alias("day_idx"),
        F.least(F.floor("value").cast("long"), F.lit(255)).alias(
            "v_bucket"
        ),
    )
    return with_zorder(
        ev, ["day_idx", "v_bucket"], bits=_Z_BITS
    ).orderBy("z", "event_id")


def _z_sql(col: str, j: int, n: int, bits: int) -> str:
    return " | ".join(
        f"((({col} >> {i}) & 1) << {i * n + j})" for i in range(bits)
    )


ORACLE_ZORDER_LAYOUT = f"""
WITH base AS (
  SELECT event_id,
         CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS day_idx,
         least(CAST(floor(value) AS BIGINT), 255) AS v_bucket
  FROM events
)
SELECT event_id, day_idx, v_bucket,
       ({_z_sql('day_idx', 0, 2, _Z_BITS)})
     | ({_z_sql('v_bucket', 1, 2, _Z_BITS)}) AS z
FROM base
ORDER BY z, event_id
"""


# =====================================================================
# Robust trend + forecast-baseline evaluation (operators/trend.py) and
# the SCD Type-2 effective-dated dimension join (operators/scd.py).
# =====================================================================


_SQL_DAILY = """
  SELECT event_type AS k, CAST(ts AS DATE) AS d, count(*) AS x
  FROM events GROUP BY 1, 2
"""


# ---------------------------------------------------------------------
# Theil–Sen median slope of daily counts
# ---------------------------------------------------------------------


def q_theil_sen(spark, sf_dir):
    return theil_sen_daily(_t(spark, sf_dir, "events")).orderBy(
        "event_type"
    )


ORACLE_THEIL_SEN = f"""
WITH daily AS ({_SQL_DAILY}),
pairs AS (
  SELECT a.k,
         CAST(b.x - a.x AS DOUBLE) / CAST(b.d - a.d AS DOUBLE) AS s
  FROM daily a JOIN daily b ON a.k = b.k AND a.d < b.d
),
agg AS (
  SELECT k, CAST(count(*) AS BIGINT) AS n_pairs,
         round(CAST(quantile_cont(s, 0.5) AS DOUBLE), 6) AS slope
  FROM pairs GROUP BY 1
),
days AS (SELECT k, CAST(count(*) AS BIGINT) AS n_days FROM daily GROUP BY 1)
SELECT days.k AS event_type, n_days,
       coalesce(n_pairs, CAST(0 AS BIGINT)) AS n_pairs, slope
FROM days LEFT JOIN agg ON days.k = agg.k
ORDER BY event_type
"""


# ---------------------------------------------------------------------
# seasonal-naive (same-day-last-week) forecast error
# ---------------------------------------------------------------------


def q_seasonal_naive(spark, sf_dir):
    return seasonal_naive_eval(
        _t(spark, sf_dir, "events"), season_days=7
    ).orderBy("event_type")


ORACLE_SEASONAL_NAIVE = f"""
WITH daily AS ({_SQL_DAILY}),
j AS (
  SELECT a.k, a.x AS actual, b.x AS pred
  FROM daily a JOIN daily b ON a.k = b.k AND a.d = b.d + 7
)
SELECT k AS event_type,
       CAST(count(*) AS BIGINT) AS n_eval_days,
       round(avg(abs(CAST(actual - pred AS DOUBLE))), 6) AS mae,
       round(sqrt(avg(CAST(actual - pred AS DOUBLE)
                      * CAST(actual - pred AS DOUBLE))), 6) AS rmse,
       round(avg(abs(CAST(actual - pred AS DOUBLE))
                 / CAST(actual AS DOUBLE)), 6) AS mape
FROM j GROUP BY k
ORDER BY event_type
"""


# ---------------------------------------------------------------------
# SCD-2 effective-dated join: orders against a 2-version customer dim
# (split date derived deterministically from the key)
# ---------------------------------------------------------------------


def q_scd2_segments(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    split = F.date_add(
        F.lit("1995-01-01").cast("date"),
        (F.col("c_custkey") % 2000).cast("int"),
    )
    v1 = cust.select(
        F.col("c_custkey").alias("custkey"),
        F.col("c_mktsegment").alias("segment"),
        F.lit("1990-01-01").cast("date").alias("valid_from"),
        split.alias("valid_to"),
    )
    v2 = cust.select(
        F.col("c_custkey").alias("custkey"),
        F.concat(F.lit("POST-"), F.col("c_mktsegment")).alias("segment"),
        split.alias("valid_from"),
        F.lit("2999-01-01").cast("date").alias("valid_to"),
    )
    dim = v1.unionByName(v2)
    fact = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderdate").cast("date").alias("od"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("_cents"),
    )
    j = scd2_join(fact, dim, "custkey", ts_col="od", how="inner")
    return (
        j.groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(
                F.sum(F.col("_cents").cast("decimal(38,0)")).cast("double")
                / F.lit(100.0),
                6,
            ).alias("total_price"),
        )
        .orderBy("segment")
    )


ORACLE_SCD2_SEGMENTS = """
WITH dim AS (
  SELECT c_custkey AS custkey, c_mktsegment AS segment,
         DATE '1990-01-01' AS vf,
         DATE '1995-01-01' + CAST(c_custkey % 2000 AS INT) AS vt
  FROM customer
  UNION ALL
  SELECT c_custkey, 'POST-' || c_mktsegment,
         DATE '1995-01-01' + CAST(c_custkey % 2000 AS INT),
         DATE '2999-01-01'
  FROM customer
)
SELECT segment, CAST(count(*) AS BIGINT) AS n_orders,
       round(CAST(sum(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                           AS HUGEINT)) AS DOUBLE)
             / CAST(100 AS DOUBLE), 6) AS total_price
FROM orders JOIN dim
  ON o_custkey = custkey
 AND CAST(o_orderdate AS DATE) >= vf
 AND CAST(o_orderdate AS DATE) < vt
GROUP BY segment
ORDER BY segment
"""


# =====================================================================
# Declarative data expectations (operators/expectations.py) and bounded-
# iteration PageRank (operators/pagerank.py) over the customer–supplier
# bipartite graph.
#
# The PageRank oracle unrolls the SAME fixed iterations as CTEs with the
# SAME per-round 12-dp rounding, so both engines stay in lockstep
# (compounding last-ulp drift across iterations is the failure mode the
# per-round round prevents).
# =====================================================================


# ---------------------------------------------------------------------
# expectations report over orders
# ---------------------------------------------------------------------

_RULES = [
    ("orderkey_not_null", "o_orderkey", "not_null", {}),
    ("orderkey_unique", "o_orderkey", "unique", {}),
    ("status_in_set", "o_orderstatus", "in_set",
     {"values": ["O", "F", "P"]}),
    ("price_in_range", "o_totalprice", "range",
     {"lo": 0.0, "hi": 1000000.0}),
    ("priority_format", "o_orderpriority", "regex",
     {"pattern": "^[1-5]-"}),
]


def q_expectations(spark, sf_dir):
    rules = [expect(n, c, k, **p) for n, c, k, p in _RULES]
    return validate(_t(spark, sf_dir, "orders"), rules).orderBy("rule")


ORACLE_EXPECTATIONS = """
WITH m AS (
  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS v0,
         CAST(count(o_orderkey) - count(DISTINCT o_orderkey)
              AS BIGINT) AS v1,
         CAST(sum(CASE WHEN o_orderstatus IS NOT NULL
                        AND o_orderstatus NOT IN ('O', 'F', 'P')
                       THEN 1 ELSE 0 END) AS BIGINT) AS v2,
         CAST(sum(CASE WHEN o_totalprice IS NOT NULL
                        AND (o_totalprice < 0 OR o_totalprice > 1000000)
                       THEN 1 ELSE 0 END) AS BIGINT) AS v3,
         CAST(sum(CASE WHEN o_orderpriority IS NOT NULL
                        AND NOT regexp_matches(o_orderpriority, '^[1-5]-')
                       THEN 1 ELSE 0 END) AS BIGINT) AS v4
  FROM orders
)
SELECT * FROM (
  SELECT 'orderkey_not_null' AS rule, 'o_orderkey' AS "column",
         'not_null' AS kind, v0 AS n_violations, n_rows,
         v0 = 0 AS passed FROM m
  UNION ALL
  SELECT 'orderkey_unique', 'o_orderkey', 'unique', v1, n_rows,
         v1 = 0 FROM m
  UNION ALL
  SELECT 'status_in_set', 'o_orderstatus', 'in_set', v2, n_rows,
         v2 = 0 FROM m
  UNION ALL
  SELECT 'price_in_range', 'o_totalprice', 'range', v3, n_rows,
         v3 = 0 FROM m
  UNION ALL
  SELECT 'priority_format', 'o_orderpriority', 'regex', v4, n_rows,
         v4 = 0 FROM m
)
ORDER BY rule
"""


# ---------------------------------------------------------------------
# PageRank over the customer–supplier bipartite co-purchase graph
# ---------------------------------------------------------------------

_PR_ITERS = 6
_PR_D = 0.85


def q_pagerank(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    od = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pairs = (
        li.join(od, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias(
                "a"
            ),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias(
                "b"
            ),
        )
        .distinct()
    )
    edges = pairs.select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    ).unionAll(
        pairs.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    return pagerank(
        edges, iterations=_PR_ITERS, damping=_PR_D
    ).orderBy("node")


def _pr_sql(iters: int, d: float) -> str:
    dd = f"CAST('{d!r}' AS DOUBLE)"
    parts = [
        """
WITH pairs AS (
  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS a,
                  's' || CAST(l_suppkey AS VARCHAR) AS b
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
edges AS (
  SELECT a AS src, b AS dst FROM pairs
  UNION ALL SELECT b, a FROM pairs
),
deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
nodes AS (SELECT DISTINCT src AS node FROM edges),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
p0 AS (
  SELECT node, round(CAST(1 AS DOUBLE) / (SELECT n FROM nn), 12) AS p
  FROM nodes
)"""
    ]
    for k in range(1, iters + 1):
        parts.append(f""",
c{k} AS (
  SELECT e.dst AS node, sum(p.p / CAST(deg.deg AS DOUBLE)) AS s
  FROM edges e
  JOIN p{k - 1} p ON e.src = p.node
  JOIN deg ON e.src = deg.src
  GROUP BY 1
),
p{k} AS (
  SELECT nodes.node,
         round((CAST(1 AS DOUBLE) - {dd}) / (SELECT n FROM nn)
               + {dd} * coalesce(c{k}.s, CAST(0 AS DOUBLE)), 12) AS p
  FROM nodes LEFT JOIN c{k} ON nodes.node = c{k}.node
)""")
    parts.append(
        f"\nSELECT node, p AS rank FROM p{iters} ORDER BY node"
    )
    return "".join(parts)


ORACLE_PAGERANK = _pr_sql(_PR_ITERS, _PR_D)


# =====================================================================
# Multiclass evaluation (operators/mleval.py confusion_matrix /
# class_metrics — grading the lang_guess heuristic against the lang
# labels, reusing the lang_guess oracle verbatim as a CTE) and cohort
# lifetime-value curves (operators/ltv.py).
# =====================================================================


def _labeled(spark, sf_dir):
    preds = q_lang_guess(spark, sf_dir).select("doc_id", "lang_guess")
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return preds.join(docs, "doc_id").select(
        F.col("lang").alias("actual"),
        F.col("lang_guess").alias("predicted"),
    )


_SQL_LABELED = f"""
  SELECT d.lang AS actual, g.lang_guess AS predicted
  FROM ({ORACLE_LANG_GUESS}) g
  JOIN documents d USING (doc_id)
  WHERE d.lang IS NOT NULL AND g.lang_guess IS NOT NULL
"""


# ---------------------------------------------------------------------
# confusion census
# ---------------------------------------------------------------------


def q_lang_confusion(spark, sf_dir):
    return confusion_matrix(_labeled(spark, sf_dir)).orderBy(
        "actual", "predicted"
    )


ORACLE_LANG_CONFUSION = f"""
SELECT actual, predicted, CAST(count(*) AS BIGINT) AS n
FROM ({_SQL_LABELED})
GROUP BY actual, predicted
ORDER BY actual, predicted
"""


# ---------------------------------------------------------------------
# per-class one-vs-rest metrics
# ---------------------------------------------------------------------


def q_lang_class_metrics(spark, sf_dir):
    return class_metrics(_labeled(spark, sf_dir)).orderBy("class")


ORACLE_LANG_CLASS_METRICS = f"""
WITH cen AS (
  SELECT actual, predicted, CAST(count(*) AS BIGINT) AS n
  FROM ({_SQL_LABELED})
  GROUP BY actual, predicted
),
ba AS (
  SELECT actual AS class, CAST(sum(n) AS BIGINT) AS n_actual
  FROM cen GROUP BY 1
),
bp AS (
  SELECT predicted AS class, CAST(sum(n) AS BIGINT) AS n_predicted
  FROM cen GROUP BY 1
),
tps AS (SELECT actual AS class, n AS tp FROM cen WHERE actual = predicted),
base AS (
  SELECT class,
         CAST(coalesce(n_actual, 0) AS BIGINT) AS n_actual,
         CAST(coalesce(n_predicted, 0) AS BIGINT) AS n_predicted,
         CAST(coalesce(tp, 0) AS BIGINT) AS tp
  FROM ba FULL OUTER JOIN bp USING (class) LEFT JOIN tps USING (class)
),
pr AS (
  SELECT *,
         CASE WHEN n_predicted > 0 THEN
           round(CAST(tp AS DOUBLE) / CAST(n_predicted AS DOUBLE), 6)
         END AS precision,
         CASE WHEN n_actual > 0 THEN
           round(CAST(tp AS DOUBLE) / CAST(n_actual AS DOUBLE), 6)
         END AS recall
  FROM base
)
SELECT class, n_actual, n_predicted, tp, precision, recall,
       CASE WHEN precision IS NOT NULL AND recall IS NOT NULL
             AND precision + recall > 0 THEN
         round(CAST(2 AS DOUBLE) * precision * recall
               / (precision + recall), 6)
       END AS f1
FROM pr
ORDER BY class
"""


# ---------------------------------------------------------------------
# cohort LTV curves
# ---------------------------------------------------------------------


def q_cohort_ltv(spark, sf_dir):
    return cohort_ltv(_t(spark, sf_dir, "events")).orderBy(
        "cohort", "age"
    )


ORACLE_COHORT_LTV = """
WITH ev AS (
  SELECT user_id AS u, CAST(ts AS DATE) AS d,
         CAST(round(value * 100) AS BIGINT) AS c
  FROM events
),
fst AS (SELECT u, min(d) AS cohort FROM ev GROUP BY 1),
sizes AS (
  SELECT cohort, CAST(count(*) AS BIGINT) AS n_cohort_users
  FROM fst GROUP BY 1
),
pa AS (
  SELECT cohort, CAST(d - cohort AS INT) AS age,
         CAST(count(DISTINCT u) AS BIGINT) AS n_active_users,
         sum(CAST(c AS HUGEINT)) AS dc
  FROM ev JOIN fst USING (u) GROUP BY 1, 2
),
cum AS (
  SELECT *,
         sum(dc) OVER (PARTITION BY cohort ORDER BY age
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS cm
  FROM pa
)
SELECT cohort, age, n_cohort_users, n_active_users,
       round(CAST(dc AS DOUBLE) / CAST(100 AS DOUBLE), 6) AS day_value,
       round(CAST(cm AS DOUBLE) / CAST(100 AS DOUBLE), 6) AS cum_value,
       round(CAST(cm AS DOUBLE)
             / (CAST(n_cohort_users AS DOUBLE) * CAST(100 AS DOUBLE)),
             6) AS ltv_per_user
FROM cum JOIN sizes USING (cohort)
ORDER BY cohort, age
"""


# =====================================================================
# CDC merge (operators/cdc.py — the lakehouse MERGE INTO primitive,
# applied to a deterministic synthesized change log) and month-over-
# month share shift (operators/olap.py share_shift).
# =====================================================================


# ---------------------------------------------------------------------
# CDC merge: synthesized change log over the orders snapshot
#   key % 7 == 0 -> delete (seq 1)
#   key % 7 == 1 -> two updates (seq 1: +1000, seq 2: +2000; latest wins)
#   inserts: keys shifted by 10^7, one per key % 7 == 2 (seq 1)
# ---------------------------------------------------------------------


def q_cdc_merge(spark, sf_dir):
    snap = _t(spark, sf_dir, "orders").select(
        "o_orderkey", F.round("o_totalprice", 6).alias("price")
    )
    k = F.col("o_orderkey")
    dels = snap.where(k % 7 == 0).select(
        "o_orderkey",
        F.lit(None).cast("double").alias("price"),
        F.lit("D").alias("op"),
        F.lit(1).alias("seq"),
    )
    up1 = snap.where(k % 7 == 1).select(
        "o_orderkey",
        F.round(F.col("price") + 1000.0, 6).alias("price"),
        F.lit("U").alias("op"),
        F.lit(1).alias("seq"),
    )
    up2 = snap.where(k % 7 == 1).select(
        "o_orderkey",
        F.round(F.col("price") + 2000.0, 6).alias("price"),
        F.lit("U").alias("op"),
        F.lit(2).alias("seq"),
    )
    ins = snap.where(k % 7 == 2).select(
        (k + 10_000_000).alias("o_orderkey"),
        F.round(F.col("price") / 2.0, 6).alias("price"),
        F.lit("I").alias("op"),
        F.lit(1).alias("seq"),
    )
    changes = dels.unionByName(up1).unionByName(up2).unionByName(ins)
    return apply_cdc(
        snap, changes, "o_orderkey", validate=True
    ).orderBy("o_orderkey")


ORACLE_CDC_MERGE = """
WITH snap AS (
  SELECT o_orderkey, round(o_totalprice, 6) AS price FROM orders
),
changes AS (
  SELECT o_orderkey, CAST(NULL AS DOUBLE) AS price, 'D' AS op, 1 AS seq
  FROM snap WHERE o_orderkey % 7 = 0
  UNION ALL
  SELECT o_orderkey, round(price + 1000.0, 6), 'U', 1
  FROM snap WHERE o_orderkey % 7 = 1
  UNION ALL
  SELECT o_orderkey, round(price + 2000.0, 6), 'U', 2
  FROM snap WHERE o_orderkey % 7 = 1
  UNION ALL
  SELECT o_orderkey + 10000000, round(price / 2.0, 6), 'I', 1
  FROM snap WHERE o_orderkey % 7 = 2
),
latest AS (
  SELECT o_orderkey,
         arg_max(op, seq) AS op,
         arg_max(price, seq) AS price
  FROM changes GROUP BY o_orderkey
)
SELECT o_orderkey, price FROM (
  SELECT s.o_orderkey, s.price
  FROM snap s ANTI JOIN latest l ON s.o_orderkey = l.o_orderkey
  UNION ALL
  SELECT o_orderkey, price FROM latest WHERE op <> 'D'
)
ORDER BY o_orderkey
"""


# ---------------------------------------------------------------------
# month-over-month order-priority share shift
# ---------------------------------------------------------------------


def q_share_shift(spark, sf_dir):
    return share_shift(
        _t(spark, sf_dir, "orders"),
        ts_col="o_orderdate",
        group_col="o_orderpriority",
        value_col="o_totalprice",
    ).orderBy("month", "o_orderpriority")


ORACLE_SHARE_SHIFT = """
WITH cen AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
         o_orderpriority AS g,
         sum(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS HUGEINT))
           AS v
  FROM orders GROUP BY 1, 2
),
tot AS (SELECT month, sum(v) AS t FROM cen GROUP BY 1),
cur AS (
  SELECT cen.month, g,
         round(CAST(v AS DOUBLE) / CAST(100 AS DOUBLE), 6) AS value_sum,
         round(CAST(v AS DOUBLE) / CAST(t AS DOUBLE), 6) AS share
  FROM cen JOIN tot ON cen.month = tot.month
)
SELECT cur.month, cur.g AS o_orderpriority, cur.value_sum, cur.share,
       prev.share AS share_prev,
       round(cur.share - prev.share, 6) AS share_delta
FROM cur LEFT JOIN cur prev
  ON cur.month = CAST(prev.month + INTERVAL 1 MONTH AS DATE)
 AND cur.g = prev.g
ORDER BY cur.month, o_orderpriority
"""


# =====================================================================
# Revenue concentration (operators/pareto.py — ABC/Pareto classes and
# the Gini coefficient over per-customer order totals, both on the
# bucketed distributed prefix-sum machinery).
# =====================================================================


_SQL_CENSUS = """
pk AS (
  SELECT o_custkey AS k,
         sum(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS HUGEINT))
           AS v
  FROM orders GROUP BY 1
),
vcen AS (
  SELECT v, CAST(count(*) AS BIGINT) AS n, v * count(*) AS s
  FROM pk GROUP BY 1
),
p AS (
  SELECT *,
         coalesce(sum(s) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                               PRECEDING AND 1 PRECEDING),
                  CAST(0 AS HUGEINT)) AS prev_s
  FROM vcen
),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS tn, sum(s) AS ts FROM vcen)
"""


def q_abc_customers(spark, sf_dir):
    return abc_analysis(
        _t(spark, sf_dir, "orders"),
        key_col="o_custkey",
        value_col="o_totalprice",
    )


ORACLE_ABC_CUSTOMERS = f"""
WITH {_SQL_CENSUS},
classed AS (
  SELECT n, s, ts,
         CASE WHEN round(CAST(ts - prev_s AS DOUBLE)
                         / CAST(ts AS DOUBLE), 6)
                   <= CAST('0.8' AS DOUBLE) THEN 'A'
              WHEN round(CAST(ts - prev_s AS DOUBLE)
                         / CAST(ts AS DOUBLE), 6)
                   <= CAST('0.95' AS DOUBLE) THEN 'B'
              ELSE 'C' END AS abc_class
  FROM p CROSS JOIN tot
)
SELECT abc_class, CAST(sum(n) AS BIGINT) AS n_keys,
       round(CAST(sum(s) AS DOUBLE) / CAST(100 AS DOUBLE), 6)
         AS value_sum,
       round(CAST(sum(s) AS DOUBLE) / CAST(max(ts) AS DOUBLE), 6)
         AS value_share
FROM classed GROUP BY abc_class
ORDER BY abc_class
"""


def q_gini_customers(spark, sf_dir):
    return gini_coefficient(
        _t(spark, sf_dir, "orders"),
        key_col="o_custkey",
        value_col="o_totalprice",
    )


ORACLE_GINI_CUSTOMERS = f"""
WITH {_SQL_CENSUS},
agg AS (
  SELECT CAST(sum(n) AS BIGINT) AS tn, sum(s) AS ts,
         sum(CAST(n AS HUGEINT)
             * (CAST(2 AS HUGEINT) * prev_s + s)) AS trap
  FROM p
)
SELECT tn AS n_keys,
       round(CAST(ts AS DOUBLE) / CAST(100 AS DOUBLE), 6)
         AS total_value,
       CASE WHEN ts > 0 THEN
         round(CAST(1 AS DOUBLE)
               - CAST(trap AS DOUBLE)
                 / (CAST(tn AS DOUBLE) * CAST(ts AS DOUBLE)), 6)
       END AS gini
FROM agg
"""


# =====================================================================
# Quasi-experimental measurement (operators/abtest.py — difference-in-
# differences point estimate and CUPED variance-reduced variant means
# over order revenue).
#
# Both queries synthesise the experiment frame from ``orders``:
# deterministic md5 hash-bucket assignment on ``o_custkey`` (the shared
# portable-uniform recipe) and a calendar pre/post split at 1998-01-01
# (testdata order dates span 1995..2001, median ~1998-04 — both periods
# populated at every SF).
# =====================================================================


_SPLIT = "1998-01-01"

# Shared SQL fragment: assignment + period + exact cents, mirroring
# the Spark-side projection below (salt comes in via format).
_SQL_BASE = """
base AS (
  SELECT CASE WHEN CAST('0x' || substr(
                     md5('{salt}:' || CAST(o_custkey AS VARCHAR)), 1, 8)
                   AS UBIGINT) / CAST(4294967296 AS DOUBLE)
                   < CAST('0.5' AS DOUBLE)
              THEN 'B' ELSE 'A' END AS g,
         CASE WHEN o_orderdate < TIMESTAMP '{split}'
              THEN 1 ELSE 0 END AS ispre,
         o_custkey AS u,
         CAST(round(o_totalprice * 100) AS BIGINT) AS c
  FROM orders WHERE o_totalprice IS NOT NULL
)
"""


def _exp_frame(spark, sf_dir, salt):
    o = _t(spark, sf_dir, "orders")
    return o.select(
        F.col("o_custkey").alias("u"),
        assign_variant("o_custkey", salt=salt).alias("g"),
        F.when(
            F.col("o_orderdate") < F.expr(f"TIMESTAMP_NTZ '{_SPLIT}'"),
            F.lit("pre"),
        ).otherwise(F.lit("post")).alias("period"),
        F.col("o_totalprice").alias("value"),
    )


def q_did_orders(spark, sf_dir):
    return did_estimate(
        _exp_frame(spark, sf_dir, "did"),
        group_col="g",
        period_col="period",
        value_col="value",
        treat="B",
        pre="pre",
    )


ORACLE_DID_ORDERS = f"""
WITH {_SQL_BASE.format(salt="did", split=_SPLIT)},
a AS (
  SELECT
    CAST(sum(CASE WHEN g = 'B' AND ispre = 1 THEN 1 ELSE 0 END)
         AS BIGINT) AS n_tq,
    CAST(sum(CASE WHEN g = 'B' AND ispre = 0 THEN 1 ELSE 0 END)
         AS BIGINT) AS n_tp,
    CAST(sum(CASE WHEN g = 'A' AND ispre = 1 THEN 1 ELSE 0 END)
         AS BIGINT) AS n_cq,
    CAST(sum(CASE WHEN g = 'A' AND ispre = 0 THEN 1 ELSE 0 END)
         AS BIGINT) AS n_cp,
    sum(CAST(CASE WHEN g = 'B' AND ispre = 1 THEN c ELSE 0 END
             AS HUGEINT)) AS s_tq,
    sum(CAST(CASE WHEN g = 'B' AND ispre = 0 THEN c ELSE 0 END
             AS HUGEINT)) AS s_tp,
    sum(CAST(CASE WHEN g = 'A' AND ispre = 1 THEN c ELSE 0 END
             AS HUGEINT)) AS s_cq,
    sum(CAST(CASE WHEN g = 'A' AND ispre = 0 THEN c ELSE 0 END
             AS HUGEINT)) AS s_cp
  FROM base
),
b AS (
  SELECT *,
    CASE WHEN n_tq > 0 THEN CAST(s_tq AS DOUBLE)
         / (CAST(n_tq AS DOUBLE) * CAST(100 AS DOUBLE)) END AS m_tq,
    CASE WHEN n_tp > 0 THEN CAST(s_tp AS DOUBLE)
         / (CAST(n_tp AS DOUBLE) * CAST(100 AS DOUBLE)) END AS m_tp,
    CASE WHEN n_cq > 0 THEN CAST(s_cq AS DOUBLE)
         / (CAST(n_cq AS DOUBLE) * CAST(100 AS DOUBLE)) END AS m_cq,
    CASE WHEN n_cp > 0 THEN CAST(s_cp AS DOUBLE)
         / (CAST(n_cp AS DOUBLE) * CAST(100 AS DOUBLE)) END AS m_cp
  FROM a
)
SELECT n_tq AS n_treat_pre, n_tp AS n_treat_post,
       n_cq AS n_ctrl_pre, n_cp AS n_ctrl_post,
       round(m_tq, 6) AS mean_treat_pre,
       round(m_tp, 6) AS mean_treat_post,
       round(m_cq, 6) AS mean_ctrl_pre,
       round(m_cp, 6) AS mean_ctrl_post,
       round((m_tp - m_tq) - (m_cp - m_cq), 6) AS did
FROM b
"""


def q_cuped_orders(spark, sf_dir):
    return cuped_means(
        _exp_frame(spark, sf_dir, "cuped"),
        user_col="u",
        group_col="g",
        period_col="period",
        value_col="value",
        pre="pre",
    )


ORACLE_CUPED_ORDERS = f"""
WITH {_SQL_BASE.format(salt="cuped", split=_SPLIT)},
pu AS (
  SELECT u, max(g) AS g,
         sum(CAST(CASE WHEN ispre = 1 THEN c ELSE 0 END
                  AS HUGEINT)) AS x,
         sum(CAST(CASE WHEN ispre = 0 THEN c ELSE 0 END
                  AS HUGEINT)) AS y
  FROM base GROUP BY 1
),
pw AS (
  SELECT CAST(count(*) AS BIGINT) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * x) AS sxx, sum(x * y) AS sxy
  FROM pu
),
par AS (
  SELECT CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
                   > CAST(0 AS DOUBLE)
              THEN round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                         / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)),
                         6) END AS theta,
         round(CAST(sx AS DOUBLE)
               / (CAST(n AS DOUBLE) * CAST(100 AS DOUBLE)), 6) AS mx
  FROM pw
),
gv AS (
  SELECT g AS variant, CAST(count(*) AS BIGINT) AS n_users,
         sum(x) AS gx, sum(y) AS gy
  FROM pu GROUP BY 1
),
st AS (
  SELECT variant, n_users, theta, mx,
         CAST(gy AS DOUBLE)
           / (CAST(n_users AS DOUBLE) * CAST(100 AS DOUBLE)) AS my,
         CAST(gx AS DOUBLE)
           / (CAST(n_users AS DOUBLE) * CAST(100 AS DOUBLE)) AS mxg
  FROM gv CROSS JOIN par
)
SELECT variant, n_users,
       round(my, 6) AS mean_post,
       round(CASE WHEN theta IS NOT NULL
                  THEN my - theta * (mxg - mx)
                  ELSE my END, 6) AS mean_post_adj,
       theta
FROM st
ORDER BY variant
"""


# ---------------------------------------------------------------------
# compaction plan: per-ship-day lineitem files, 64 KiB target, monthly
# partitions
# ---------------------------------------------------------------------

_TARGET = 65536


def q_compaction_plan(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    files = (
        li.groupBy(F.col("l_shipdate").cast("date").alias("file_day"))
        .agg((F.count(F.lit(1)) * 64).alias("bytes"))
        .withColumn("part_month", F.trunc("file_day", "month"))
    )
    return compaction_plan(
        files,
        partition_col="part_month",
        file_col="file_day",
        size_col="bytes",
        target_bytes=_TARGET,
    )


ORACLE_COMPACTION_PLAN = f"""
WITH f AS (
  SELECT CAST(l_shipdate AS DATE) AS fd,
         CAST(count(*) * 64 AS BIGINT) AS b
  FROM lineitem GROUP BY 1
),
st AS (
  SELECT CAST(date_trunc('month', fd) AS DATE) AS partition,
         fd, b,
         CAST(coalesce(sum(b) OVER (
           PARTITION BY date_trunc('month', fd) ORDER BY fd
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS BIGINT) // CAST({_TARGET} AS BIGINT) AS grp
  FROM f
)
SELECT partition, grp,
       CAST(count(*) AS BIGINT) AS n_files,
       CAST(sum(b) AS BIGINT) AS grp_bytes,
       min(fd) AS first_file, max(fd) AS last_file
FROM st GROUP BY 1, 2
ORDER BY partition, grp
"""


# ---------------------------------------------------------------------
# Cohen's kappa: lang_guess vs. lang labels
# ---------------------------------------------------------------------


def q_kappa_lang(spark, sf_dir):
    return cohens_kappa(
        _labeled(spark, sf_dir), col_a="actual", col_b="predicted"
    )


ORACLE_KAPPA_LANG = f"""
WITH cen AS (
  SELECT actual AS a, predicted AS b, CAST(count(*) AS BIGINT) AS n
  FROM ({_SQL_LABELED})
  GROUP BY 1, 2
),
tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS n_items,
         CAST(sum(CASE WHEN a = b THEN n ELSE 0 END) AS BIGINT) AS n_agree
  FROM cen
),
ra AS (SELECT a AS cls, CAST(sum(n) AS BIGINT) AS rn FROM cen GROUP BY 1),
cb AS (SELECT b AS cls, CAST(sum(n) AS BIGINT) AS cn FROM cen GROUP BY 1),
pe AS (
  SELECT sum(CAST(rn AS HUGEINT) * CAST(cn AS HUGEINT)) AS pes
  FROM ra JOIN cb USING (cls)
)
SELECT n_items, n_agree,
       round(CAST(n_agree AS DOUBLE) / CAST(n_items AS DOUBLE), 6) AS po,
       round(CAST(pes AS DOUBLE)
             / (CAST(n_items AS DOUBLE) * CAST(n_items AS DOUBLE)),
             6) AS pe,
       CASE WHEN CAST(n_items AS HUGEINT) * CAST(n_items AS HUGEINT)
                 - pes != 0
            THEN round(
              CAST(CAST(n_items AS HUGEINT) * CAST(n_agree AS HUGEINT)
                   - pes AS DOUBLE)
              / CAST(CAST(n_items AS HUGEINT) * CAST(n_items AS HUGEINT)
                     - pes AS DOUBLE), 6)
       END AS kappa
FROM tot CROSS JOIN pe
"""


# ---------------------------------------------------------------------
# post-stratified ATE over order revenue (strata = o_orderpriority)
# ---------------------------------------------------------------------


def q_stratified_ate(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("st"),
        assign_variant("o_custkey", salt="strat").alias("g"),
        F.col("o_totalprice").alias("value"),
    )
    return stratified_ate(
        o, stratum_col="st", group_col="g", value_col="value", treat="B"
    )


ORACLE_STRATIFIED_ATE = """
WITH base AS (
  SELECT CASE WHEN CAST('0x' || substr(
                     md5('strat:' || CAST(o_custkey AS VARCHAR)), 1, 8)
                   AS UBIGINT) / CAST(4294967296 AS DOUBLE)
                   < CAST('0.5' AS DOUBLE)
              THEN 'B' ELSE 'A' END AS g,
         o_orderpriority AS st,
         CAST(round(o_totalprice * 100) AS BIGINT) AS c
  FROM orders WHERE o_totalprice IS NOT NULL
),
cen AS (
  SELECT st,
         CAST(sum(CASE WHEN g = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS nt,
         sum(CAST(CASE WHEN g = 'B' THEN c ELSE 0 END AS HUGEINT)) AS vt,
         CAST(sum(CASE WHEN g = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS nc,
         sum(CAST(CASE WHEN g = 'A' THEN c ELSE 0 END AS HUGEINT)) AS vc
  FROM base GROUP BY 1
),
terms AS (
  SELECT nt, nc,
         round(CAST(nt + nc AS DOUBLE)
               * round(CAST(vt AS DOUBLE)
                       / (CAST(nt AS DOUBLE) * CAST(100 AS DOUBLE))
                       - CAST(vc AS DOUBLE)
                       / (CAST(nc AS DOUBLE) * CAST(100 AS DOUBLE)), 6),
               6) AS term
  FROM cen WHERE nt > 0 AND nc > 0
),
used AS (
  SELECT CAST(count(*) AS BIGINT) AS n_strata_used,
         CAST(coalesce(sum(nt), 0) AS BIGINT) AS n_treat,
         CAST(coalesce(sum(nc), 0) AS BIGINT) AS n_ctrl,
         sum(term) AS tsum
  FROM terms
),
unadj AS (
  SELECT CAST(sum(nt) AS BIGINT) AS ant, sum(vt) AS avt,
         CAST(sum(nc) AS BIGINT) AS anc, sum(vc) AS avc
  FROM cen
)
SELECT n_strata_used, n_treat, n_ctrl,
       CASE WHEN n_strata_used > 0 THEN
         round(tsum / CAST(n_treat + n_ctrl AS DOUBLE), 6)
       END AS ate,
       CASE WHEN ant > 0 AND anc > 0 THEN
         round(CAST(avt AS DOUBLE)
               / (CAST(ant AS DOUBLE) * CAST(100 AS DOUBLE))
               - CAST(avc AS DOUBLE)
               / (CAST(anc AS DOUBLE) * CAST(100 AS DOUBLE)), 6)
       END AS diff_unadj
FROM used CROSS JOIN unadj
"""


# =====================================================================
# Cumulative-gains / lift table (operators/mleval.py ``gains_table`` —
# decile bands from exact type-7 quantile thresholds; here grading how
# well document length predicts the English label) and per-variant
# Wilson conversion intervals (operators/abtest.py ``conversion_ci`` —
# the binomial CI that stays inside [0, 1]; z ships as a fixed 6-dp
# literal in plan and oracle alike).
# =====================================================================


# ---------------------------------------------------------------------
# gains/lift deciles: does length predict the 'en' label?
# ---------------------------------------------------------------------


def q_gains_table(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").select(
        F.col("n_chars").cast("double").alias("score"),
        (F.col("lang") == "en").cast("int").alias("label"),
    )
    return gains_table(d, n_buckets=10)


_FRACS = ", ".join(str(i / 10) for i in range(1, 10))

ORACLE_GAINS_TABLE = f"""
WITH base AS (
  SELECT round(CAST(n_chars AS DOUBLE), 6) AS sc,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
  FROM documents WHERE n_chars IS NOT NULL
),
thr AS (
  SELECT list_transform(quantile_cont(sc, [{_FRACS}]),
                        t -> round(t, 6)) AS th
  FROM base
),
banded AS (
  SELECT CAST(10 - len(list_filter(th, t -> sc > t)) AS INTEGER) AS band,
         pos
  FROM base CROSS JOIN thr
),
cen AS (
  SELECT band, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(pos) AS BIGINT) AS n_pos
  FROM banded GROUP BY 1
),
cum AS (
  SELECT *,
         CAST(sum(n) OVER (ORDER BY band) AS BIGINT) AS cn,
         CAST(sum(n_pos) OVER (ORDER BY band) AS BIGINT) AS cp,
         CAST(sum(n) OVER () AS BIGINT) AS tn,
         CAST(sum(n_pos) OVER () AS BIGINT) AS tp
  FROM cen
)
SELECT band, n, n_pos,
       round(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE), 6) AS pos_rate,
       CASE WHEN tp > 0 THEN
         round(CAST(cp AS DOUBLE) / CAST(tp AS DOUBLE), 6)
       END AS cum_capture,
       CASE WHEN tp > 0 AND cn > 0 THEN
         round(CAST(CAST(cp AS HUGEINT) * CAST(tn AS HUGEINT) AS DOUBLE)
               / CAST(CAST(cn AS HUGEINT) * CAST(tp AS HUGEINT) AS DOUBLE),
               6)
       END AS cum_lift
FROM cum
ORDER BY band
"""


# ---------------------------------------------------------------------
# Wilson conversion intervals per variant
# ---------------------------------------------------------------------


def q_conversion_ci(spark, sf_dir):
    return conversion_ci(_t(spark, sf_dir, "events"))


ORACLE_CONVERSION_CI = """
WITH pu AS (
  SELECT user_id,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
  FROM events GROUP BY 1
),
v AS (
  SELECT conv,
         CASE WHEN CAST('0x' || substr(
                      md5('ab:' || CAST(user_id AS VARCHAR)), 1, 8)
                    AS UBIGINT) / CAST(4294967296 AS DOUBLE)
                    < CAST('0.5' AS DOUBLE)
              THEN 'B' ELSE 'A' END AS variant
  FROM pu
),
cen AS (
  SELECT variant, CAST(count(*) AS BIGINT) AS n_users,
         CAST(sum(conv) AS BIGINT) AS n_conv
  FROM v GROUP BY 1
),
e AS (
  SELECT variant, n_users, n_conv,
         CAST(1.959964 AS DOUBLE) AS z,
         CAST(n_users AS DOUBLE) AS n,
         CAST(n_conv AS DOUBLE) / CAST(n_users AS DOUBLE) AS p
  FROM cen
),
f AS (
  SELECT *,
         CAST(1 AS DOUBLE) + z * z / n AS denom,
         (p + z * z / (CAST(2 AS DOUBLE) * n)) AS cnum,
         z * sqrt(p * (CAST(1 AS DOUBLE) - p) / n
                  + z * z / (CAST(4 AS DOUBLE) * n * n)) AS hnum
  FROM e
)
SELECT variant, n_users, n_conv,
       CASE WHEN n_users > 0 THEN round(p, 6) END AS rate,
       CASE WHEN n_users > 0 THEN
         round(cnum / denom - hnum / denom, 6)
       END AS ci_lo,
       CASE WHEN n_users > 0 THEN
         round(cnum / denom + hnum / denom, 6)
       END AS ci_hi
FROM f
ORDER BY variant
"""


# =====================================================================
# Referential-integrity audit (operators/integrity.py ``fk_orphans`` —
# census-vs-census anti-join orphan counts over four declared
# relationships, two of which are TPC-H-consistent zeros and two
# genuinely orphaned, so the hash gate sees non-trivial values).
# =====================================================================


# ---------------------------------------------------------------------
# fk orphan audit
# ---------------------------------------------------------------------


def q_fk_orphans(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    li = _t(spark, sf_dir, "lineitem")
    ev = _t(spark, sf_dir, "events")
    emb = _t(spark, sf_dir, "embeddings")
    d = _t(spark, sf_dir, "documents")
    return fk_orphans(
        [
            ("orders.custkey->customer", o, "o_custkey", c, "c_custkey"),
            ("lineitem.orderkey->orders", li, "l_orderkey", o, "o_orderkey"),
            ("events.user_id->customer", ev, "user_id", c, "c_custkey"),
            ("embeddings.vec_id->documents", emb, "vec_id", d, "doc_id"),
        ]
    )


def _rel_sql(name, child, fk, parent, pk):
    return f"""
  SELECT '{name}' AS relationship,
         CAST((SELECT count(*) FROM {child} WHERE {fk} IS NOT NULL)
              AS BIGINT) AS n_rows,
         CAST((SELECT count(*) FROM {child} WHERE {fk} IS NULL)
              AS BIGINT) AS n_null,
         CAST((SELECT count(*) FROM (
                 SELECT {fk} FROM {child} WHERE {fk} IS NOT NULL
                 GROUP BY {fk}
               ) x WHERE NOT EXISTS (
                 SELECT 1 FROM {parent} p WHERE p.{pk} = x.{fk}))
              AS BIGINT) AS n_orphan_keys,
         CAST((SELECT count(*) FROM {child} ch
               WHERE ch.{fk} IS NOT NULL AND NOT EXISTS (
                 SELECT 1 FROM {parent} p WHERE p.{pk} = ch.{fk}))
              AS BIGINT) AS n_orphan_rows
"""


_RELS = [
    ("orders.custkey->customer", "orders", "o_custkey",
     "customer", "c_custkey"),
    ("lineitem.orderkey->orders", "lineitem", "l_orderkey",
     "orders", "o_orderkey"),
    ("events.user_id->customer", "events", "user_id",
     "customer", "c_custkey"),
    ("embeddings.vec_id->documents", "embeddings", "vec_id",
     "documents", "doc_id"),
]

ORACLE_FK_ORPHANS = (
    "WITH rels AS ("
    + " UNION ALL ".join(_rel_sql(*r) for r in _RELS)
    + """)
SELECT relationship, n_rows, n_null, n_orphan_keys, n_orphan_rows,
       CASE WHEN n_rows > 0 THEN
         round(CAST(n_orphan_rows AS DOUBLE) / CAST(n_rows AS DOUBLE), 6)
       END AS orphan_rate
FROM rels
ORDER BY relationship
"""
)


# =====================================================================
# Order/line-item total reconciliation (operators/reconcile.py — exact-
# cent parent-vs-detail containment check).
# =====================================================================


# ---------------------------------------------------------------------
# order header vs line-item reconciliation
# ---------------------------------------------------------------------


def q_reconcile_orders(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    line = (
        F.col("l_extendedprice")
        * (F.lit(1.0) - F.col("l_discount"))
        * (F.lit(1.0) + F.col("l_tax"))
    )
    return reconcile_totals(
        o, li,
        parent_key="o_orderkey",
        detail_key="l_orderkey",
        total_expr=F.col("o_totalprice"),
        line_expr=line,
    )


ORACLE_RECONCILE_ORDERS = """
WITH det AS (
  SELECT l_orderkey AS k,
         CAST(sum(CAST(round(l_extendedprice
                             * (CAST(1 AS DOUBLE) - l_discount)
                             * (CAST(1 AS DOUBLE) + l_tax)
                             * CAST(100 AS DOUBLE)) AS BIGINT))
              AS BIGINT) AS lc
  FROM lineitem GROUP BY 1
),
par AS (
  SELECT o_orderkey AS k,
         CAST(round(o_totalprice * CAST(100 AS DOUBLE)) AS BIGINT) AS tc
  FROM orders
),
j AS (
  SELECT tc, lc, abs(tc - lc) AS diff, lc IS NOT NULL AS has
  FROM par LEFT JOIN det USING (k)
)
SELECT CAST(count(*) AS BIGINT) AS n_parents,
       CAST(sum(CASE WHEN NOT has THEN 1 ELSE 0 END) AS BIGINT)
         AS n_no_detail,
       CAST(sum(CASE WHEN has AND diff = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_match,
       CAST(sum(CASE WHEN has AND diff > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_mismatch,
       max(CASE WHEN has THEN diff END) AS max_abs_diff_cents,
       CAST(coalesce(sum(CASE WHEN has THEN diff END), 0) AS BIGINT)
         AS total_abs_diff_cents
FROM j
"""


# ---------------------------------------------------------------------
# order-value histogram
# ---------------------------------------------------------------------

_HIST_BINS = 20


def q_value_histogram(spark, sf_dir):
    return value_histogram(
        _t(spark, sf_dir, "orders"),
        value_col="o_totalprice",
        n_bins=_HIST_BINS,
    )


ORACLE_VALUE_HISTOGRAM = f"""
WITH vals AS (
  SELECT CAST(round(CAST(o_totalprice AS DOUBLE) * CAST(100 AS DOUBLE))
              AS BIGINT) AS c
  FROM orders WHERE o_totalprice IS NOT NULL
),
bw AS (
  SELECT min(c) AS lo, max(c) AS hi,
         greatest(CAST(1 AS BIGINT),
                  (max(c) - min(c) + {_HIST_BINS}) // {_HIST_BINS}) AS w
  FROM vals
),
cen AS (
  SELECT (c - lo) // w AS bin, CAST(count(*) AS BIGINT) AS n
  FROM vals CROSS JOIN bw GROUP BY 1
),
grid AS (
  SELECT lo, w, unnest(generate_series(0, (hi - lo) // w)) AS bin
  FROM bw
)
SELECT g.bin,
       round(CAST(lo + g.bin * w AS DOUBLE) / CAST(100 AS DOUBLE), 6)
         AS lo_value,
       round(CAST(lo + (g.bin + 1) * w - 1 AS DOUBLE)
             / CAST(100 AS DOUBLE), 6) AS hi_value,
       CAST(coalesce(n, 0) AS BIGINT) AS n
FROM grid g LEFT JOIN cen ON cen.bin = g.bin
ORDER BY g.bin
"""


# =====================================================================
# Per-type geometric means (operators/stats.py ``geometric_means`` —
# round-before-ln-sum / round-before-exp transcendental discipline).
# =====================================================================


# ---------------------------------------------------------------------
# geometric vs arithmetic means of event value per type
# ---------------------------------------------------------------------


def q_geo_means(spark, sf_dir):
    return geometric_means(
        _t(spark, sf_dir, "events"), group_col="event_type"
    )


ORACLE_GEO_MEANS = """
WITH base AS (
  SELECT event_type AS grp,
         value IS NOT NULL AND value > CAST(0 AS DOUBLE) AS pos,
         CASE WHEN value IS NOT NULL AND value > CAST(0 AS DOUBLE)
              THEN round(ln(CAST(value AS DOUBLE)), 6) END AS lnr,
         CASE WHEN value IS NOT NULL AND value > CAST(0 AS DOUBLE)
              THEN CAST(round(CAST(value AS DOUBLE)
                              * CAST(100 AS DOUBLE)) AS HUGEINT)
         END AS c
  FROM events
),
agg AS (
  SELECT grp,
         CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
         CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT)
           AS n_excluded,
         sum(lnr) AS sln,
         sum(c) AS sc
  FROM base GROUP BY 1
)
SELECT grp AS "group", n_pos, n_excluded,
       CASE WHEN n_pos > 0 THEN
         round(exp(round(sln / CAST(n_pos AS DOUBLE), 6)), 6)
       END AS geo_mean,
       CASE WHEN n_pos > 0 THEN
         round(CAST(sc AS DOUBLE)
               / (CAST(n_pos AS DOUBLE) * CAST(100 AS DOUBLE)), 6)
       END AS arith_mean
FROM agg
ORDER BY "group"
"""


# =====================================================================
# Hill power-law tail index over order values (operators/stats.py
# ``hill_tail_index`` — top-(k+1) order statistics via
# TakeOrderedAndProject, per-term rounded log ratios) and the Brier
# probabilistic-forecast score (operators/mleval.py ``brier_score`` —
# grading the hashed-linear classifier's prob against the English label,
# classifier oracle reused as a CTE).
# =====================================================================


_HILL_K = 100


# ---------------------------------------------------------------------
# Hill tail index of order values
# ---------------------------------------------------------------------


def q_hill_tail(spark, sf_dir):
    return hill_tail_index(
        _t(spark, sf_dir, "orders"),
        value_col="o_totalprice",
        id_col="o_orderkey",
        k=_HILL_K,
    )


ORACLE_HILL_TAIL = f"""
WITH ranked AS (
  SELECT CAST(o_totalprice AS DOUBLE) AS v, o_orderkey AS id,
         row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey)
           AS rn
  FROM orders WHERE o_totalprice > 0
),
top AS (SELECT * FROM ranked WHERE rn <= {_HILL_K} + 1),
thr AS (SELECT v AS xk FROM top WHERE rn = {_HILL_K} + 1),
terms AS (
  SELECT round(ln(t.v / thr.xk), 6) AS tm, thr.xk
  FROM top t CROSS JOIN thr WHERE t.rn <= {_HILL_K}
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         round(sum(tm) / CAST({_HILL_K} AS DOUBLE), 6) AS hill,
         max(xk) AS xkv
  FROM terms
)
SELECT CASE WHEN n = {_HILL_K} THEN {_HILL_K} END AS k,
       CASE WHEN n = {_HILL_K} THEN round(xkv, 6) END AS x_threshold,
       CASE WHEN n = {_HILL_K} THEN hill END AS hill,
       CASE WHEN n = {_HILL_K} AND hill > CAST(0 AS DOUBLE) THEN
         round(CAST(1 AS DOUBLE) / hill, 6)
       END AS alpha
FROM agg
"""


# ---------------------------------------------------------------------
# Brier score of the quality classifier vs the English label
# ---------------------------------------------------------------------


def q_brier_score(spark, sf_dir):
    scored = q_quality_classifier(spark, sf_dir).select("doc_id", "prob")
    labels = _t(spark, sf_dir, "documents").select(
        "doc_id", (F.col("lang") == "en").cast("int").alias("label")
    )
    return brier_score(scored.join(labels, "doc_id"))


ORACLE_BRIER_SCORE = f"""
WITH clf AS ({ORACLE_CLASSIFIER}),
j AS (
  SELECT clf.prob AS p,
         CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
  FROM clf JOIN documents d USING (doc_id)
  WHERE clf.prob IS NOT NULL
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(y) AS BIGINT) AS n_pos,
         sum((p - CAST(y AS DOUBLE)) * (p - CAST(y AS DOUBLE))) AS se
  FROM j
),
e AS (
  SELECT n, n_pos,
         round(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE), 6) AS base_rate,
         round(se / CAST(n AS DOUBLE), 6) AS brier,
         round(CAST(CAST(n_pos AS HUGEINT)
                    * (CAST(n AS HUGEINT) - CAST(n_pos AS HUGEINT))
                    AS DOUBLE)
               / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6)
           AS brier_base
  FROM agg
)
SELECT n, n_pos, base_rate, brier, brier_base,
       CASE WHEN brier_base > CAST(0 AS DOUBLE) THEN
         round(CAST(1 AS DOUBLE) - brier / brier_base, 6)
       END AS skill
FROM e
"""


# =====================================================================
# Quantile treatment effects over order revenue (operators/abtest.py
# ``quantile_effects`` — per-arm exact type-7 quantiles over rounded
# values, list-indexed in both engines).
# =====================================================================


_QTE_PROBS = (0.1, 0.25, 0.5, 0.75, 0.9)


# ---------------------------------------------------------------------
# quantile treatment effects
# ---------------------------------------------------------------------


def q_quantile_effects(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").select(
        assign_variant("o_custkey", salt="qte").alias("g"),
        F.col("o_totalprice").alias("value"),
    )
    return quantile_effects(
        o, group_col="g", value_col="value", treat="B", probs=_QTE_PROBS
    )


_QL = ", ".join(f"CAST({p} AS DOUBLE)" for p in _QTE_PROBS)
_SPINE = ", ".join(
    f"({i + 1}, CAST({p} AS DOUBLE))" for i, p in enumerate(_QTE_PROBS)
)

ORACLE_QUANTILE_EFFECTS = f"""
WITH base AS (
  SELECT CAST('0x' || substr(
               md5('qte:' || CAST(o_custkey AS VARCHAR)), 1, 8)
             AS UBIGINT) / CAST(4294967296 AS DOUBLE)
             < CAST('0.5' AS DOUBLE) AS t,
         round(CAST(o_totalprice AS DOUBLE), 6) AS v
  FROM orders WHERE o_totalprice IS NOT NULL
),
qs AS (
  SELECT t, quantile_cont(v, [{_QL}]) AS ql FROM base GROUP BY 1
),
spine AS (SELECT * FROM (VALUES {_SPINE}) s(i, p)),
x AS (
  SELECT p,
         max(CASE WHEN t THEN round(ql[i], 6) END) AS q_treat,
         max(CASE WHEN NOT t THEN round(ql[i], 6) END) AS q_ctrl
  FROM spine CROSS JOIN qs GROUP BY 1
)
SELECT p, q_treat, q_ctrl,
       round(q_treat - q_ctrl, 6) AS qte
FROM x ORDER BY p
"""


# ---------------------------------------------------------------------
# per-type freshness audit
# ---------------------------------------------------------------------

_FRESH_DAYS = 7


def q_freshness_report(spark, sf_dir):
    return freshness_report(
        _t(spark, sf_dir, "events"),
        group_col="event_type",
        recent_days=_FRESH_DAYS,
    )


ORACLE_FRESHNESS_REPORT = f"""
WITH base AS (
  SELECT event_type AS g, CAST(ts AS DATE) AS d FROM events
),
gm AS (SELECT max(d) AS gmax FROM base)
SELECT g AS "group",
       CAST(count(*) AS BIGINT) AS n_rows,
       max(d) AS last_day,
       CAST(min(gmax - d) AS INTEGER) AS days_behind,
       CAST(sum(CASE WHEN d > gmax - {_FRESH_DAYS} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_recent
FROM base CROSS JOIN gm
GROUP BY g
ORDER BY g
"""


# =====================================================================
# Pre-join cardinality report (operators/profile.py ``join_cardinality``
# — census-vs-census exact join-row count and fanout audit over orders x
# lineitem).
# =====================================================================


# ---------------------------------------------------------------------
# join cardinality: orders x lineitem
# ---------------------------------------------------------------------


def q_join_cardinality(spark, sf_dir):
    return join_cardinality(
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"),
        left_key="o_orderkey",
        right_key="l_orderkey",
    )


ORACLE_JOIN_CARDINALITY = """
WITH ca AS (
  SELECT o_orderkey AS k, CAST(count(*) AS BIGINT) AS na
  FROM orders WHERE o_orderkey IS NOT NULL GROUP BY 1
),
cb AS (
  SELECT l_orderkey AS k, CAST(count(*) AS BIGINT) AS nb
  FROM lineitem WHERE l_orderkey IS NOT NULL GROUP BY 1
),
la AS (
  SELECT CAST(sum(na) AS BIGINT) AS n_left_rows,
         CAST(count(*) AS BIGINT) AS n_left_keys,
         CAST(max(na) AS BIGINT) AS max_left_fanout
  FROM ca
),
lb AS (
  SELECT CAST(sum(nb) AS BIGINT) AS n_right_rows,
         CAST(count(*) AS BIGINT) AS n_right_keys,
         CAST(max(nb) AS BIGINT) AS max_right_fanout
  FROM cb
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n_matched_keys,
         CAST(coalesce(sum(CAST(na AS HUGEINT) * CAST(nb AS HUGEINT)),
                       0) AS BIGINT) AS exact_join_rows
  FROM ca JOIN cb USING (k)
)
SELECT n_left_rows, n_right_rows, n_left_keys, n_right_keys,
       n_matched_keys, max_left_fanout, max_right_fanout,
       exact_join_rows
FROM la CROSS JOIN lb CROSS JOIN m
"""


# ---------------------------------------------------------------------
# expected calibration error
# ---------------------------------------------------------------------


def q_ece_score(spark, sf_dir):
    return ece_score(_scored(spark, sf_dir), n_bins=10)


ORACLE_ECE_SCORE = f"""
WITH scored AS ({_SQL_SCORED}),
bins AS (
  SELECT CAST(least(CAST(floor(score * 10) AS INT), 9) AS INT) AS bin,
         CAST(count(*) AS BIGINT) AS n,
         round(avg(score), 6) AS mean_score,
         round(CAST(sum(label) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
           AS frac_pos
  FROM scored WHERE score IS NOT NULL AND label IS NOT NULL
  GROUP BY 1
),
agg AS (
  SELECT CAST(sum(n) AS BIGINT) AS n,
         CAST(count(*) AS BIGINT) AS n_bins_used,
         sum(round(CAST(n AS DOUBLE)
                   * abs(frac_pos - mean_score), 6)) AS tsum,
         max(round(abs(frac_pos - mean_score), 6)) AS mce
  FROM bins
)
SELECT n, n_bins_used,
       round(tsum / CAST(n AS DOUBLE), 6) AS ece,
       mce
FROM agg
"""


# ---------------------------------------------------------------------
# weekly order-value quantile bands
# ---------------------------------------------------------------------


def q_weekly_quantiles(spark, sf_dir):
    return weekly_quantiles(
        _t(spark, sf_dir, "orders"),
        ts_col="o_orderdate",
        value_col="o_totalprice",
        probs=(0.5, 0.95),
    )


ORACLE_WEEKLY_QUANTILES = f"""
WITH base AS (
  SELECT {_WK.format(c='o_orderdate')} AS week_start,
         round(CAST(o_totalprice AS DOUBLE), 6) AS v
  FROM orders WHERE o_totalprice IS NOT NULL
)
SELECT week_start, CAST(count(*) AS BIGINT) AS n,
       round(quantile_cont(v, CAST(0.5 AS DOUBLE)), 6) AS q_0_5,
       round(quantile_cont(v, CAST(0.95 AS DOUBLE)), 6) AS q_0_95
FROM base GROUP BY 1
ORDER BY week_start
"""


# =====================================================================
# Kish effective sample size per group (operators/sampling.py
# ``ess_report`` — (sum w)^2 / sum w^2 from DECIMAL(38) cent power sums)
# and the weight-clipping diagnostic (``clip_report`` — ESS raw vs
# clipped at the exact p99 threshold).  Both over event values as the
# importance weights.
# =====================================================================


# ---------------------------------------------------------------------
# per-type ESS
# ---------------------------------------------------------------------


def q_ess_weights(spark, sf_dir):
    return ess_report(
        _t(spark, sf_dir, "events"),
        group_col="event_type",
        weight_col="value",
    )


ORACLE_ESS_WEIGHTS = """
WITH base AS (
  SELECT event_type AS g,
         value IS NOT NULL AND value > CAST(0 AS DOUBLE) AS pos,
         CASE WHEN value IS NOT NULL AND value > CAST(0 AS DOUBLE)
              THEN CAST(round(CAST(value AS DOUBLE)
                              * CAST(100 AS DOUBLE)) AS HUGEINT)
         END AS c
  FROM events
),
agg AS (
  SELECT g,
         CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n,
         CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT)
           AS n_excluded,
         sum(c) AS s1, sum(c * c) AS s2
  FROM base GROUP BY 1
)
SELECT g AS "group", n, n_excluded,
       CASE WHEN n > 0 THEN
         round(CAST(s1 * s1 AS DOUBLE) / CAST(s2 AS DOUBLE), 6)
       END AS ess,
       CASE WHEN n > 0 THEN
         round(CAST(s1 * s1 AS DOUBLE) / CAST(s2 AS DOUBLE)
               / CAST(n AS DOUBLE), 6)
       END AS ess_ratio
FROM agg
ORDER BY "group"
"""


# ---------------------------------------------------------------------
# clip diagnostic at p99
# ---------------------------------------------------------------------


def q_clip_report(spark, sf_dir):
    return clip_report(
        _t(spark, sf_dir, "events"), weight_col="value", clip_prob=0.99
    )


ORACLE_CLIP_REPORT = """
WITH base AS (
  SELECT CAST(round(CAST(value AS DOUBLE) * CAST(100 AS DOUBLE))
              AS BIGINT) AS c
  FROM events
  WHERE value IS NOT NULL AND value > CAST(0 AS DOUBLE)
),
thr AS (
  SELECT round(quantile_cont(CAST(c AS DOUBLE),
                             CAST(0.99 AS DOUBLE)), 6) AS t
  FROM base
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n, max(t) AS t,
         CAST(sum(CASE WHEN CAST(c AS DOUBLE) > t THEN 1 ELSE 0 END)
              AS BIGINT) AS ncl,
         sum(CAST(c AS HUGEINT)) AS s1,
         sum(CAST(c AS HUGEINT) * CAST(c AS HUGEINT)) AS s2,
         sum(CAST(least(c, CAST(round(t) AS BIGINT)) AS HUGEINT)) AS c1,
         sum(CAST(least(c, CAST(round(t) AS BIGINT)) AS HUGEINT)
             * CAST(least(c, CAST(round(t) AS BIGINT)) AS HUGEINT)) AS c2
  FROM base CROSS JOIN thr
)
SELECT n,
       round(t / CAST(100 AS DOUBLE), 6) AS clip_threshold,
       CASE WHEN n > 0 THEN
         round(CAST(ncl AS DOUBLE) / CAST(n AS DOUBLE), 6)
       END AS frac_clipped,
       CASE WHEN n > 0 THEN
         round(CAST(s1 * s1 AS DOUBLE) / CAST(s2 AS DOUBLE), 6)
       END AS ess_raw,
       CASE WHEN n > 0 THEN
         round(CAST(c1 * c1 AS DOUBLE) / CAST(c2 AS DOUBLE), 6)
       END AS ess_clipped
FROM agg
"""


# ---------------------------------------------------------------------
# repeat-purchase behavior per segment
# ---------------------------------------------------------------------


def q_repeat_orders(spark, sf_dir):
    return repeat_orders(
        _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "customer")
    )


ORACLE_REPEAT_ORDERS = """
WITH o AS (
  SELECT o_custkey AS c, CAST(o_orderdate AS DATE) AS d, o_orderkey AS k
  FROM orders
),
gaps AS (
  SELECT c,
         CAST(d - lag(d) OVER (PARTITION BY c ORDER BY d, k)
              AS INTEGER) AS gap
  FROM o
),
seg AS (SELECT c_custkey AS c, c_mktsegment AS segment FROM customer),
per_cust AS (
  SELECT c, CAST(count(*) AS BIGINT) AS n_orders FROM gaps GROUP BY 1
),
by_seg AS (
  SELECT segment,
         CAST(count(*) AS BIGINT) AS n_customers,
         CAST(sum(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_repeat
  FROM per_cust JOIN seg USING (c) GROUP BY 1
),
by_gaps AS (
  SELECT segment,
         round(quantile_cont(CAST(gap AS DOUBLE), CAST(0.5 AS DOUBLE)),
               6) AS median_gap_days
  FROM gaps JOIN seg USING (c) WHERE gap IS NOT NULL GROUP BY 1
)
SELECT b.segment, n_customers, n_repeat,
       round(CAST(n_repeat AS DOUBLE) / CAST(n_customers AS DOUBLE), 6)
         AS repeat_rate,
       g.median_gap_days
FROM by_seg b LEFT JOIN by_gaps g ON g.segment = b.segment
ORDER BY b.segment
"""


REGISTRY = {
    "ab_test": (q_ab_test, ORACLE_AB_TEST),
    "association_rules": (q_association_rules, ORACLE_ASSOCIATION_RULES),
    "skew_report": (q_skew_report, ORACLE_SKEW_REPORT),
    "mad_outliers": (q_mad_outliers, ORACLE_MAD),
    "km_survival": (q_km_survival, ORACLE_KM),
    "acf_daily": (q_acf_daily, ORACLE_ACF),
    "profile_events": (q_profile_events, ORACLE_PROFILE),
    "chi_square": (q_chi_square, ORACLE_CHI_SQUARE),
    "mann_whitney": (q_mann_whitney, ORACLE_MANN_WHITNEY),
    "quantile_rank": (q_quantile_rank, ORACLE_QUANTILE_RANK),
    "spearman_corr": (q_spearman, ORACLE_SPEARMAN),
    "psi_drift": (q_psi_drift, ORACLE_PSI_DRIFT),
    "benford_digits": (q_benford, ORACLE_BENFORD),
    "cooccur_edges": (q_cooccur_edges, ORACLE_COOCCUR_EDGES),
    "graph_triangles": (q_graph_triangles, ORACLE_GRAPH_TRIANGLES),
    "trimmed_means": (q_trimmed_means, ORACLE_TRIMMED_MEANS),
    "rollup_report": (q_rollup_report, ORACLE_ROLLUP_REPORT),
    "cube_report": (q_cube_report, ORACLE_CUBE_REPORT),
    "weighted_sample": (q_weighted_sample, ORACLE_WEIGHTED_SAMPLE),
    "k_anonymity": (q_k_anonymity, ORACLE_K_ANONYMITY),
    "auc_eval": (q_auc_eval, ORACLE_AUC_EVAL),
    "calibration_bins": (q_calibration_bins, ORACLE_CALIBRATION_BINS),
    "pr_thresholds": (q_pr_thresholds, ORACLE_PR_THRESHOLDS),
    "star_revenue": (q_star_revenue, ORACLE_STAR_REVENUE),
    "order_priorities": (q_order_priorities, ORACLE_ORDER_PRIORITIES),
    "promo_share": (q_promo_share, ORACLE_PROMO_SHARE),
    "customer_orders": (q_customer_orders, ORACLE_CUSTOMER_ORDERS),
    "top_suppliers": (q_top_suppliers, ORACLE_TOP_SUPPLIERS),
    "welch_ttest": (q_welch_ttest, ORACLE_WELCH_TTEST),
    "poisson_bootstrap": (q_poisson_bootstrap, ORACLE_POISSON_BOOTSTRAP),
    "hot_key_join": (q_skew_join, ORACLE_SKEW_JOIN),
    "zorder_layout": (q_zorder_layout, ORACLE_ZORDER_LAYOUT),
    "theil_sen": (q_theil_sen, ORACLE_THEIL_SEN),
    "seasonal_naive": (q_seasonal_naive, ORACLE_SEASONAL_NAIVE),
    "scd2_segments": (q_scd2_segments, ORACLE_SCD2_SEGMENTS),
    "expectations_report": (q_expectations, ORACLE_EXPECTATIONS),
    "pagerank_bipartite": (q_pagerank, ORACLE_PAGERANK),
    "lang_confusion": (q_lang_confusion, ORACLE_LANG_CONFUSION),
    "lang_class_metrics": (q_lang_class_metrics, ORACLE_LANG_CLASS_METRICS),
    "cohort_ltv": (q_cohort_ltv, ORACLE_COHORT_LTV),
    "cdc_merge": (q_cdc_merge, ORACLE_CDC_MERGE),
    "share_shift": (q_share_shift, ORACLE_SHARE_SHIFT),
    "abc_customers": (q_abc_customers, ORACLE_ABC_CUSTOMERS),
    "gini_customers": (q_gini_customers, ORACLE_GINI_CUSTOMERS),
    "did_orders": (q_did_orders, ORACLE_DID_ORDERS),
    "cuped_orders": (q_cuped_orders, ORACLE_CUPED_ORDERS),
    "compaction_plan": (q_compaction_plan, ORACLE_COMPACTION_PLAN),
    "kappa_lang": (q_kappa_lang, ORACLE_KAPPA_LANG),
    "stratified_ate": (q_stratified_ate, ORACLE_STRATIFIED_ATE),
    "gains_table": (q_gains_table, ORACLE_GAINS_TABLE),
    "conversion_ci": (q_conversion_ci, ORACLE_CONVERSION_CI),
    "fk_orphans": (q_fk_orphans, ORACLE_FK_ORPHANS),
    "reconcile_orders": (q_reconcile_orders, ORACLE_RECONCILE_ORDERS),
    "value_histogram": (q_value_histogram, ORACLE_VALUE_HISTOGRAM),
    "geo_means": (q_geo_means, ORACLE_GEO_MEANS),
    "hill_tail": (q_hill_tail, ORACLE_HILL_TAIL),
    "brier_score": (q_brier_score, ORACLE_BRIER_SCORE),
    "quantile_effects": (q_quantile_effects, ORACLE_QUANTILE_EFFECTS),
    "freshness_report": (q_freshness_report, ORACLE_FRESHNESS_REPORT),
    "join_cardinality": (q_join_cardinality, ORACLE_JOIN_CARDINALITY),
    "ece_score": (q_ece_score, ORACLE_ECE_SCORE),
    "weekly_quantiles": (q_weekly_quantiles, ORACLE_WEEKLY_QUANTILES),
    "ess_weights": (q_ess_weights, ORACLE_ESS_WEIGHTS),
    "clip_report": (q_clip_report, ORACLE_CLIP_REPORT),
    "repeat_orders": (q_repeat_orders, ORACLE_REPEAT_ORDERS),
}
