"""Aggregation kernels with exact GRASS ``lib/stats/c_*.c`` semantics.

GRASS's r.series assembles, per cell, the vector of values across the
time axis and applies one small C kernel per requested method
(``raster/r.series/main.c:564-603``).  Here each kernel is a Spark SQL
aggregate expression evaluated JVM-side inside whole-stage codegen —
one ``groupBy().agg()`` pass computes any number of kernels over the
same scan (the reference's multi-output single scan,
``raster/r.series/main.c:402-474``).

Parity notes (the ⚠ rows of SURVEY.md §2.2):

* ``variance``/``stddev`` are **population**-normalized
  (``lib/stats/c_var.c:41``) → ``var_pop``/``stddev_pop``, never the
  Spark default ``var_samp``.
* ``median`` is the mean of the two middle values for even n
  (``lib/stats/c_median.c:5-14``) → Spark exact ``median``
  (= ``percentile(x, 0.5)``), never ``approx_percentile``.
* quantiles are Hyndman–Fan **type 7** (``lib/stats/c_percentile.c:21-27``:
  ``k=q(n-1)`` with linear interpolation) → Spark exact ``percentile``.
* ``mode`` tie-breaks to the **smallest** value (``lib/stats/c_mode.c:5-37``,
  first in sorted order) → ``mode(x, true)`` (deterministic flag).
* ``skewness`` = ``Σd³/(n·s³)``, ``kurtosis`` = ``Σd⁴/(n·var²) − 3``
  (population, no bias correction; ``c_skew.c:43-45``, ``c_kurt.c:41-43``)
  → Spark ``skewness``/``kurtosis`` use the same population formulas;
  NaN (zero variance) maps to NULL like GRASS's NaN→NULL write-out.
* ``min_raster``/``max_raster`` return the **0-based input index** of the
  extreme value, ties → earliest (``c_minx.c``/``c_maxx.c``) →
  ``min_by(idx, struct(val, idx))``.
* regression kernels regress value against the **original input index**
  — null values are skipped but surviving x keep their position
  (``lib/stats/c_reg.c:30-38``); callers must supply that index column.
* every kernel skips NULLs; n = count of non-null (``c_ave.c:14-15``).

All expressions are built as SQL strings so aggregate FILTER clauses are
available; value/idx column names are spliced in (identifiers only — no
user data reaches these strings).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# expression builders: (value_sql, idx_sql) -> sql string
# ---------------------------------------------------------------------------


def _nan_to_null(sql: str) -> str:
    return f"CASE WHEN isnan({sql}) THEN CAST(NULL AS DOUBLE) ELSE {sql} END"


def _reg_guard(sql: str, v: str, i: str) -> str:
    # lib/stats/c_reg.c:35-37: count < 2 -> NULL; constant y makes
    # Rsq = 0/0 = NaN -> NULL (Spark's regr_r2 would return 1.0 there).
    return (
        f"CASE WHEN count({v}) < 2 THEN NULL "
        f"WHEN var_pop({v}) = 0 THEN NULL "
        f"ELSE {sql} END"
    )


def _tvalue(v: str, i: str) -> str:
    # t = sqrt(R² (n-2) / (1 - R²))  — lib/stats/c_reg.c:95-100.
    # Perfect fit (R²=1, n>2) divides by zero: GRASS's C code emits +inf
    # there; we map every non-finite regression output to NULL, extending
    # GRASS's own NaN->NULL write-out rule (c_reg.c:83-85).
    r2 = f"regr_r2({v}, {i})"
    n = f"regr_count({v}, {i})"
    t = f"sqrt({r2} * ({n} - 2) / (1.0 - {r2}))"
    return _reg_guard(f"CASE WHEN {r2} >= 1.0 THEN NULL ELSE {_nan_to_null(t)} END", v, i)


KERNELS: dict[str, object] = {
    # name -> callable(value_sql, idx_sql) -> sql
    "average": lambda v, i: f"avg({v})",
    "count": lambda v, i: f"count({v})",
    "sum": lambda v, i: f"sum({v})",
    "minimum": lambda v, i: f"min({v})",
    "maximum": lambda v, i: f"max({v})",
    "range": lambda v, i: f"max({v}) - min({v})",
    "stddev": lambda v, i: f"stddev_pop({v})",
    "variance": lambda v, i: f"var_pop({v})",
    "median": lambda v, i: f"median({v})",
    "mode": lambda v, i: f"mode({v}, true)",
    "diversity": lambda v, i: f"count(DISTINCT {v})",
    "quart1": lambda v, i: f"percentile({v}, 0.25D)",
    "quart3": lambda v, i: f"percentile({v}, 0.75D)",
    "perc90": lambda v, i: f"percentile({v}, 0.90D)",
    "skewness": lambda v, i: _nan_to_null(f"skewness({v})"),
    "kurtosis": lambda v, i: _nan_to_null(f"kurtosis({v})"),
    "min_raster": lambda v, i: (
        f"min_by({i}, struct({v}, {i})) FILTER (WHERE {v} IS NOT NULL)"
    ),
    "max_raster": lambda v, i: (
        # max over struct(v, -i): largest value, then smallest index
        f"max_by({i}, struct({v}, -{i})) FILTER (WHERE {v} IS NOT NULL)"
    ),
    "slope": lambda v, i: f"CASE WHEN count({v}) < 2 THEN NULL ELSE {_nan_to_null(f'regr_slope({v}, {i})')} END",
    "offset": lambda v, i: f"CASE WHEN count({v}) < 2 THEN NULL ELSE {_nan_to_null(f'regr_intercept({v}, {i})')} END",
    "detcoeff": lambda v, i: _reg_guard(_nan_to_null(f"regr_r2({v}, {i})"), v, i),
    "tvalue": _tvalue,
}

#: rank error of the Greenwald-Khanna sketch = 1/accuracy
APPROX_ACCURACY = 10_000

# Approximate scale-path kernels — NOT in the GRASS menu (kept out of
# KERNELS so parity sweeps stay exact-only), opt-in by name through
# kernel_sql/agg_exprs.  The exact `percentile`/`median`/
# `count(DISTINCT)` forms buffer or dedup every group value; these
# mergeable-sketch twins keep partial aggregation map-side at 100-TB
# group sizes.  Error bounds: rank error <= 1/APPROX_ACCURACY for
# approx_percentile (Greenwald-Khanna), ~2.3% relative sd for
# approx_count_distinct (HLL++).  SURVEY §2.2 explicitly forbids
# substituting approx_percentile for the reference's type-7 quantiles.
APPROX_KERNELS: dict[str, object] = {
    "approx_median": lambda v, i: f"approx_percentile({v}, 0.5D, {APPROX_ACCURACY})",
    "approx_quart1": lambda v, i: f"approx_percentile({v}, 0.25D, {APPROX_ACCURACY})",
    "approx_quart3": lambda v, i: f"approx_percentile({v}, 0.75D, {APPROX_ACCURACY})",
    "approx_perc90": lambda v, i: f"approx_percentile({v}, 0.90D, {APPROX_ACCURACY})",
    "approx_diversity": lambda v, i: f"approx_count_distinct({v})",
}

#: methods whose output keeps integer type in GRASS (r.series/main.c:41-65)
INT_OUTPUT = {"count", "min_raster", "max_raster", "diversity", "approx_diversity"}

#: methods that need the positional-index column (original input position,
#: nulls keep their slot — lib/stats/c_reg.c:30-38)
NEEDS_INDEX = {"min_raster", "max_raster", "slope", "offset", "detcoeff", "tvalue"}


def kernel_sql(method: str, value_col: str, idx_col: str | None = None, q: float | None = None) -> str:
    """Return the SQL aggregate expression for ``method``.

    ``quantile`` accepts an arbitrary ``q`` (type-7, like
    ``r.series method=quantile quantile=q``).
    """
    if method == "quantile":
        if q is None:
            raise ValueError("method 'quantile' needs q")
        return f"percentile({value_col}, {float(q)!r}D)"
    if method == "approx_quantile":
        if q is None:
            raise ValueError("method 'approx_quantile' needs q")
        return f"approx_percentile({value_col}, {float(q)!r}D, {APPROX_ACCURACY})"
    builder = KERNELS.get(method) or APPROX_KERNELS.get(method)
    if builder is None:
        raise ValueError(
            f"unknown kernel {method!r}; known: "
            f"{sorted(KERNELS) + sorted(APPROX_KERNELS)}"
        )
    if method in NEEDS_INDEX and idx_col is None:
        raise ValueError(f"kernel {method!r} needs an input-position index column")
    return builder(value_col, idx_col)  # type: ignore[operator]


def agg_exprs(
    methods: list[str],
    value_col: str,
    idx_col: str | None = None,
    quantile: float | None = None,
    propagate_null: bool = False,
) -> list[Column]:
    """One aliased aggregate Column per method, for a single agg() pass.

    ``propagate_null`` mirrors r.series ``-n``: if ANY input in the group
    is NULL the result is NULL (``raster/r.series/main.c:208-210,587-588``).
    """
    cols = []
    for m in methods:
        sql = kernel_sql(m, value_col, idx_col, quantile)
        if propagate_null:
            sql = (
                f"CASE WHEN count(*) != count({value_col}) THEN NULL "
                f"ELSE {sql} END"
            )
        cols.append(F.expr(sql).alias(m))
    return cols


def masked(value_col: str, lo: float, hi: float) -> Column:
    """r.series ``range=lo,hi``: values outside [lo,hi] become NULL
    (``raster/r.series/main.c:199-203,573-576``)."""
    c = F.col(value_col)
    return F.when(c.between(lo, hi), c)


# ---------------------------------------------------------------------------
# weighted variants (r.series input=...|weight — SURVEY §2.2)
# ---------------------------------------------------------------------------

def _wf(agg: str, v: str) -> str:
    # every weighted kernel also skips NULL values (weights of null cells
    # are excluded from Σw too — lib/stats kernels test the value, not w)
    return f"{agg} FILTER (WHERE {v} IS NOT NULL)"


WEIGHTED_KERNELS: dict[str, object] = {
    # w_ave = Σwx / Σw  (lib/stats/c_ave.c:27-49)
    "w_ave": lambda v, w: (
        f"{_wf(f'sum({v} * {w})', v)} / {_wf(f'sum({w})', v)}"
    ),
    # population weighted variance: Σwx²/Σw − (Σwx/Σw)²
    "w_var": lambda v, w: (
        f"({_wf(f'sum({w} * {v} * {v})', v)} / {_wf(f'sum({w})', v)}) - "
        f"pow({_wf(f'sum({w} * {v})', v)} / {_wf(f'sum({w})', v)}, 2)"
    ),
    # weighted skewness (lib/stats/c_skew.c:49-105):
    #   S3 / (W * sdev³), sdev = sqrt(S2/W), via power sums
    #   S2 = Σwx² − W·m², S3 = Σwx³ − 3m·Σwx² + 2W·m³, m = Σwx/W
    "w_skew": lambda v, w: _wskew_kurt_sql(v, w, kurt=False),
    # weighted kurtosis (lib/stats/c_kurt.c:47-101). NOTE: the reference
    # accumulates d*d*d — the THIRD power, not the fourth (c_kurt.c:82,
    # unlike the unweighted c_kurt.c:28 which uses d⁴) — so w_kurt is
    # S3 / (W·var²) − 3.  Replicated verbatim for parity.
    "w_kurt": lambda v, w: _wskew_kurt_sql(v, w, kurt=True),
}


def _wskew_kurt_sql(v: str, w: str, *, kurt: bool) -> str:
    W = _wf(f"sum({w})", v)
    s1 = _wf(f"sum({w} * {v})", v)
    s2 = _wf(f"sum({w} * {v} * {v})", v)
    s3 = _wf(f"sum({w} * {v} * {v} * {v})", v)
    m = f"(({s1}) / ({W}))"
    cs2 = f"(({s2}) - ({W}) * {m} * {m})"
    cs3 = f"(({s3}) - 3 * {m} * ({s2}) + 2 * ({W}) * {m} * {m} * {m})"
    if kurt:
        return _nan_to_null(f"({cs3}) / (({W}) * pow({cs2} / ({W}), 2)) - 3")
    return _nan_to_null(f"({cs3}) / (({W}) * pow(sqrt({cs2} / ({W})), 3))")


def weighted_kernel_expr(method: str, value_col: str, weight_col: str, alias: str | None = None) -> Column:
    builder = WEIGHTED_KERNELS[method]
    return F.expr(builder(value_col, weight_col)).alias(alias or method)  # type: ignore[operator]


# ---------------------------------------------------------------------------
# weighted regression kernels (lib/stats/c_reg.c:108-180, regression_w)
# ---------------------------------------------------------------------------

def _wreg_parts(v: str, i: str, w: str) -> dict[str, str]:
    """The exact aggregates of regression_w: count = Σw over non-null
    values; x is the original input index weighted by w.

    Deliberate deviation: GRASS regression_w accumulates the count into
    a C ``int`` (c_reg.c:114-126), truncating *per addition* for
    fractional weights; this engine keeps the exact Σw.  The formulas
    agree for integer weights (the documented use); for fractional
    weights this engine computes the mathematically intended weighted
    regression rather than the truncated one."""
    flt = f"FILTER (WHERE {v} IS NOT NULL)"
    cnt = f"sum({w}) {flt}"
    xbar = f"(sum({i} * {w}) {flt}) / ({cnt})"
    ybar = f"(sum({v} * {w}) {flt}) / ({cnt})"
    numer = f"((sum({i} * {v} * {w}) {flt}) - ({cnt}) * ({xbar}) * ({ybar}))"
    denom = f"((sum({i} * {i} * {w}) {flt}) - ({cnt}) * ({xbar}) * ({xbar}))"
    denom2 = f"((sum({v} * {v} * {w}) {flt}) - ({cnt}) * ({ybar}) * ({ybar}))"
    return {"cnt": cnt, "xbar": xbar, "ybar": ybar,
            "numer": numer, "denom": denom, "denom2": denom2}


def _wreg_guard(sql: str, cnt: str) -> str:
    # count < 2 -> NULL (c_reg.c:128-131); NaN -> NULL (c_reg.c:177-178)
    return f"CASE WHEN ({cnt}) < 2 THEN NULL ELSE {_nan_to_null(sql)} END"


def _w_slope(v, i, w):
    p = _wreg_parts(v, i, w)
    return _wreg_guard(f"({p['numer']}) / ({p['denom']})", p["cnt"])


def _w_offset(v, i, w):
    p = _wreg_parts(v, i, w)
    return _wreg_guard(
        f"({p['ybar']}) - ({p['xbar']}) * ({p['numer']}) / ({p['denom']})",
        p["cnt"],
    )


def _w_detcoeff(v, i, w):
    p = _wreg_parts(v, i, w)
    rsq = f"(({p['numer']}) * ({p['numer']})) / (({p['denom']}) * ({p['denom2']}))"
    return _wreg_guard(rsq, p["cnt"])


def _w_tvalue(v, i, w):
    p = _wreg_parts(v, i, w)
    rsq = f"(({p['numer']}) * ({p['numer']})) / (({p['denom']}) * ({p['denom2']}))"
    t = f"sqrt(({rsq}) * (({p['cnt']}) - 2) / (1.0 - ({rsq})))"
    return _wreg_guard(t, p["cnt"])


W_REG_KERNELS = {
    "w_slope": _w_slope,
    "w_offset": _w_offset,
    "w_detcoeff": _w_detcoeff,
    "w_tvalue": _w_tvalue,
}


def weighted_regression_expr(
    method: str, value_col: str, idx_col: str, weight_col: str,
    alias: str | None = None,
) -> Column:
    builder = W_REG_KERNELS[method]
    return F.expr(builder(value_col, idx_col, weight_col)).alias(alias or method)
