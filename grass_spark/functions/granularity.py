"""Calendar-aware granularity machinery.

Reproduces the observable behavior of GRASS's temporal datetime math
(all independently re-implemented; semantics cross-checked against the
reference's doctests):

* ``adjust_datetime_to_granularity`` — truncate a series start to the
  granularity unit boundary (years→Jan 1, months→1st, weeks→Monday,
  days→00:00, …): ``python/grass/temporal/datetime_math.py:355-487``.
* ``increment_datetime`` — calendar-aware "N unit" stepping with month
  arithmetic that replaces year/month (no day clamping):
  ``datetime_math.py:275-349``.
* ``compute_datetime_delta`` — the unit-decomposed delta dict used by
  granularity inference: ``datetime_math.py:507-712``.
* ``infer_granularity_absolute`` / ``infer_granularity_relative`` — GCD
  of interval lengths and gap lengths, expressed in the smallest
  observed unit: ``temporal_granularity.py:339-529`` / ``:184-333``.

Scale split: the inference functions run on the *catalog* (distinct
timestamps — a tiny aggregate Spark collects to the driver, same as the
reference runs them on its SQLite catalog rows), while bucket
assignment (:func:`bucket_start_col`) is a pure JVM-side column
expression applied to the full data — no UDF, no shuffle, fully
codegen'd, so it holds at 100 TB.
"""

from __future__ import annotations

import math
from datetime import datetime, timedelta

from pyspark.sql import Column
from pyspark.sql import functions as F

# canonical unit names (singular)
_UNIT_ALIASES = {
    "second": "second", "seconds": "second", "sec": "second",
    "minute": "minute", "minutes": "minute", "min": "minute",
    "hour": "hour", "hours": "hour",
    "day": "day", "days": "day",
    "week": "week", "weeks": "week",
    "month": "month", "months": "month",
    "year": "year", "years": "year",
}

_UNIT_SECONDS = {
    "second": 1,
    "minute": 60,
    "hour": 3600,
    "day": 86400,
    "week": 7 * 86400,
}

CALENDAR_UNITS = ("month", "year")


def parse_granularity(gran: str) -> tuple[int, str]:
    """``"30 seconds"`` -> ``(30, 'second')``; also accepts bare units."""
    parts = gran.strip().split()
    if len(parts) == 1:
        num, unit = 1, parts[0]
    elif len(parts) == 2:
        num, unit = int(parts[0]), parts[1]
    else:
        raise ValueError(f"bad granularity {gran!r}")
    try:
        return num, _UNIT_ALIASES[unit.lower()]
    except KeyError:
        raise ValueError(f"bad granularity unit in {gran!r}") from None


def format_granularity(num: int, unit: str) -> str:
    return f"{num} {unit}{'s' if num > 1 else ''}"


def granularity_seconds(gran: str) -> int:
    """Fixed-width seconds for sub-month granularities (raises for
    month/year, which are calendar units)."""
    num, unit = parse_granularity(gran)
    if unit in CALENDAR_UNITS:
        raise ValueError(f"{unit} is calendar-relative, has no fixed width")
    return num * _UNIT_SECONDS[unit]


# ---------------------------------------------------------------------------
# driver-side calendar math (catalog-scale only)
# ---------------------------------------------------------------------------


def adjust_datetime_to_granularity(dt: datetime, gran: str) -> datetime:
    """Truncate ``dt`` to the granularity's unit boundary.

    Mirrors ``datetime_math.py:355-487`` including its week handling
    (Monday start).  Seconds granularities leave ``dt`` unchanged.
    """
    _, unit = parse_granularity(gran)
    if unit == "second":
        return dt
    if unit == "minute":
        return dt.replace(second=0, microsecond=0)
    if unit == "hour":
        return dt.replace(minute=0, second=0, microsecond=0)
    if unit == "day":
        return dt.replace(hour=0, minute=0, second=0, microsecond=0)
    if unit == "week":
        base = dt.replace(hour=0, minute=0, second=0, microsecond=0)
        return base - timedelta(days=base.weekday())
    if unit == "month":
        return dt.replace(day=1, hour=0, minute=0, second=0, microsecond=0)
    if unit == "year":
        return dt.replace(month=1, day=1, hour=0, minute=0, second=0, microsecond=0)
    raise ValueError(unit)


def _add_months(dt: datetime, months: int) -> datetime:
    """Calendar month addition by year/month replacement (the reference
    computes the same result as a timedelta of actual day counts,
    ``datetime_math.py:289-331``)."""
    total = dt.month - 1 + months
    year = dt.year + total // 12
    month = total % 12 + 1
    return dt.replace(year=year, month=month)


def increment_datetime(dt: datetime, gran: str, mult: int = 1) -> datetime:
    """``dt + mult * gran`` with calendar-aware month/year arithmetic."""
    num, unit = parse_granularity(gran)
    n = num * mult
    if unit == "month":
        return _add_months(dt, n)
    if unit == "year":
        return dt.replace(year=dt.year + n)
    return dt + timedelta(seconds=n * _UNIT_SECONDS[unit])


def granule_series(
    series_start: datetime,
    series_end: datetime,
    gran: str,
    include_end_equal: bool = False,
) -> list[tuple[datetime, datetime]]:
    """Regular granule list ``[aligned_start, +gran) ...`` covering the
    series — the loop of ``t.rast.aggregate.py:164-185`` (``>=`` vs ``>``
    end condition via ``include_end_equal``: when the last map is an
    instant, one extra granule starting exactly at the series end is
    generated)."""
    start = adjust_datetime_to_granularity(series_start, gran)
    out: list[tuple[datetime, datetime]] = []
    while True:
        if include_end_equal:
            if start > series_end:
                break
        elif start >= series_end:
            break
        nxt = increment_datetime(start, gran)
        out.append((start, nxt))
        start = nxt
    return out


# ---------------------------------------------------------------------------
# granularity inference (GCD) — catalog-scale
# ---------------------------------------------------------------------------


def compute_datetime_delta(start: datetime, end: datetime) -> dict[str, int]:
    """Unit-decomposed delta dict (year/month/day/hour/minute/second/
    max_days) with the reference's exact mixed-unit accumulation rules
    (``datetime_math.py:507-712``)."""
    comp = {"year": 0, "month": 0, "day": 0, "hour": 0, "minute": 0,
            "second": 0, "max_days": (end - start).days}
    day_diff = comp["max_days"]

    comp["year"] = end.year - start.year

    if start.month == 1 and end.month == 1:
        comp["month"] = 0
    elif start.day == 1 and end.day == 1:
        d = end.month - start.month
        if d < 0:
            d += 12 * comp["year"]
        elif d == 0:
            d = 12 * comp["year"]
        comp["month"] = d

    comp["day"] = 0 if start.day == 1 and end.day == 1 else day_diff

    if start.hour == 0 and end.hour == 0:
        comp["hour"] = 0
    else:
        d = end.hour - start.hour
        d += 24 + 24 * day_diff if d < 0 else 24 * day_diff
        comp["hour"] = d

    if start.minute == 0 and end.minute == 0:
        comp["minute"] = 0
    else:
        d = end.minute - start.minute
        if d != 0:
            d += 60 * comp["hour"] if comp["hour"] else 24 * 60 * day_diff
        else:
            d = 60 * comp["hour"] if comp["hour"] else 24 * 60 * day_diff
        comp["minute"] = d

    if start.second == 0 and end.second == 0:
        comp["second"] = 0
    else:
        d = end.second - start.second
        if d != 0:
            if comp["minute"]:
                d += 60 * comp["minute"]
            elif comp["hour"]:
                d += 3600 * comp["hour"]
            else:
                d += 86400 * day_diff
        elif comp["minute"]:
            d = 60 * comp["minute"]
        elif comp["hour"]:
            d = 3600 * comp["hour"]
        else:
            d = 86400 * day_diff
        comp["second"] = d

    return comp


_UNIT_ORDER = ("second", "minute", "hour", "max_days", "day", "month", "year")

_TO_SMALLER = {
    "second": {"minute": 60, "hour": 3600, "day": 86400, "max_days": 86400},
    "minute": {"hour": 60, "day": 1440, "max_days": 1440},
    "hour": {"day": 24, "max_days": 24},
    "day": {"max_days": 1},
    "month": {"year": 12},
}


def _is_after(start, prev_start, prev_end) -> bool:
    return start > (prev_end if prev_end is not None else prev_start)


def _granularity_from_deltas(deltas) -> str | None:
    """Shared tail of the inference: unit-bucket the delta dicts
    exactly like ``temporal_granularity.py:339-529`` (smallest observed
    unit wins; ``max_days`` feeds the day GCD but never gets assigned),
    then GCD within the assigned unit."""
    units: dict[str, set[int]] = {u: set() for u in _UNIT_ORDER}

    def add_delta(delta: dict[str, int]) -> None:
        for u in _UNIT_ORDER:
            if delta.get(u, 0) > 0:
                units[u].add(delta[u])
                if u != "max_days":
                    break

    for delta in deltas:
        add_delta(delta)

    assigned = None
    for u in _UNIT_ORDER:
        if units[u]:
            if u == "max_days":
                continue
            assigned = u
            break
    if assigned is None:
        return None

    dlist = set(units[assigned])
    for bigger, factor in _TO_SMALLER.get(assigned, {}).items():
        dlist.update(v * factor for v in units[bigger])
    if not dlist:
        return None
    g = math.gcd(*dlist) if len(dlist) > 1 else dlist.pop()
    return format_granularity(g, assigned)


def infer_granularity_absolute(
    times: list[tuple[datetime, datetime | None]],
) -> str | None:
    """GCD granularity of interval lengths + gap lengths, in the smallest
    observed unit — ``temporal_granularity.py:339-529``.

    ``times`` is ordered by start; ``end`` may be None (instant).
    """
    if not times:
        return None
    deltas = []
    prev_start, prev_end = times[0]
    for start, end in times:
        if end is not None:
            deltas.append(compute_datetime_delta(start, end))
        if _is_after(start, prev_start, prev_end):
            origin = prev_end if prev_end is not None else prev_start
            deltas.append(compute_datetime_delta(origin, start))
        prev_start, prev_end = start, end
    return _granularity_from_deltas(deltas)


def infer_granularity_relative(
    times: list[tuple[int, int | None]],
) -> int | None:
    """GCD of relative interval lengths + gaps —
    ``temporal_granularity.py:184-333``."""
    if not times:
        return None
    dlist: set[int] = set()
    prev_start, prev_end = times[0]
    for start, end in times:
        if end is not None:
            dlist.add(end - start)
        if _is_after(start, prev_start, prev_end):
            origin = prev_end if prev_end is not None else prev_start
            dlist.add(start - origin)
        prev_start, prev_end = start, end
    dlist.discard(0)
    if not dlist:
        return None
    return math.gcd(*dlist) if len(dlist) > 1 else dlist.pop()


def delta_components_col(a: Column, b: Column) -> Column:
    """``compute_datetime_delta`` as a pure column expression — the
    unit-decomposed delta struct of an (a, b) timestamp pair, computed
    JVM-side with the reference's exact mixed-unit accumulation rules
    (``datetime_math.py:507-712``).  Whole-stage-codegen'd; no Python
    per pair."""
    a = a.cast("timestamp")
    b = b.cast("timestamp")
    us = F.unix_micros
    zero = F.lit(0)
    max_days = F.floor((us(b) - us(a)) / F.lit(86_400_000_000)).cast("int")

    year = F.year(b) - F.year(a)

    both_jan = (F.month(a) == 1) & (F.month(b) == 1)
    both_day1 = (F.dayofmonth(a) == 1) & (F.dayofmonth(b) == 1)
    mraw = F.month(b) - F.month(a)
    month = (
        F.when(both_jan, zero)
        .when(
            both_day1,
            F.when(mraw < 0, mraw + 12 * year)
            .when(mraw == 0, 12 * year)
            .otherwise(mraw),
        )
        .otherwise(zero)
    )

    day = F.when(both_day1, zero).otherwise(max_days)

    hraw = F.hour(b) - F.hour(a)
    hour = F.when((F.hour(a) == 0) & (F.hour(b) == 0), zero).otherwise(
        F.when(hraw < 0, hraw + 24 + 24 * max_days).otherwise(hraw + 24 * max_days)
    )

    mnraw = F.minute(b) - F.minute(a)
    min_carry = F.when(hour != 0, 60 * hour).otherwise(24 * 60 * max_days)
    minute = F.when((F.minute(a) == 0) & (F.minute(b) == 0), zero).otherwise(
        F.when(mnraw != 0, mnraw + min_carry).otherwise(min_carry)
    )

    sraw = F.second(b) - F.second(a)
    sec_carry = (
        F.when(minute != 0, 60 * minute)
        .when(hour != 0, 3600 * hour)
        .otherwise(86400 * max_days)
    )
    second = F.when((F.second(a) == 0) & (F.second(b) == 0), zero).otherwise(
        F.when(sraw != 0, sraw + sec_carry).otherwise(sec_carry)
    )

    return F.struct(
        year.alias("year"), month.alias("month"), day.alias("day"),
        hour.alias("hour"), minute.alias("minute"), second.alias("second"),
        max_days.alias("max_days"),
    )


def _normalize_delta_struct(d: Column) -> Column:
    """Project a delta struct down to exactly the components
    ``add_delta`` consumes (the first >0 unit in second→minute→hour
    order wins and masks everything above it; otherwise max_days plus
    the first of day→month→year survive).  Rows that differ only in
    masked components collapse to one distinct row — the distinct set
    stays minimal."""
    zero = F.lit(0)

    def pick(cond, *fields):
        return F.struct(*[
            (d[f] if f in fields else zero).alias(f)
            for f in ("year", "month", "day", "hour", "minute", "second", "max_days")
        ])

    return (
        F.when(d["second"] > 0, pick(None, "second"))
        .when(d["minute"] > 0, pick(None, "minute"))
        .when(d["hour"] > 0, pick(None, "hour"))
        .when(d["day"] > 0, pick(None, "day", "max_days"))
        .when(d["month"] > 0, pick(None, "month", "max_days"))
        .otherwise(pick(None, "year", "max_days"))
    )


def distinct_delta_components(
    df,
    ts_col: str = "ts",
    end_col: str | None = None,
    keys: list[str] | None = None,
    assume_small: bool = False,
):
    """DISTINCT unit-decomposed deltas (interval lengths + gaps) of a
    possibly huge table, computed entirely JVM-side.

    Replaces the driver-side distinct-timestamp collect (the round-1
    scale-killer): on raw microsecond data distinct-ts ≈ row count, but
    a *regular* series has a handful of distinct deltas — so we compute
    consecutive-pair deltas with ``lag`` executor-side and only the
    distinct component structs ever reach the driver.

    With ``keys``, the lag window partitions by key (embarrassingly
    parallel).  Without keys, the distinct timestamps are
    range-repartitioned so each task lags within its range; the P-1
    cross-partition boundary pairs are stitched from a P-row frame.
    Returns a DataFrame of (keys..., year, month, day, hour, minute,
    second, max_days), distinct.

    ``assume_small``: callers that KNOW the frame is catalog-scale (a
    dataset's map list, like ``eval_gran``'s inputs — the reference
    reads these from STDS metadata tables) skip the range-stitch
    machinery for a single-task lag window: 2 stages instead of ~6,
    saving multiple fixed-latency rounds per dataset.  Never pass it
    for data-scale tables — the single task would serialize.
    """
    from pyspark.sql import Window

    keys = list(keys or [])
    sel = [*keys, F.col(ts_col).cast("timestamp").alias("__s")]
    has_end = end_col is not None and end_col in df.columns
    if has_end:
        sel.append(F.col(end_col).cast("timestamp").alias("__e"))
    d = df.select(*sel).distinct()

    order = ["__s", "__e"] if has_end else ["__s"]
    e_col = F.col("__e") if has_end else F.lit(None).cast("timestamp")

    if keys:
        w = Window.partitionBy(*keys).orderBy(*order)
        d = d.withColumn("__prev_s", F.lag("__s").over(w))
        d = d.withColumn("__prev_e", F.lag(e_col).over(w))
        pairs = d
    elif assume_small:
        w = Window.orderBy(*order)  # single task — caller-asserted small
        # coalesce(1) (not repartition): it propagates the single
        # partition up into the distinct too, but on a caller-asserted
        # catalog-scale frame the one-task aggregate is cheaper than an
        # extra shuffle stage (measured: repartition(1) cost ~0.5 s of
        # fixed stage latency per inference here)
        pairs = d.coalesce(1).withColumn(
            "__prev_s", F.lag("__s").over(w)
        ).withColumn("__prev_e", F.lag(e_col).over(w))
    else:
        npart = max(df.sparkSession.sparkContext.defaultParallelism, 1)
        d = d.repartitionByRange(npart, "__s").withColumn(
            "__part", F.spark_partition_id()
        )
        w = Window.partitionBy("__part").orderBy(*order)
        inpart = d.withColumn("__prev_s", F.lag("__s").over(w)).withColumn(
            "__prev_e", F.lag(e_col).over(w)
        )
        # boundary pairs: (last row of partition k) -> (first row of k+1)
        bounds = d.groupBy("__part").agg(
            F.min_by(F.struct("__s", e_col.alias("__e")), F.struct(*order)).alias("__first"),
            F.max_by(F.struct("__s", e_col.alias("__e")), F.struct(*order)).alias("__last"),
        )
        bw = Window.orderBy("__part")  # P rows — single tiny task by design
        boundary = (
            bounds.withColumn("__prev", F.lag("__last").over(bw))
            .where(F.col("__prev").isNotNull())
            .select(
                F.col("__first.__s").alias("__s"),
                F.col("__first.__e").alias("__e"),
                F.col("__prev.__s").alias("__prev_s"),
                F.col("__prev.__e").alias("__prev_e"),
            )
        )
        pairs = inpart.select("__s", e_col.alias("__e"), "__prev_s", "__prev_e").unionByName(
            boundary
        )
        e_col = F.col("__e")

    # gap deltas and interval lengths in ONE pass over `pairs` (a union
    # of two filtered branches computes the window subtree twice);
    # when() without otherwise yields a null struct, filtered below.
    # Only the (a, b) endpoints are exploded; the delta expression runs
    # in the projection after the Generate.  Inside the Generate, the
    # two delta structs made the stage's generated code exceed the
    # JVM's 64 KB method limit, so Spark fell back from whole-stage
    # codegen on every inference.
    origin = F.coalesce(F.col("__prev_e"), F.col("__prev_s"))
    ends = [
        F.when(
            F.col("__prev_s").isNotNull() & (F.col("__s") > origin),
            F.struct(origin.alias("a"), F.col("__s").alias("b")),
        )
    ]
    if has_end:
        ends.append(
            F.when(
                e_col.isNotNull(),
                F.struct(F.col("__s").alias("a"), e_col.alias("b")),
            )
        )
    out = (
        pairs.select(*keys, F.explode(F.array(*ends)).alias("__p"))
        .where(F.col("__p").isNotNull())
        .select(*keys, delta_components_col(F.col("__p.a"), F.col("__p.b")).alias("__d"))
    )
    out = out.select(*keys, _normalize_delta_struct(F.col("__d")).alias("__d"))
    return out.select(*keys, "__d.*").distinct()


def infer_granularity_from_df(
    df,
    ts_col: str = "ts",
    end_col: str | None = None,
    assume_small: bool = False,
) -> str | None:
    """Infer granularity of a (possibly huge) table: consecutive-pair
    deltas are decomposed JVM-side (``distinct_delta_components``) and
    only the distinct delta structs — a handful of rows for any regular
    series — are collected; the unit assignment + GCD run on the
    driver, exactly as ``temporal_granularity.py:339-529``."""
    rows = distinct_delta_components(
        df, ts_col=ts_col, end_col=end_col, assume_small=assume_small
    ).collect()
    return _granularity_from_deltas([r.asDict() for r in rows])


def infer_granularity_grouped(
    df, keys: list[str], ts_col: str = "ts", end_col: str | None = None
) -> list[tuple]:
    """Per-key granularity inference: one parallel lag window partitioned
    by key; only (key, distinct delta struct) rows reach the driver.
    Returns [(key..., granularity_string)] sorted by key."""
    comp = distinct_delta_components(df, ts_col=ts_col, end_col=end_col, keys=keys)
    per_key: dict[tuple, list[dict]] = {}
    fields = ["year", "month", "day", "hour", "minute", "second", "max_days"]
    for r in comp.collect():
        k = tuple(r[c] for c in keys)
        per_key.setdefault(k, []).append({f: r[f] for f in fields})
    return sorted(
        (*k, _granularity_from_deltas(deltas)) for k, deltas in per_key.items()
    )


# ---------------------------------------------------------------------------
# JVM-side bucket assignment — the scale path
# ---------------------------------------------------------------------------


def bucket_idx_col(ts: Column | str, gran: str, origin: datetime) -> Column:
    """0-based granule index of ``ts`` relative to ``origin`` (long).

    Negative for timestamps before origin; floor semantics throughout.
    """
    c = F.col(ts) if isinstance(ts, str) else ts
    c = c.cast("timestamp")  # accept TIMESTAMP_NTZ (parquet default) too
    num, unit = parse_granularity(gran)
    if unit == "month":
        mdiff = (F.year(c) - F.lit(origin.year)) * 12 + (F.month(c) - F.lit(origin.month))
        return F.floor(mdiff / num).cast("long")
    if unit == "year":
        return F.floor((F.year(c) - F.lit(origin.year)) / num).cast("long")
    width_us = num * _UNIT_SECONDS[unit] * 1_000_000
    o = F.lit(origin).cast("timestamp")
    return F.floor((F.unix_micros(c) - F.unix_micros(o)) / F.lit(width_us)).cast("long")


def granule_start_col(idx: Column | str, gran: str, origin: datetime) -> Column:
    """Start timestamp of granule ``idx`` (inverse of bucket_idx_col)."""
    i = F.col(idx) if isinstance(idx, str) else idx
    num, unit = parse_granularity(gran)
    o = F.lit(origin).cast("timestamp")
    if unit == "month":
        return F.add_months(o, (i * num).cast("int")).cast("timestamp")
    if unit == "year":
        return F.add_months(o, (i * num * 12).cast("int")).cast("timestamp")
    width_us = num * _UNIT_SECONDS[unit] * 1_000_000
    return F.timestamp_micros(F.unix_micros(o) + (i * width_us).cast("long"))


def bucket_start_col(ts: Column | str, gran: str, origin: datetime) -> Column:
    """Bucket start timestamp for each row: the granule ``[start, start+gran)``
    containing ``ts``, with granules anchored at ``origin`` (an already
    granularity-aligned datetime).

    Pure built-in column arithmetic — codegen'd, partition-prunable, no
    Python in the hot path.  Calendar units use month arithmetic
    (``add_months``), exactly like the reference's granule stepping.
    """
    c = F.col(ts) if isinstance(ts, str) else ts
    c = c.cast("timestamp")  # accept TIMESTAMP_NTZ (parquet default) too
    num, unit = parse_granularity(gran)
    o = F.lit(origin).cast("timestamp")
    if unit == "month":
        mdiff = (F.year(c) - F.lit(origin.year)) * 12 + (F.month(c) - F.lit(origin.month))
        idx = F.floor(mdiff / num)
        return F.add_months(o, (idx * num).cast("int")).cast("timestamp")
    if unit == "year":
        idx = F.floor((F.year(c) - F.lit(origin.year)) / num)
        return F.add_months(o, (idx * num * 12).cast("int")).cast("timestamp")
    width_us = num * _UNIT_SECONDS[unit] * 1_000_000
    delta = F.unix_micros(c) - F.unix_micros(o)
    idx = F.floor(delta / F.lit(width_us))
    return F.timestamp_micros(F.unix_micros(o) + (idx * width_us).cast("long"))


def bucket_end_col(bucket_start: Column | str, gran: str) -> Column:
    """End (exclusive) of the granule beginning at ``bucket_start``."""
    c = F.col(bucket_start) if isinstance(bucket_start, str) else bucket_start
    c = c.cast("timestamp")
    num, unit = parse_granularity(gran)
    if unit == "month":
        return F.add_months(c, num).cast("timestamp")
    if unit == "year":
        return F.add_months(c, num * 12).cast("timestamp")
    width_us = num * _UNIT_SECONDS[unit] * 1_000_000
    return F.timestamp_micros(F.unix_micros(c) + width_us)


# ---------------------------------------------------------------------------
# common granularity across datasets (t.rast.algebra -g)
# ---------------------------------------------------------------------------

_HIERARCHY = ("second", "minute", "hour", "day", "month", "year")

#: units one step up, expressed in the smaller unit.  months/years are
#: calendar units: the reference folds EVERY possible width in (28..31
#: days, 365/366 days) so the GCD is safe for any calendar stretch
#: (temporal_granularity.py:938-1011)
_UP_FACTORS = {
    "second": {"minute": [60], "hour": [3600], "day": [86400],
               "month": [86400 * d for d in (28, 29, 30, 31)],
               "year": [86400 * d for d in (365, 366)]},
    "minute": {"hour": [60], "day": [1440],
               "month": [1440 * d for d in (28, 29, 30, 31)],
               "year": [1440 * d for d in (365, 366)]},
    "hour": {"day": [24], "month": [24 * d for d in (28, 29, 30, 31)],
             "year": [24 * d for d in (365, 366)]},
    "day": {"month": [28, 29, 30, 31], "year": [365, 366]},
    "month": {"year": [12]},
    "year": {},
}

#: hierarchy cap per unit + the start-time attribute whose disagreement
#: forces a unit granule (compute_common_absolute_time_granularity,
#: temporal_granularity.py:690-755)
_CAPS = {
    "second": (60, lambda t: t.second),
    "minute": (60, lambda t: t.minute),
    "hour": (24, lambda t: t.hour),
    "day": (365, lambda t: t.day),
    "month": (12, lambda t: t.month),
}


def common_granularity(gran_list, start_times=None) -> str:
    """Greatest common granule of several datasets'granularities —
    ``compute_common_absolute_time_granularity`` (temporal_granularity
    .py:558-785, simple variant :819-1011).  The smallest unit present
    wins; each coarser unit contributes its SMALLEST count converted
    through every possible calendar width; the result is the GCD.  With
    ``start_times``, a disagreeing start component (e.g. month starts on
    different days) forces ``1 <unit>``, and counts above the hierarchy
    cap collapse to the cap (or ``1 <unit>`` if not divisible)."""
    import math

    per_unit: dict[str, list[int]] = {u: [] for u in _HIERARCHY}
    for g in gran_list:
        num, unit = parse_granularity(g)
        if unit == "week":  # weeks normalise to days in common math
            num, unit = num * 7, "day"
        per_unit[unit].append(num)
    base = next((u for u in _HIERARCHY if per_unit[u]), None)
    if base is None:
        raise ValueError("empty granularity list")
    counts = list(per_unit[base])
    for up, factors in _UP_FACTORS[base].items():
        if per_unit[up]:
            smallest = min(per_unit[up])
            counts.extend(smallest * f for f in factors)
    num = math.gcd(*counts) if len(counts) > 1 else counts[0]

    if start_times is not None and base in _CAPS:
        cap, attr = _CAPS[base]
        if any(attr(t) != attr(start_times[0]) for t in start_times):
            return f"1 {base}"
        if num > cap:
            return (
                format_granularity(cap, base)
                if num % cap == 0
                else f"1 {base}"
            )
    return format_granularity(num, base)
