"""Dataset catalog — the engine's temporal database.

The reference keeps per-map and per-dataset rows in SQLite/PostgreSQL
(``lib/temporal/SQL/*.sql``; never the pixel data, only extents +
metadata).  Here the same roles are:

* per-tier metadata + lineage -> :mod:`grass_spark.manifest` (JSON);
* per-map (= per-bucket/slice) listing -> computed *from the data* with
  one cheap aggregate, because Iceberg/parquet footers already index
  min/max — the reference needs its catalog precisely because raster
  files can't answer range queries; a columnar table can.

Operations mirrored (SURVEY §2.1):

* ``t.create``  -> :meth:`TierCatalog.create`
* ``t.register`` (assign timestamps: start / start+increment / per-row)
  -> :func:`register_maps`
* ``t.info``    -> :meth:`TierCatalog.info` (dataset report incl.
  granularity inference + min/max rollups, the strds_metadata analog)
* ``t.rast.list`` -> :func:`list_maps` with ``where=`` / ``order=`` /
  ``columns=`` and plain/csv/json writers (``list_stds.py:158-273``)
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from grass_spark.functions.granularity import (
    granularity_seconds,
    parse_granularity,
)
from grass_spark.manifest import CheckpointManifest, TierRecord


@dataclass
class DatasetInfo:
    """The ``t.info`` report — strds_metadata + stds_absolute_time."""

    name: str
    temporal_type: str            # absolute | relative
    start_time: datetime | None
    end_time: datetime | None
    granularity: str | None
    map_time: str                 # interval | point
    number_of_maps: int
    min_min: float | None
    min_max: float | None
    max_min: float | None
    max_max: float | None
    aggregation_type: str | None


def register_maps(
    df: DataFrame,
    *,
    start: datetime | None = None,
    increment: str | None = None,
    interval: bool = False,
    ts_col: str | None = None,
    order_col: str = "map_id",
    keys: list[str] | None = None,
) -> DataFrame:
    """``t.register``: stamp rows with temporal extents.

    Modes (register.py:37-470):
      * ``ts_col`` given — per-row times already present (file mode);
      * ``start`` only — every map gets the same instant;
      * ``start`` + ``increment`` — map i gets start + i*increment
        (ordered by ``order_col``); with ``interval=True`` the extent
        is [start_i, start_{i+1}).

    Scale bound: increment mode numbers rows with a window sort.  With
    ``keys`` the sort is partitioned per dataset; without, it is a
    single-task global sort — fine at the reference's catalog scale
    (map *lists*, thousands of rows; register.py walks them serially
    too), but do NOT call it on raw data-scale rows.  Data-scale
    timestamping belongs to ``ts_col`` mode, which is a pure column
    cast with no shuffle at all.
    """
    if isinstance(start, str):
        start = datetime.fromisoformat(start)
    # naive-UTC base: F.lit(datetime) serializes through the HOST
    # timezone, so every branch that stamps `start` goes through this
    # epoch-seconds literal instead (round-2 ADVICE — the fix used to
    # cover only the fixed-width increment branch).  Caveat that is NOT
    # ours to fix: plain .collect() converts TimestampType back through
    # the host timezone (PySpark TimestampType.fromInternal), so
    # driver-side naive datetimes only display as UTC on a UTC host —
    # the stored instants are host-independent either way.
    base_ts = (
        F.timestamp_seconds(
            F.lit(int((start - datetime(1970, 1, 1)).total_seconds()))
        )
        if start is not None
        else None
    )
    if ts_col is not None:
        out = df.withColumn("start_time", F.col(ts_col).cast("timestamp"))
    elif start is not None and increment is not None:
        num, unit = parse_granularity(increment)
        from pyspark.sql import Window

        w = (
            Window.partitionBy(*keys).orderBy(order_col)
            if keys else Window.orderBy(order_col)
        )
        idx = F.row_number().over(w) - 1
        if unit in ("month", "year"):
            months = num * (12 if unit == "year" else 1)
            # month stepping in PURE date arithmetic (make_date /
            # add_months / unix_date are all session-timezone-free, so
            # this branch is host-independent like the fixed-width one;
            # add_months through a timestamp would round-trip DATE in
            # the session zone).  The reference's modify_datetime keeps
            # day+time on month adds (datetime_math.py: dt.replace(
            # month=...)), so re-add the start's time-of-day.  Day
            # overflow (Jan 31 + 1 month) clamps here where the
            # reference would raise — the sane extension of an
            # undefined reference case.
            tod = int(
                (start - datetime(start.year, start.month, start.day))
                .total_seconds()
            )
            base_date = F.make_date(
                F.lit(start.year), F.lit(start.month), F.lit(start.day)
            )
            out = df.withColumn(
                "start_time",
                F.timestamp_seconds(
                    F.unix_date(
                        F.add_months(base_date, (idx * months).cast("int"))
                    ).cast("long") * 86400
                    + tod
                ),
            )
        else:
            secs = granularity_seconds(increment)
            out = df.withColumn(
                "start_time",
                F.timestamp_seconds(
                    F.unix_seconds(base_ts) + idx.cast("long") * secs
                ),
            )
    elif start is not None:
        out = df.withColumn("start_time", base_ts)
    else:
        raise ValueError("need ts_col, or start (+ optional increment)")

    if interval and increment is not None:
        num, unit = parse_granularity(increment)
        if unit in ("month", "year"):
            months = num * (12 if unit == "year" else 1)
            # same pure-date month step as the start branch (date_trunc/
            # add_months on a timestamp would pass through the session
            # timezone)
            st_secs = F.unix_seconds(F.col("start_time"))
            st_days = F.floor(st_secs / F.lit(86400)).cast("int")
            tod_col = st_secs - st_days.cast("long") * 86400
            end = F.timestamp_seconds(
                F.unix_date(
                    F.add_months(F.date_from_unix_date(st_days), months)
                ).cast("long") * 86400
                + tod_col
            )
        else:
            end = F.timestamp_micros(
                F.unix_micros(F.col("start_time"))
                + granularity_seconds(increment) * 1_000_000
            )
        out = out.withColumn("end_time", end)
    else:
        out = out.withColumn("end_time", F.lit(None).cast("timestamp"))
    return out


def dataset_info(
    df: DataFrame,
    name: str,
    *,
    start_col: str = "start_time",
    end_col: str | None = "end_time",
    value_min_col: str | None = None,
    value_max_col: str | None = None,
    aggregation_type: str | None = None,
) -> DatasetInfo:
    """``t.info``: one aggregate over the catalog columns."""
    has_end = end_col is not None and end_col in df.columns
    aggs = [
        F.min(start_col).alias("s"),
        F.max(F.coalesce(F.col(end_col), F.col(start_col)) if has_end else F.col(start_col)).alias("e"),
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col(end_col).isNotNull(), 1).otherwise(0)).alias("n_interval")
        if has_end else F.lit(0).alias("n_interval"),
    ]
    if value_min_col:
        aggs += [F.min(value_min_col).alias("min_min"), F.max(value_min_col).alias("min_max")]
    if value_max_col:
        aggs += [F.min(value_max_col).alias("max_min"), F.max(value_max_col).alias("max_max")]
    row = df.agg(*aggs).collect()[0]

    # distributed: only distinct delta structs reach the driver
    # (functions/granularity.py round-2 path), never the timestamp list
    from grass_spark.functions.granularity import infer_granularity_from_df

    gran = infer_granularity_from_df(
        df, ts_col=start_col, end_col=end_col if has_end else None
    )
    map_time = (
        "interval" if has_end and row["n_interval"] == row["n"]
        else ("mixed" if has_end and row["n_interval"] > 0 else "point")
    )
    return DatasetInfo(
        name=name,
        temporal_type="absolute",
        start_time=row["s"],
        end_time=row["e"],
        granularity=gran,
        map_time=map_time,
        number_of_maps=row["n"],
        min_min=row["min_min"] if value_min_col else None,
        min_max=row["min_max"] if value_min_col else None,
        max_min=row["max_min"] if value_max_col else None,
        max_max=row["max_max"] if value_max_col else None,
        aggregation_type=aggregation_type,
    )


def _delta_day_cols(out: DataFrame, *, start_col: str, end_col: str | None,
                    keys: list[str]) -> DataFrame:
    """interval_length + distance_from_begin in DAYS (float), the
    reference's listing unit (``time_delta_to_relative_time``,
    datetime_math.py:40-42; list_stds.py:307-325)."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy(*keys) if keys else Window.partitionBy()
    ).orderBy(start_col)
    us = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731
    first = F.first(start_col).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    length = (
        (us(end_col) - us(start_col)) / F.lit(86_400_000_000.0)
        if end_col and end_col in out.columns
        else F.lit(None).cast("double")
    )
    dist = (us(start_col) - F.unix_micros(first.cast("timestamp"))) / F.lit(
        86_400_000_000.0
    )
    return out.withColumn("interval_length", length).withColumn(
        "distance_from_begin", dist
    )


def list_maps(
    df: DataFrame,
    *,
    columns: list[str] | None = None,
    where: str | None = None,
    order: str = "start_time",
    fmt: str = "df",
    method: str = "cols",
    gran: str | None = None,
    keys: list[str] | None = None,
    id_col: str = "id",
    start_col: str = "start_time",
    end_col: str | None = "end_time",
    separator: str | None = None,
) -> DataFrame | str:
    """``t.rast.list``: the full listing surface of ``list_stds.py``.

    * ``method``: ``cols`` (plain SELECT), ``delta`` (adds
      interval_length + distance_from_begin in days —
      list_stds.py:289-325), ``deltagaps`` (same plus gap rows with
      NULL id), ``gran`` (one row per ``gran`` granule chosen by the
      resample priority — list_stds.py:282-285 via
      ``get_registered_maps_as_objects_by_granularity``).
    * ``fmt``: ``df`` | ``json`` | ``csv`` | ``plain`` | ``yaml`` |
      ``line`` (ids joined by the separator on one line; exactly one
      column, matching the reference's check at list_stds.py:380-385).
    """
    keys = list(keys or [])
    out = df
    if where:
        out = out.filter(F.expr(where))

    if method in ("delta", "deltagaps"):
        if method == "deltagaps":
            # gap rows between end and next start, id NULL
            # (list_stds.py deltagaps via *_with_gaps)
            from pyspark.sql import Window

            w = (
                Window.partitionBy(*keys) if keys else Window.partitionBy()
            ).orderBy(start_col)
            nxt = F.lead(start_col).over(w)
            has_end = end_col and end_col in out.columns
            e = F.col(end_col) if has_end else F.col(start_col)
            gaps = (
                out.withColumn("_nxt", nxt)
                .filter(F.col("_nxt").isNotNull() & (F.col("_nxt") > e))
                .select(
                    *keys,
                    F.lit(None).cast("string").alias(id_col),
                    e.alias(start_col),
                    F.col("_nxt").alias(end_col if has_end else "end_time"),
                )
            )
            base = out.select(
                *keys, F.col(id_col).cast("string").alias(id_col),
                F.col(start_col),
                (F.col(end_col) if has_end else F.lit(None).cast("timestamp")).alias(
                    end_col or "end_time"
                ),
            )
            out = base.unionByName(gaps)
            end_col = end_col or "end_time"
        else:
            out = out.select(
                *keys, F.col(id_col).cast("string").alias(id_col), start_col,
                *([end_col] if end_col and end_col in out.columns else []),
            )
        out = _delta_day_cols(out, start_col=start_col, end_col=end_col, keys=keys)
    elif method == "gran":
        if gran is None:
            raise ValueError("method='gran' requires gran=")
        from grass_spark.functions.granularity import granule_series
        from grass_spark.operators.sample import resample_by_granularity

        has_end = end_col and end_col in out.columns
        bounds = out.agg(
            F.min(start_col).alias("s"),
            F.max(
                F.coalesce(F.col(end_col), F.col(start_col)) if has_end
                else F.col(start_col)
            ).alias("e"),
        ).collect()[0]
        rows = granule_series(bounds["s"], bounds["e"], gran,
                              include_end_equal=not has_end)
        granules = df.sparkSession.createDataFrame(
            rows, ["bucket_start", "bucket_end"]
        )
        out = resample_by_granularity(
            out, granules, map_id=id_col, map_start=start_col,
            map_end=end_col if has_end else None,
        ).select(
            F.col("map_id").alias(id_col),
            F.col("granule_start").alias(start_col),
            F.col("granule_end").alias("end_time"),
        )
        out = _delta_day_cols(out, start_col=start_col, end_col="end_time", keys=[])
    elif method != "cols":
        raise ValueError(f"unknown method {method!r}")

    if columns:
        out = out.select(*columns)
    out = out.orderBy(*[c.strip() for c in order.split(",")])
    if fmt == "df":
        return out
    rows = out.collect()
    cols = out.columns
    if fmt == "json":
        return json.dumps([{c: str(r[c]) for c in cols} for r in rows])
    if fmt == "csv":
        lines = [",".join(cols)]
        lines += [",".join(str(r[c]) for c in cols) for r in rows]
        return "\n".join(lines)
    if fmt == "plain":
        return "\n".join("|".join(str(r[c]) for c in cols) for r in rows)
    if fmt == "yaml":
        # the reference's yaml writer shape (list_stds.py:193-230):
        # data: list of column->value dicts, metadata: column_names.
        # Hand-rolled flat-scalar YAML — no dependency needed.
        def yval(v):
            return "null" if v is None else str(v)

        lines = ["data:"]
        for r in rows:
            for i, c in enumerate(cols):
                lines.append(("- " if i == 0 else "  ") + f"{c}: {yval(r[c])}")
        lines.append("metadata:")
        lines.append("  column_names:")
        lines.extend(f"  - {c}" for c in cols)
        return "\n".join(lines) + "\n"
    if fmt == "line":
        if len(cols) != 1:
            raise ValueError(
                f"'line' output_format can have only 1 column, not {len(cols)}"
            )
        return (separator or ",").join(str(r[cols[0]]) for r in rows)
    raise ValueError(f"unknown format {fmt!r}")


def group_maps(
    df: DataFrame,
    group: str,
    *,
    columns: list[str] | None = None,
    order_col: str = "start_time",
) -> DataFrame:
    """``group=`` granule grouping: one row per group value with every
    listed column as a comma-joined string, ordered within the group —
    ``group_concat(col, ',')`` per
    ``abstract_space_time_dataset.py:1889-1904``."""
    columns = columns or ["id"]
    aggs = [
        F.concat_ws(
            ",",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col(order_col).alias("o"),
                            F.col(c).cast("string").alias("v"),
                        )
                    )
                ),
                lambda s: s["v"],
            ),
        ).alias(c)
        for c in columns
    ]
    return df.groupBy(group).agg(*aggs)


class TierCatalog:
    """Directory-backed tier registry (t.create / t.info / open)."""

    def __init__(self, base_dir: str):
        self.base_dir = base_dir
        os.makedirs(base_dir, exist_ok=True)
        self.manifest = CheckpointManifest(os.path.join(base_dir, "manifest.json"))

    def create(
        self, name: str, granularity: str, *, source: str = "raw",
        aggregation: list[str] | None = None, command: str = "",
    ) -> None:
        self.manifest.register_tier(
            name,
            TierRecord(
                granularity=granularity, source=source,
                aggregation=aggregation or [], command=command,
            ),
        )

    def tiers(self) -> dict[str, dict]:
        return self.manifest.tiers()

    def path(self, name: str) -> str:
        return os.path.join(self.base_dir, name)

    def read(self, spark: SparkSession, name: str) -> DataFrame:
        return spark.read.parquet(self.path(name))

    def info(self, spark: SparkSession, name: str, **kw) -> DatasetInfo:
        return dataset_info(
            self.read(spark, name).withColumnRenamed("bucket_start", "start_time"),
            name, **kw,
        )


def export_dataset(
    df: DataFrame,
    path: str,
    *,
    name: str,
    start_col: str = "start_time",
    end_col: str | None = "end_time",
    **info_kw,
) -> None:
    """``t.rast.export`` analog (stds_export.py): one self-contained
    directory holding the data (parquet) + a metadata JSON with the
    t.info report — enough for a foreign engine (or a later import) to
    reconstruct the dataset.  The reference tars GeoTIFFs + metadata
    files; columnar data + JSON is the Spark-native equivalent."""
    import dataclasses

    df.write.mode("overwrite").parquet(os.path.join(path, "data"))
    info = dataset_info(df, name, start_col=start_col, end_col=end_col, **info_kw)
    meta = dataclasses.asdict(info)
    meta["schema"] = df.schema.jsonValue()
    for k in ("start_time", "end_time"):
        if meta[k] is not None:
            meta[k] = meta[k].isoformat()
    tmp = os.path.join(path, "metadata.json.tmp")
    with open(tmp, "w") as f:
        json.dump(meta, f, indent=1, sort_keys=True)
    os.replace(tmp, os.path.join(path, "metadata.json"))


def import_dataset(spark: SparkSession, path: str) -> tuple[DataFrame, dict]:
    """``t.rast.import`` analog: read the archive back, validating the
    stored schema against the parquet footer schema."""
    with open(os.path.join(path, "metadata.json")) as f:
        meta = json.load(f)
    df = spark.read.parquet(os.path.join(path, "data"))
    stored = meta.get("schema", {}).get("fields", [])
    stored_names = {f["name"] for f in stored}
    actual = set(df.columns)
    if stored_names != actual:
        raise ValueError(
            f"schema mismatch on import: metadata {sorted(stored_names)} "
            f"vs data {sorted(actual)}"
        )
    return df, meta
