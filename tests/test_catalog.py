"""Catalog surface: t.register / t.info / t.rast.list analogs.

Goldens mirror ``temporal/t.rast.aggregate/testsuite/
test_aggregation_absolute.py:26-127``: 7 maps at 14-day intervals from
2001-01-15 12:05:45 — t.info must report start 2001-01-15 12:05:45,
granularity '1209600 seconds' (the reference's own unit selection for
starts with non-zero seconds), interval map_time.
"""

from __future__ import annotations

import json
from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from grass_spark.catalog import (
    TierCatalog,
    dataset_info,
    list_maps,
    register_maps,
)

START = datetime(2001, 1, 15, 12, 5, 45)


@pytest.fixture()
def maps7(spark):
    df = spark.createDataFrame(
        [(f"a{i+1}", float((i + 1) * 100) if i < 6 else None) for i in range(7)],
        "map_id string, v double",
    )
    return register_maps(df, start=START, increment="14 days", interval=True)


def test_register_increment_interval(spark, maps7):
    rows = {r["map_id"]: r for r in maps7.collect()}
    assert rows["a1"]["start_time"] == START
    assert rows["a2"]["start_time"] == datetime(2001, 1, 29, 12, 5, 45)
    assert rows["a1"]["end_time"] == rows["a2"]["start_time"]
    assert rows["a7"]["start_time"] == datetime(2001, 4, 9, 12, 5, 45)


def test_register_monthly_calendar(spark):
    df = spark.createDataFrame([(f"m{i}",) for i in range(4)], ["map_id"])
    out = register_maps(
        df, start=datetime(2001, 1, 1), increment="1 month", interval=True
    )
    rows = sorted(out.collect(), key=lambda r: r["start_time"])
    assert [r["start_time"].month for r in rows] == [1, 2, 3, 4]
    assert rows[0]["end_time"] == datetime(2001, 2, 1)


def test_register_monthly_keeps_time_of_day(spark):
    # reference modify_datetime keeps day+time on month adds
    # (datetime_math.py: dt.replace(month=...)); Spark add_months alone
    # would truncate to midnight
    df = spark.createDataFrame([(f"m{i}",) for i in range(3)], ["map_id"])
    out = register_maps(
        df,
        start=datetime(2001, 1, 15, 12, 5, 45),
        increment="2 months",
        interval=True,
    )
    rows = sorted(out.collect(), key=lambda r: r["start_time"])
    assert rows[0]["start_time"] == datetime(2001, 1, 15, 12, 5, 45)
    assert rows[1]["start_time"] == datetime(2001, 3, 15, 12, 5, 45)
    assert rows[0]["end_time"] == rows[1]["start_time"]
    assert rows[2]["end_time"] == datetime(2001, 7, 15, 12, 5, 45)


def test_register_per_row_times(spark):
    df = spark.createDataFrame(
        [("x", datetime(2020, 5, 1)), ("y", datetime(2020, 6, 1))],
        ["map_id", "t"],
    )
    out = register_maps(df, ts_col="t")
    assert {r["start_time"] for r in out.collect()} == {
        datetime(2020, 5, 1), datetime(2020, 6, 1)
    }
    assert all(r["end_time"] is None for r in out.collect())


def test_info_golden(spark, maps7):
    info = dataset_info(maps7, "A", value_min_col="v", value_max_col="v")
    assert info.start_time == START
    assert info.end_time == datetime(2001, 4, 23, 12, 5, 45)
    # GRASS reports this in seconds (= 14 days): the non-zero seconds
    # field of the start time selects 'second' as the smallest observed
    # unit (temporal_granularity.py:339-529 + compute_datetime_delta's
    # mixed-unit accumulation) — verified against the reference algorithm.
    assert info.granularity == "1209600 seconds"
    assert info.map_time == "interval"
    assert info.number_of_maps == 7
    assert info.min_min == 100.0 and info.max_max == 600.0


def test_info_point_maps(spark):
    df = spark.createDataFrame(
        [("x", datetime(2001, 1, 1)), ("y", datetime(2001, 1, 2))],
        ["map_id", "t"],
    )
    info = dataset_info(register_maps(df, ts_col="t"), "P")
    assert info.map_time == "point"
    assert info.granularity == "1 day"


def test_list_maps_where_order_columns(spark, maps7):
    out = list_maps(
        maps7,
        columns=["map_id", "start_time"],
        where="start_time >= '2001-03-01'",
        order="start_time",
    )
    ids = [r["map_id"] for r in out.collect()]
    assert ids == ["a5", "a6", "a7"]


def test_list_maps_formats(spark, maps7):
    js = list_maps(maps7, columns=["map_id"], order="map_id", fmt="json")
    assert [d["map_id"] for d in json.loads(js)] == [f"a{i+1}" for i in range(7)]
    csv = list_maps(maps7, columns=["map_id"], order="map_id", fmt="csv")
    assert csv.splitlines()[0] == "map_id" and csv.splitlines()[1] == "a1"
    plain = list_maps(maps7, columns=["map_id", "v"], order="map_id", fmt="plain")
    assert plain.splitlines()[0] == "a1|100.0"


def test_tier_catalog_roundtrip(spark, tmp_path):
    cat = TierCatalog(str(tmp_path / "cat"))
    cat.create("t1h", "1 hour", source="raw", aggregation=["count", "sum"],
               command="test")
    assert cat.tiers()["t1h"]["granularity"] == "1 hour"
    df = spark.createDataFrame(
        [("c", datetime(2024, 1, 1, h), 1.0) for h in range(3)],
        ["conv_id", "bucket_start", "v"],
    )
    df.write.parquet(cat.path("t1h"))
    info = cat.info(spark, "t1h", value_min_col="v")
    assert info.number_of_maps == 3
    assert info.granularity == "1 hour"


def test_export_import_roundtrip(spark, tmp_path, maps7):
    from grass_spark.catalog import export_dataset, import_dataset

    p = str(tmp_path / "archive")
    export_dataset(maps7, p, name="A", value_min_col="v", value_max_col="v")
    back, meta = import_dataset(spark, p)
    assert back.count() == 7
    assert meta["name"] == "A"
    assert meta["granularity"] == "1209600 seconds"
    assert meta["map_time"] == "interval"
    assert meta["start_time"].startswith("2001-01-15T12:05:45")
    # data equality
    assert maps7.exceptAll(back).count() == 0


def test_import_schema_mismatch_rejected(spark, tmp_path, maps7):
    import json as _json
    from grass_spark.catalog import export_dataset, import_dataset

    p = str(tmp_path / "archive2")
    export_dataset(maps7, p, name="A")
    mp = f"{p}/metadata.json"
    meta = _json.load(open(mp))
    meta["schema"]["fields"] = meta["schema"]["fields"][:-1]
    _json.dump(meta, open(mp, "w"))
    with pytest.raises(ValueError, match="schema mismatch"):
        import_dataset(spark, p)


# ---------------------------------------------------------------------------
# round-2 listing surface: delta/deltagaps/gran methods, yaml/line, group=
# ---------------------------------------------------------------------------


def test_list_maps_delta_days(spark, maps7):
    out = list_maps(
        maps7, method="delta", id_col="map_id", order="start_time"
    ).collect()
    # 14-day intervals: interval_length 14.0 days, distances 0,14,28,...
    assert [r["interval_length"] for r in out] == [14.0] * 7
    assert [r["distance_from_begin"] for r in out] == [14.0 * i for i in range(7)]


def test_list_maps_deltagaps_inserts_gap_rows(spark):
    from grass_spark.catalog import register_maps

    df = spark.createDataFrame(
        [("m1", datetime(2001, 1, 1)), ("m2", datetime(2001, 1, 2)),
         ("m3", datetime(2001, 1, 5))],
        "map_id string, t timestamp",
    )
    maps = register_maps(df, ts_col="t").withColumn(
        "end_time", F.col("start_time") + F.expr("INTERVAL 1 DAY")
    )
    out = list_maps(
        maps, method="deltagaps", id_col="map_id", order="start_time"
    ).collect()
    # m1[1..2), m2[2..3), GAP[3..5), m3[5..6)
    ids = [r["map_id"] for r in out]
    assert ids == ["m1", "m2", None, "m3"]
    gap = out[2]
    assert gap["start_time"] == datetime(2001, 1, 3)
    assert gap["end_time"] == datetime(2001, 1, 5)
    assert gap["interval_length"] == 2.0


def test_list_maps_gran_method(spark):
    from grass_spark.catalog import register_maps

    # maps strictly inside their granules (the reference's 'during'
    # is strict for intervals — temporal_extent.py:713-749; maps that
    # merely start/finish a granule are gaps there too)
    df = spark.createDataFrame(
        [("m1", datetime(2001, 1, 1, 6)), ("m2", datetime(2001, 1, 3, 6))],
        "map_id string, t timestamp",
    )
    maps = register_maps(df, ts_col="t").withColumn(
        "end_time", F.col("start_time") + F.expr("INTERVAL 12 HOURS")
    )
    out = list_maps(
        maps, method="gran", gran="1 day", id_col="map_id",
        order="start_time",
    ).collect()
    # granules Jan1/Jan2/Jan3: m1 during Jan1, Jan2 gap, m2 during Jan3
    assert [r["map_id"] for r in out] == ["m1", None, "m2"]
    assert [r["interval_length"] for r in out] == [1.0] * len(out)


def test_list_maps_yaml_and_line(spark, maps7):
    y = list_maps(maps7, columns=["map_id"], order="map_id", fmt="yaml")
    assert y.startswith("data:\n- map_id: a1\n")
    assert "metadata:\n  column_names:\n  - map_id" in y
    line = list_maps(maps7, columns=["map_id"], order="map_id", fmt="line")
    assert line == "a1,a2,a3,a4,a5,a6,a7"
    line2 = list_maps(maps7, columns=["map_id"], order="map_id", fmt="line",
                      separator="|")
    assert line2 == "a1|a2|a3|a4|a5|a6|a7"
    with pytest.raises(ValueError):
        list_maps(maps7, columns=["map_id", "v"], order="map_id", fmt="line")


def test_group_maps(spark):
    from grass_spark.catalog import group_maps

    df = spark.createDataFrame(
        [("g1", "b", datetime(2001, 1, 2)), ("g1", "a", datetime(2001, 1, 1)),
         ("g2", "c", datetime(2001, 1, 3))],
        "grp string, id string, start_time timestamp",
    )
    out = {r["grp"]: r["id"] for r in group_maps(df, "grp").collect()}
    # joined in start_time order (group_concat analog,
    # abstract_space_time_dataset.py:1889-1904)
    assert out == {"g1": "a,b", "g2": "c"}


def test_register_increment_partitioned_by_dataset(spark):
    """keys= partitions the increment numbering per dataset — each
    dataset restarts at `start`, and the window sort distributes."""
    df = spark.createDataFrame(
        [(ds, f"m{i}") for ds in ("A", "B") for i in range(3)],
        "ds string, map_id string",
    )
    out = register_maps(
        df, start=START, increment="1 day", interval=False, keys=["ds"]
    )
    per_ds = {}
    for r in out.collect():
        per_ds.setdefault(r["ds"], []).append(r["start_time"])
    for ds in ("A", "B"):
        assert sorted(per_ds[ds]) == [
            START + timedelta(days=i) for i in range(3)
        ]
