"""sample / accumulate / timeshift operator semantics."""

from __future__ import annotations

from datetime import datetime

from grass_spark.functions.granularity import granule_series
from grass_spark.operators.accumulate import accdetect, accumulate
from grass_spark.operators.sample import (
    resample_by_granularity,
    sample_by_dataset,
    topology_census,
)
from grass_spark.operators.timeshift import list_deltas, shift, snap


def _granules_df(spark, start, end, gran):
    rows = granule_series(start, end, gran)
    return spark.createDataFrame(rows, ["bucket_start", "bucket_end"])


# ---------------- sample ----------------


def test_sample_by_dataset_point_maps_use_start(spark):
    """Point-type maps sample by start time (the reference's ``start``
    method — abstract_space_time_dataset.py:673-681)."""
    maps = spark.createDataFrame(
        [("m1", datetime(2001, 1, 10)), ("m2", datetime(2001, 5, 10))],
        ["map_id", "ts"],
    )
    gr = _granules_df(spark, datetime(2001, 1, 1), datetime(2001, 3, 1), "1 month")
    out = sample_by_dataset(maps, gr, ["start"]).collect()
    assert len(out) == 1 and out[0]["map_id"] == "m1"
    assert out[0]["granule_start"] == datetime(2001, 1, 1)


def test_sample_by_dataset_method_names_are_granule_relative(spark):
    """Reference method diagrams (abstract_space_time_dataset.py:
    682-744): ``contains`` selects maps INSIDE the granule (incl. a map
    sharing the granule's start — builder-widened), ``during`` selects
    maps CONTAINING the granule."""
    maps = spark.createDataFrame(
        [
            # inside the Jan granule, sharing its start (started case)
            ("inner", datetime(2001, 1, 1), datetime(2001, 1, 10)),
            # spans Jan..Feb -> contains the Jan granule
            ("outer", datetime(2000, 12, 15), datetime(2001, 2, 15)),
        ],
        ["map_id", "ts", "te"],
    )
    gr = _granules_df(spark, datetime(2001, 1, 1), datetime(2001, 2, 1), "1 month")
    inside = sample_by_dataset(maps, gr, ["contains"], map_end="te").collect()
    assert [r["map_id"] for r in inside] == ["inner"]
    containing = sample_by_dataset(maps, gr, ["during"], map_end="te").collect()
    assert [r["map_id"] for r in containing] == ["outer"]
    both = sample_by_dataset(
        maps, gr, ["contains", "during"], map_end="te"
    ).collect()
    assert {r["map_id"] for r in both} == {"inner", "outer"}


def test_resample_priority_equal_beats_during(spark):
    maps = spark.createDataFrame(
        [
            ("equal_map", datetime(2001, 1, 1), datetime(2001, 2, 1)),
            ("during_map", datetime(2001, 1, 10), datetime(2001, 1, 20)),
        ],
        ["map_id", "ts", "te"],
    )
    gr = _granules_df(spark, datetime(2001, 1, 1), datetime(2001, 3, 1), "1 month")
    out = {r["granule_start"]: r["map_id"] for r in resample_by_granularity(
        maps, gr, map_start="ts", map_end="te"
    ).collect()}
    assert out[datetime(2001, 1, 1)] == "equal_map"
    assert out[datetime(2001, 2, 1)] is None  # gap granule kept with NULL


def test_topology_census(spark):
    df = spark.createDataFrame(
        [
            ("a", datetime(2001, 1, 1), datetime(2001, 2, 1)),
            ("b", datetime(2001, 2, 1), datetime(2001, 3, 1)),  # a precedes b
            ("c", datetime(2001, 1, 10), datetime(2001, 1, 20)),  # c during a
        ],
        ["id", "s", "e"],
    )
    got = {
        r["relation"]: r["cnt"]
        for r in topology_census(df, start_col="s", end_col="e", id_col="id").collect()
    }
    # pairs (ordered, both directions): a-b precedes/follows (touching),
    # a-c contains/during; b-c are strictly disjoint -> never related,
    # matching the reference's R*-tree intersect probe
    # (spatio_temporal_relationships.py:496-587)
    assert got == {"precedes": 1, "follows": 1, "contains": 1, "during": 1}


def test_topology_census_no_cartesian_plan(spark):
    """Plan contract (VERDICT round-1 #5): the candidate join is a
    banded equi-join — no CartesianProduct / BroadcastNestedLoopJoin."""
    df = spark.createDataFrame(
        [("a", datetime(2001, 1, 1), datetime(2001, 1, 2))], ["id", "s", "e"]
    )
    plan = topology_census(
        df, start_col="s", end_col="e", id_col="id"
    )._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_topology_census_keys_bound(spark):
    """keys= adds an equality to the bucket join: same-extent pairs in
    different groups are never related."""
    df = spark.createDataFrame(
        [
            ("g1", "a", datetime(2001, 1, 1), datetime(2001, 1, 10)),
            ("g1", "b", datetime(2001, 1, 3), datetime(2001, 1, 5)),
            ("g2", "c", datetime(2001, 1, 1), datetime(2001, 1, 10)),
        ],
        ["grp", "id", "s", "e"],
    )
    got = {
        r["relation"]: r["cnt"]
        for r in topology_census(
            df, start_col="s", end_col="e", id_col="id", keys=["grp"]
        ).collect()
    }
    # only a-b within g1 relate (contains/during); c never pairs across groups
    assert got == {"contains": 1, "during": 1}


# ---------------- accumulate ----------------


def test_accumulate_gdd_golden(spark):
    rows = [("c", datetime(2001, 1, i + 1), v) for i, v in enumerate([5.0, 15.0, 25.0])]
    df = spark.createDataFrame(rows, ["conv_id", "ts", "value"])
    out = accumulate(df, lower=10.0, method="gdd").orderBy("ts").collect()
    assert [r["acc"] for r in out] == [0.0, 5.0, 20.0]


def test_accumulate_upper_cap(spark):
    rows = [("c", datetime(2001, 1, 1), 100.0)]
    df = spark.createDataFrame(rows, ["conv_id", "ts", "value"])
    out = accumulate(df, lower=10.0, upper=30.0, method="gdd").collect()
    assert out[0]["acc"] == 20.0  # min(100,30) - 10


def test_accumulate_cycle_reset(spark):
    rows = [
        ("c", datetime(2001, 1, 5), 1.0),
        ("c", datetime(2001, 1, 20), 2.0),
        ("c", datetime(2001, 2, 5), 4.0),   # new monthly cycle
    ]
    df = spark.createDataFrame(rows, ["conv_id", "ts", "value"])
    out = accumulate(
        df, method="sum", cycle="1 month", origin=datetime(2001, 1, 1)
    ).orderBy("ts").collect()
    assert [r["acc"] for r in out] == [1.0, 3.0, 4.0]
    assert [r["cycle_idx"] for r in out] == [0, 0, 1]


def test_accdetect_indicator(spark):
    rows = [("c", datetime(2001, 1, d), 10.0) for d in range(1, 6)]
    df = spark.createDataFrame(rows, ["conv_id", "ts", "value"])
    acc = accumulate(df, method="sum")  # acc: 10,20,30,40,50
    out = accdetect(acc, 20, 40).orderBy("ts").collect()
    assert [r["indicator"] for r in out] == [None, 1, 2, 3, None]
    assert all(
        r["occurrence"] == datetime(2001, 1, 2) for r in out
    )


# ---------------- timeshift ----------------


def test_shift_calendar_and_fixed(spark):
    df = spark.createDataFrame(
        [(datetime(2001, 1, 15), datetime(2001, 2, 15))],
        ["start_time", "end_time"],
    )
    m = shift(df, "2 months").collect()[0]
    assert m["start_time"] == datetime(2001, 3, 15)
    assert m["end_time"] == datetime(2001, 4, 15)
    d = shift(df, "3 days").collect()[0]
    assert d["start_time"] == datetime(2001, 1, 18)


def test_snap_closes_gaps(spark):
    df = spark.createDataFrame(
        [
            ("c", datetime(2001, 1, 1), datetime(2001, 1, 10)),
            ("c", datetime(2001, 2, 1), datetime(2001, 2, 10)),
        ],
        ["k", "start_time", "end_time"],
    )
    out = snap(df, keys=["k"]).orderBy("start_time").collect()
    assert out[0]["end_time"] == datetime(2001, 2, 1)   # snapped to next start
    assert out[1]["end_time"] == datetime(2001, 2, 10)  # last keeps its end


def test_snap_last_gets_granularity_end(spark):
    df = spark.createDataFrame(
        [("c", datetime(2001, 1, 1), None)],
        "k string, start_time timestamp, end_time timestamp",
    )
    out = snap(df, keys=["k"], gran="1 month").collect()[0]
    assert out["end_time"] == datetime(2001, 2, 1)


def test_list_deltas(spark):
    df = spark.createDataFrame(
        [
            ("c", datetime(2001, 1, 1), datetime(2001, 1, 2)),
            ("c", datetime(2001, 1, 5), datetime(2001, 1, 6)),
        ],
        ["k", "start_time", "end_time"],
    )
    out = list_deltas(df, keys=["k"]).orderBy("start_time").collect()
    assert out[0]["delta"] == 86400.0
    assert out[0]["distance_from_begin"] == 0.0
    assert out[0]["gap_to_next"] == 3 * 86400.0
    assert out[1]["distance_from_begin"] == 4 * 86400.0
    assert out[1]["gap_to_next"] is None


# ---------------------------------------------------------------------------
# t.rast.neighbors temporal analog (round 2)
# ---------------------------------------------------------------------------


def test_neighbors_rolling_kernels(spark):
    from datetime import datetime, timedelta
    from grass_spark.operators.neighbors import neighbors

    rows = [("c", datetime(2024, 1, 1) + timedelta(days=i), float(v))
            for i, v in enumerate([10, 20, 60, 40, 50])]
    df = spark.createDataFrame(rows, ["k", "bucket_start", "value"])
    out = neighbors(
        df, keys=["k"], size=3,
        methods=("average", "median", "minimum", "maximum", "sum",
                 "count", "range", "diversity", "quart1"),
    ).orderBy("bucket_start").collect()

    assert [r["average"] for r in out] == [15.0, 30.0, 40.0, 50.0, 45.0]
    assert [r["median"] for r in out] == [15.0, 20.0, 40.0, 50.0, 45.0]
    assert [r["minimum"] for r in out] == [10.0, 10.0, 20.0, 40.0, 40.0]
    assert [r["maximum"] for r in out] == [20.0, 60.0, 60.0, 60.0, 50.0]
    assert [r["sum"] for r in out] == [30.0, 90.0, 120.0, 150.0, 90.0]
    assert [r["count"] for r in out] == [2, 3, 3, 3, 2]
    assert [r["range"] for r in out] == [10.0, 50.0, 40.0, 20.0, 10.0]
    assert [r["diversity"] for r in out] == [2, 3, 3, 3, 2]
    # quart1 of [10,20,60] (HF-7): 15.0
    assert out[1]["quart1"] == 15.0


def test_neighbors_size_validation(spark):
    from datetime import datetime
    from grass_spark.operators.neighbors import neighbors
    import pytest as _pt

    df = spark.createDataFrame(
        [("c", datetime(2024, 1, 1), 1.0)], ["k", "bucket_start", "value"]
    )
    with _pt.raises(ValueError):
        neighbors(df, keys=["k"], size=4)
    with _pt.raises(KeyError):
        neighbors(df, keys=["k"], size=3, methods=("bogus",))


def test_neighbors_quantile_and_per_key_isolation(spark):
    from datetime import datetime, timedelta
    from grass_spark.operators.neighbors import neighbors

    rows = []
    for k in ("a", "b"):
        base = 0.0 if k == "a" else 1000.0
        rows += [(k, datetime(2024, 1, 1) + timedelta(days=i), base + i * 10)
                 for i in range(4)]
    df = spark.createDataFrame(rows, ["k", "bucket_start", "value"])
    out = neighbors(df, keys=["k"], size=3, methods=("quantile", "maximum"),
                    quantile=0.9)
    got = {(r["k"], r["bucket_start"].day): r["maximum"]
           for r in out.collect()}
    # windows never cross keys
    assert got[("a", 4)] == 30.0
    assert got[("b", 1)] == 1010.0


def test_snap_equal_starts_inherit_next_end(spark):
    """ADVICE round-1: duplicate-start rows inherit the next row's end
    (the reference's clobbered-``end`` branch,
    abstract_space_time_dataset.py:2180-2198), deterministically."""
    from grass_spark.operators.timeshift import snap

    df = spark.createDataFrame(
        [
            ("k", datetime(2001, 1, 1), datetime(2001, 1, 2)),
            ("k", datetime(2001, 1, 1), datetime(2001, 1, 3)),
            ("k", datetime(2001, 1, 8), datetime(2001, 1, 9)),
        ],
        ["k", "start_time", "end_time"],
    )
    out = snap(df, keys=["k"]).orderBy("start_time", "end_time").collect()
    # duplicate-start row (sorted first by end) inherits twin's end 1/3
    assert out[0]["end_time"] == datetime(2001, 1, 3)
    # its twin snaps to the next distinct start
    assert out[1]["end_time"] == datetime(2001, 1, 8)
    # last row keeps its own end
    assert out[2]["end_time"] == datetime(2001, 1, 9)


def test_resample_matches_reference_doctests(spark):
    """The reference's own resample_maplist_by_granularity doctests
    (abstract_space_time_dataset.py:1242-1352), relative times mapped
    to minutes.  Case 2 exercises the builder-widened DURING class: the
    granule [4,6) *finishes* map1=[2,6) and must still resolve to it."""
    T = lambda m: datetime(2024, 1, 1, 0, m)  # noqa: E731
    maps = spark.createDataFrame(
        [("map1", T(2), T(6)), ("map2", T(7), T(13))],
        "map_id string, ts timestamp, te timestamp",
    )
    grans = spark.createDataFrame(
        [(T(i), T(i + 2)) for i in range(0, 16, 2)],
        "bucket_start timestamp, bucket_end timestamp",
    )
    out = {
        r["granule_start"].minute: r["map_id"]
        for r in resample_by_granularity(
            maps, grans, map_start="ts", map_end="te"
        ).collect()
    }
    assert out == {
        0: None, 2: "map1", 4: "map1", 6: "map2",
        8: "map2", 10: "map2", 12: "map2", 14: None,
    }
    # doctest case 3: point-type maps -> only the granule whose start
    # equals the map's instant resolves (widened CONTAINS via the
    # instant branch), everything else is a gap
    pmaps = spark.createDataFrame(
        [("map1", T(2)), ("map2", T(7))], "map_id string, ts timestamp"
    )
    pout = {
        r["granule_start"].minute: r["map_id"]
        for r in resample_by_granularity(pmaps, grans, map_start="ts").collect()
    }
    assert pout == {
        0: None, 2: "map1", 4: None, 6: "map2",
        8: None, 10: None, 12: None, 14: None,
    }


def test_resample_keeps_every_map_of_winning_class(spark):
    """The reference returns ALL maps of the first non-empty class per
    granule (map_list += relations[relation]), not just one."""
    T = lambda m: datetime(2024, 1, 1, 0, m)  # noqa: E731
    maps = spark.createDataFrame(
        [("a", T(1), T(2)), ("b", T(3), T(4))],
        "map_id string, ts timestamp, te timestamp",
    )
    grans = spark.createDataFrame(
        [(T(0), T(6))], "bucket_start timestamp, bucket_end timestamp"
    )
    rows = sorted(
        resample_by_granularity(maps, grans, map_start="ts", map_end="te").collect(),
        key=lambda r: r["rank"],
    )
    assert [(r["map_id"], r["rank"]) for r in rows] == [("a", 0), ("b", 1)]


def test_topology_census_widened_counts(spark):
    """A starts/finishes pair also increments during (and its dual
    started/finished increments contains) — t.topology sums the
    builder's per-map lists (spatio_temporal_relationships.py:608-672,
    count_temporal_topology_relationships)."""
    df = spark.createDataFrame(
        [
            ("a", datetime(2001, 1, 1), datetime(2001, 1, 10)),
            ("b", datetime(2001, 1, 1), datetime(2001, 2, 1)),  # a starts b
        ],
        ["id", "s", "e"],
    )
    got = {
        r["relation"]: r["cnt"]
        for r in topology_census(df, start_col="s", end_col="e", id_col="id").collect()
    }
    assert got == {"starts": 1, "started": 1, "during": 1, "contains": 1}
