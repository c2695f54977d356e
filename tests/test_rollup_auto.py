"""layout="auto": RollupPipeline picks plain vs bucketed per store from
MEASURED day density (the decision rule BASELINE.md's write-cost matrix
derives: day-sparse -> plain, dense conversation-keyed days ->
bucketed), pins the choice, and records it with its evidence in the
manifest (round-3 VERDICT item #5).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from grass_spark.operators.rollup import MIN_BUCKET_DAY_ROWS, RollupPipeline


def _shaped_raw(spark, n_days: int, rows_per_day: int):
    """Deterministic raw transcripts with an exact (days, rows/day)
    shape — the layout decision's only inputs."""
    n = n_days * rows_per_day
    base = 1704067200  # 2024-01-01 UTC
    return (
        spark.range(n)
        .withColumn(
            "conv_id",
            F.concat(F.lit("c"), (F.col("id") % 50).cast("string")),
        )
        .withColumn(
            "ts",
            F.timestamp_seconds(
                F.lit(base)
                + (F.col("id") / rows_per_day).cast("long") * 86400
                + (F.col("id") % rows_per_day) % 86400
            ),
        )
        .withColumn("role", F.lit("user"))
        .withColumn("tool", F.lit(None).cast("string"))
        .withColumn("text", F.lit("hello world"))
        .drop("id")
    )


def _pin(base):
    with open(os.path.join(base, "_layout.json")) as f:
        return json.load(f)


def test_auto_picks_bucketed_on_dense_days(spark, tmp_path):
    base = str(tmp_path / "tiers")
    raw = _shaped_raw(spark, n_days=3, rows_per_day=20000)
    pipe = RollupPipeline(base, layout="auto", buckets=2)
    pipe.run(raw)
    assert pipe.layout == "bucketed"
    assert _pin(base) == {"layout": "bucketed", "buckets": 2}
    dec = pipe.manifest.get_meta("layout_decision")
    assert dec["layout"] == "bucketed" and dec["median_day_rows"] == 20000
    assert dec["buckets_t0"] == 2 and dec["n_days"] == 3
    # the written store really is bucketed: catalog table exists and a
    # keyed agg over it plans shuffle-free
    lower = pipe._read_tier_frame(spark, "t1m")
    agg = lower.groupBy("conv_id", "bucket_start").agg(F.sum("turn_cnt"))
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 0


def test_auto_picks_plain_on_sparse_days(spark, tmp_path):
    base = str(tmp_path / "tiers")
    raw = _shaped_raw(spark, n_days=30, rows_per_day=100)
    pipe = RollupPipeline(base, layout="auto", buckets=2)
    pipe.run(raw)
    assert pipe.layout == "plain"
    assert _pin(base) == {"layout": "plain"}
    dec = pipe.manifest.get_meta("layout_decision")
    assert dec["layout"] == "plain" and dec["median_day_rows"] == 100


def test_auto_adopts_existing_pin_without_redeciding(spark, tmp_path):
    """An existing store's layout is a fact — auto must adopt the pin
    even when the new input's density would decide differently."""
    base = str(tmp_path / "tiers")
    dense = _shaped_raw(spark, n_days=3, rows_per_day=20000)
    RollupPipeline(base, layout="auto", buckets=2).run(dense)
    # re-open with auto and feed day-sparse data: stays bucketed
    sparse = _shaped_raw(spark, n_days=30, rows_per_day=100)
    pipe2 = RollupPipeline(base, layout="auto", buckets=2)
    assert pipe2.layout == "bucketed"  # adopted in the constructor
    pipe2.run(sparse, incremental=True)
    assert _pin(base) == {"layout": "bucketed", "buckets": 2}


def test_auto_treats_legacy_prepin_store_as_plain(spark, tmp_path):
    base = str(tmp_path / "tiers")
    raw = _shaped_raw(spark, n_days=3, rows_per_day=20000)
    RollupPipeline(base).run(raw)
    os.remove(os.path.join(base, "_layout.json"))  # simulate pre-pin
    pipe = RollupPipeline(base, layout="auto", buckets=2)
    assert pipe.layout == "plain"
    assert _pin(base) == {"layout": "plain"}


def test_explicit_layout_overrides_density(spark, tmp_path):
    """auto is opt-in: an explicit layout wins regardless of shape."""
    base = str(tmp_path / "tiers")
    dense = _shaped_raw(spark, n_days=3, rows_per_day=20000)
    pipe = RollupPipeline(base, layout="plain")
    pipe.run(dense)
    assert pipe.layout == "plain" and _pin(base) == {"layout": "plain"}


# -- the density rule itself (no Spark: run() feeds it the measured
# per-day raw counts; these pin its boundary and its manifest record)


def _decide(tmp_path, day_counts, buckets=2):
    pipe = RollupPipeline(str(tmp_path / "tiers"), layout="auto",
                          buckets=buckets)
    pipe._resolve_auto_layout(day_counts)
    return pipe


def test_density_threshold_boundary_is_inclusive(tmp_path):
    at = MIN_BUCKET_DAY_ROWS * 2
    pipe = _decide(tmp_path / "at", {"d1": at, "d2": at, "d3": at})
    assert pipe.layout == "bucketed"
    assert _pin(pipe.base_dir) == {"layout": "bucketed", "buckets": 2}
    below = _decide(tmp_path / "below", {"d1": at - 1, "d2": at - 1})
    assert below.layout == "plain"
    assert _pin(below.base_dir) == {"layout": "plain"}


def test_density_uses_the_median_day(tmp_path):
    """One huge day does not make a day-sparse store dense; the upper
    median decides an even day count."""
    dense = MIN_BUCKET_DAY_ROWS * 2
    pipe = _decide(tmp_path / "a", {"d1": 10, "d2": 10, "d3": 10**9})
    assert pipe.layout == "plain"
    dec = pipe.manifest.get_meta("layout_decision")
    assert dec["median_day_rows"] == 10 and dec["n_days"] == 3
    even = _decide(tmp_path / "b", {"d1": 10, "d2": dense})
    assert even.layout == "bucketed"
    assert even.manifest.get_meta("layout_decision")["median_day_rows"] == dense


def test_density_scales_with_finest_tier_buckets(tmp_path):
    rows = MIN_BUCKET_DAY_ROWS * 4
    per_tier = {"t1m": 8, "t1h": 2, "t1d": 1}
    pipe = _decide(tmp_path / "a", {"d1": rows}, buckets=per_tier)
    assert pipe.layout == "plain"  # 4 buckets' worth < t1m's 8
    dec = pipe.manifest.get_meta("layout_decision")
    assert dec["buckets_t0"] == 8
    assert _decide(tmp_path / "b", {"d1": rows}, buckets=4).layout == "bucketed"


def test_layout_decision_record_keys(tmp_path):
    pipe = _decide(tmp_path, {"d1": 100, "d2": 200})
    assert pipe.manifest.get_meta("layout_decision") == {
        "layout": "plain",
        "median_day_rows": 200,
        "n_days": 2,
        "buckets_t0": 2,
        "threshold_rows_per_bucket_day": MIN_BUCKET_DAY_ROWS,
    }
