"""Bucketed tier storage: shuffle-free cascade plan contracts.

The claim under test (operators/bucketed.py): a conv_id-bucketed scan
exposes HashPartitioning(conv_id), so groupBy / window / join keyed by
any superset of conv_id plans with ZERO Exchange — and produces
identical results to the shuffled plan over plain parquet.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from grass_spark.datagen import synth_transcripts
from grass_spark.operators.bucketed import write_bucketed
from grass_spark.operators.rollup import rollup_from_raw, rollup_from_tier

ORIGIN = dt.datetime(2024, 1, 1)


def _n_exchanges(df) -> int:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.count("Exchange")


@pytest.fixture(scope="module")
def bucketed_raw(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("bucketed")
    raw = synth_transcripts(spark, n_convs=60, avg_turns=40, seed=13)
    plain_path = str(base / "plain")
    raw.write.mode("overwrite").parquet(plain_path)
    t = write_bucketed(
        raw, "t_raw_bucketed", buckets=8, path=str(base / "raw_bucketed")
    )
    yield {"table": t, "plain_path": plain_path, "base": base}
    spark.sql("DROP TABLE IF EXISTS t_raw_bucketed")


def test_rollup_from_raw_no_exchange(spark, bucketed_raw):
    tier = rollup_from_raw(bucketed_raw["table"], "1 minute", ORIGIN, ["conv_id"])
    assert _n_exchanges(tier) == 0
    # the same plan over plain parquet needs the shuffle
    plain = spark.read.parquet(bucketed_raw["plain_path"])
    assert _n_exchanges(rollup_from_raw(plain, "1 minute", ORIGIN, ["conv_id"])) >= 1


def test_full_cascade_no_exchange(spark, bucketed_raw):
    """minute from bucketed raw, hour from bucketed minute, day from
    bucketed hour — zero Exchange END TO END."""
    base = bucketed_raw["base"]
    lower = bucketed_raw["table"]
    total = 0
    for gran, name in (("1 minute", "t_t0"), ("1 hour", "t_t1"), ("1 day", "t_t2")):
        tier = (
            rollup_from_raw(lower, gran, ORIGIN, ["conv_id"])
            if name == "t_t0"
            else rollup_from_tier(lower, gran, ORIGIN, ["conv_id"])
        )
        total += _n_exchanges(tier)
        lower = write_bucketed(
            tier, name, buckets=8,
            sort=("conv_id", "bucket_start"), path=str(base / name),
        )
    assert total == 0
    for name in ("t_t0", "t_t1", "t_t2"):
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_per_conversation_window_no_exchange(spark, bucketed_raw):
    w = Window.partitionBy("conv_id").orderBy("ts", "turn_idx")
    df = bucketed_raw["table"].withColumn(
        "gap_s",
        F.col("ts").cast("long") - F.lag("ts").over(w).cast("long"),
    )
    assert _n_exchanges(df) == 0


def test_cobucketed_join_no_exchange(spark, bucketed_raw):
    """Two tables bucketed the same way join on conv_id with no
    shuffle on either side."""
    base = bucketed_raw["base"]
    tier = rollup_from_raw(bucketed_raw["table"], "1 hour", ORIGIN, ["conv_id"])
    hours = write_bucketed(
        tier, "t_hours_b", buckets=8,
        sort=("conv_id", "bucket_start"), path=str(base / "hours_b"),
    )
    per_conv = hours.groupBy("conv_id").agg(F.sum("turn_cnt").alias("conv_turns"))
    joined = hours.join(per_conv, "conv_id")
    # broadcast would hide the contract on this tiny fixture — force SMJ
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        assert _n_exchanges(joined) == 0
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    spark.sql("DROP TABLE IF EXISTS t_hours_b")


def test_bucketed_results_identical(spark, bucketed_raw):
    plain = spark.read.parquet(bucketed_raw["plain_path"])
    a = (
        rollup_from_raw(bucketed_raw["table"], "1 hour", ORIGIN, ["conv_id"])
        .orderBy("conv_id", "bucket_start")
        .collect()
    )
    b = (
        rollup_from_raw(plain, "1 hour", ORIGIN, ["conv_id"])
        .orderBy("conv_id", "bucket_start")
        .collect()
    )
    assert a == b


def test_sort_columns_filtered_to_schema(spark, bucketed_raw):
    """Default sort spec mentions ts; writing a tier frame (no ts
    column) must not fail — missing sort columns are dropped."""
    base = bucketed_raw["base"]
    tier = rollup_from_raw(bucketed_raw["table"], "1 day", ORIGIN, ["conv_id"])
    t = write_bucketed(tier, "t_day_b", buckets=4, path=str(base / "day_b"))
    assert spark.table("t_day_b").count() == tier.count()
    spark.sql("DROP TABLE IF EXISTS t_day_b")


def test_partitioned_and_bucketed_compose(spark, bucketed_raw):
    """The production tier layout: partitionBy(d) for pruning +
    bucketBy(conv_id) for shuffle-free reads, in ONE table.  Both
    properties must hold simultaneously: the day filter prunes
    partitions at scan time AND the per-conv agg plans no Exchange."""
    base = bucketed_raw["base"]
    tier = rollup_from_raw(bucketed_raw["table"], "1 hour", ORIGIN, ["conv_id"])
    tier = tier.withColumn("d", F.to_date("bucket_start"))
    t = write_bucketed(
        tier, "t_pb", buckets=4, sort=("conv_id", "bucket_start"),
        partition_by=("d",), path=str(base / "pb"),
    )
    days = sorted(r.d for r in t.select("d").distinct().collect())
    assert len(days) >= 2
    one_day = t.where(F.col("d") == days[0])
    agg = one_day.groupBy("conv_id").agg(F.sum("turn_cnt").alias("n"))
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 0
    # partition pruning: the day predicate appears as a partition filter
    assert "PartitionFilters" in plan and "isnotnull(d" in plan
    # correctness through the composed layout
    got = {r.conv_id: r.n for r in agg.collect()}
    want = {
        r.conv_id: r.n
        for r in tier.where(F.col("d") == days[0])
        .groupBy("conv_id").agg(F.sum("turn_cnt").alias("n")).collect()
    }
    assert got == want
    spark.sql("DROP TABLE IF EXISTS t_pb")
