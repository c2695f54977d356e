"""Correctness gates run after each timed operation, outside its timing.

Each gate returns a list of problems; an empty list means the
operation's output is correct.  The gates read the store's files
directly, not through ``RollupPipeline.read_tier``, so a broken read
path cannot hide a broken write.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from grass_spark.manifest import CheckpointManifest
from grass_spark.operators.rollup import RollupPipeline


def raw_day_counts(raw: DataFrame) -> dict[str, int]:
    """Raw turns per UTC day, the ground truth every tier must sum to."""
    return {
        r["day"]: int(r["n"])
        for r in raw.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }


def check_store(
    spark: SparkSession, pipe: RollupPipeline, day_counts: dict[str, int]
) -> list[str]:
    """Every tier's per-day ``sum(turn_cnt)`` equals the raw per-day
    count, and the persisted manifest lists every (tier, day)."""
    problems = []
    manifest = CheckpointManifest(os.path.join(pipe.base_dir, "manifest.json"))
    for name, _ in pipe.tiers:
        try:
            got = {
                r["day"]: int(r["n"])
                for r in spark.read.parquet(pipe.tier_path(name))
                .groupBy(F.date_format("bucket_start", "yyyy-MM-dd").alias("day"))
                .agg(F.sum("turn_cnt").alias("n"))
                .collect()
            }
        except Exception as e:  # noqa: BLE001 - a corrupt tier is a failed check
            problems.append(f"{name}: unreadable ({type(e).__name__}: {e})")
            continue
        if got != day_counts:
            bad = sorted(d for d in set(got) | set(day_counts) if got.get(d) != day_counts.get(d))
            problems.append(f"{name}: per-day turn_cnt differs from raw on {bad[:5]}")
        listed = {e["part"] for e in manifest.metrics(name) if e["status"] == "ok"}
        if listed != set(day_counts):
            problems.append(
                f"{name}: manifest lists {len(listed)} days, raw has {len(day_counts)}"
            )
    return problems


def check_blocks(spark: SparkSession, pipe: RollupPipeline, tier: str = "t1m") -> list[str]:
    """The decoded block store equals the plain tier bit-exactly on
    ``INT_METRICS`` (both directions of a multiset difference)."""
    cols = [*pipe.keys, "bucket_start", *pipe.INT_METRICS]
    decoded = pipe.read_tier_from_blocks(spark, tier).select(*cols).localCheckpoint()
    plain = spark.read.parquet(pipe.tier_path(tier)).select(*cols)
    extra = decoded.exceptAll(plain).count()
    missing = plain.exceptAll(decoded).count()
    if extra or missing:
        return [f"{tier} blocks: {extra} rows not in the plain tier, {missing} rows lost"]
    return []


def check_answer(name: str, got: list, want: list) -> list[str]:
    """A dashboard answer equals its reference row for row."""
    got = [tuple(r) for r in got]
    want = [tuple(r) for r in want]
    if got == want:
        return []
    if len(got) != len(want):
        return [f"{name}: {len(got)} rows, reference has {len(want)}"]
    first = next(i for i, (a, b) in enumerate(zip(got, want)) if a != b)
    return [f"{name}: row {first} is {got[first]}, reference {want[first]}"]
