"""Streaming continuous aggregates — the always-on form of the tier
cascade.

GRASS is batch-only (SURVEY §2.10): its incremental story is
``t.register`` appends + ``update_from_registered_maps``.  The batch
engine mirrors that with manifest-based incremental runs
(:meth:`grass_spark.operators.rollup.RollupPipeline.run` with
``incremental=True``).  This module adds the genuinely streaming form
for pipelines fed continuously: Structured Streaming over the raw
transcript directory with event-time tumbling windows + a watermark for
late turns.

Design choices:

* the minute tier is a windowed streaming aggregation (state bounded by
  the watermark); hour/day tiers are NOT separate streaming aggs —
  chained streaming aggregations need one watermark per hop and triple
  the state.  Instead ``foreachBatch`` upserts minute-tier output and
  re-aggregates the touched days into hour/day with the SAME batch
  cascade code — exactly-once per epoch via idempotent day overwrite.
* append mode + watermark: a bucket is emitted once its window is
  older than the watermark (late data inside the horizon is merged by
  the state store; later than that is dropped — GRASS has no analog,
  this is the streaming-only semantic).
* layout: the stream writes plain ``(d, epoch)``-partitioned parquet —
  freshness over clustering.  Consumers who want the 0-Exchange
  bucketed layout run the batch publish over the closed days
  (``RollupPipeline(layout="bucketed").run(raw, incremental=True)``):
  streaming owns the live edge, the pipeline owns the storage layout —
  the standard lambda split, both reading the same raw directory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from grass_spark.operators.rollup import TIER_METRICS, raw_metric_aggs

RAW_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)


def stream_minute_tier(
    spark: SparkSession,
    input_path: str,
    *,
    watermark: str = "10 minutes",
    keys: list[str] | None = None,
) -> DataFrame:
    """readStream over the raw directory -> per-(conv, 1-min window)
    continuous aggregate (same metric set as the batch minute tier)."""
    keys = ["conv_id"] if keys is None else list(keys)
    raw = (
        spark.readStream.schema(RAW_SCHEMA)
        .option("maxFilesPerTrigger", 16)
        .parquet(input_path)
    )
    return (
        raw.withWatermark("ts", watermark)
        .groupBy(*keys, F.window("ts", "1 minute").alias("win"))
        .agg(*raw_metric_aggs())
        .select(
            *keys,
            F.col("win.start").alias("bucket_start"),
            F.col("win.end").alias("bucket_end"),
            *TIER_METRICS,
        )
    )


def run_stream_cascade(
    spark: SparkSession,
    input_path: str,
    base_dir: str,
    checkpoint: str,
    *,
    watermark: str = "10 minutes",
    keys: list[str] | None = None,
) -> None:
    """The full continuous cascade the module docstring describes:
    the minute tier streams (windowed agg + watermark, append mode);
    each epoch's ``foreachBatch`` upserts the emitted minute windows
    and re-aggregates ONLY the touched days into the hour and day
    tiers with the same batch kernels.

    Exactly-once per epoch: minute output lands under a
    ``(d, epoch)`` partition (a replayed epoch dynamically overwrites
    itself), and the hour/day tiers are recomputed deterministically
    from the full minute state of the touched days — so replays
    converge to the same bytes.  Hour/day granules are calendar-aligned
    (unit-boundary origins), so per-epoch alignment is globally
    consistent."""
    import os

    from grass_spark.functions.granularity import (
        adjust_datetime_to_granularity,
    )
    from grass_spark.operators.rollup import rollup_from_tier

    keys = ["conv_id"] if keys is None else list(keys)
    minute_path = os.path.join(base_dir, "t1m")
    hour_path = os.path.join(base_dir, "t1h")
    day_path = os.path.join(base_dir, "t1d")

    def upsert(batch: DataFrame, epoch_id: int) -> None:
        b = batch.withColumn(
            "d", F.date_format("bucket_start", "yyyy-MM-dd")
        ).withColumn("epoch", F.lit(int(epoch_id)))
        if b.isEmpty():
            return
        b.write.mode("overwrite").partitionBy("d", "epoch").parquet(minute_path)
        days = [r["d"] for r in b.select("d").distinct().collect()]

        sess = batch.sparkSession
        minute = sess.read.parquet(minute_path).filter(
            F.col("d").cast("string").isin(days)
        )
        t0 = minute.agg(F.min("bucket_start")).collect()[0][0]
        hour = rollup_from_tier(
            minute, "1 hour", adjust_datetime_to_granularity(t0, "1 hour"), keys
        ).withColumn("d", F.date_format("bucket_start", "yyyy-MM-dd"))
        hour.write.mode("overwrite").partitionBy("d").parquet(hour_path)

        hour_all = sess.read.parquet(hour_path).filter(
            F.col("d").cast("string").isin(days)
        )
        day = rollup_from_tier(
            hour_all, "1 day", adjust_datetime_to_granularity(t0, "1 day"), keys
        ).withColumn("d", F.date_format("bucket_start", "yyyy-MM-dd"))
        day.write.mode("overwrite").partitionBy("d").parquet(day_path)

    tier = stream_minute_tier(spark, input_path, watermark=watermark, keys=keys)
    q = (
        tier.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .foreachBatch(upsert)
        .start()
    )
    q.awaitTermination()


def run_stream_once(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint: str,
    *,
    watermark: str = "10 minutes",
) -> None:
    """Drain everything currently available (Trigger.AvailableNow) into
    the minute tier — the batch-incremental execution of the streaming
    plan, resumable from the streaming checkpoint."""
    tier = stream_minute_tier(spark, input_path, watermark=watermark)
    q = (
        tier.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .format("parquet")
        .option("path", output_path)
        .start()
    )
    q.awaitTermination()
