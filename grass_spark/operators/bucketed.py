"""Bucketed (co-located) tier storage — the shuffle-free cascade.

Writing the raw transcript table and each rollup tier with
``bucketBy(N, conv_id)`` hash-clusters every conversation into a fixed
set of bucket files.  Spark's ``HashPartitioning(conv_id)`` from a
bucketed scan *satisfies* the ``ClusteredDistribution`` required by any
operator whose keys include ``conv_id``, so all of the following plan
with ZERO ``Exchange`` nodes:

* every tier aggregation ``groupBy(conv_id, bucket_start)`` —
  rollup_from_raw AND every rollup_from_tier re-aggregation
  (``bucket_start`` is derived per row, but rows sharing
  (conv_id, bucket) already share a bucket file);
* every per-conversation window — sessionize, snap, accumulate,
  gapfill all partition by the conversation key;
* joins on ``conv_id`` between co-bucketed tables (tier-to-tier
  attach, manifest joins): SortMergeJoin with no shuffle on either
  side, and no Sort either when each bucket holds one file written
  with ``sortBy(conv_id, ts)``.

This removes the only unavoidable shuffles listed in PLANS.md's scale
disposition.  At 100 TB the cascade becomes N independent per-bucket
pipelines: scan bucket -> aggregate minute -> hour -> day without a
byte crossing the network.  (GRASS gets the same effect physically:
each map is its own file under a mapset, so per-map statistics never
touch other maps' cells — bucketing is that layout expressed to
Catalyst.)

Sizing: bucket count is FIXED at write time (AQE cannot split a
bucket), so choose ``buckets`` for ~128-512 MB of compressed data per
bucket at the TARGET scale — e.g. ~65k buckets for 100 TB raw — and
keep it a power of two so a later 2x re-bucketing aligns.  Skew note:
buckets hash conv_id, so a single pathological conversation cannot be
split; cap conversation length upstream or route outliers separately.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame


def write_bucketed(
    df: DataFrame,
    table: str,
    *,
    buckets: int,
    key: str | Sequence[str] = "conv_id",
    sort: Sequence[str] | None = ("conv_id", "ts"),
    partition_by: Sequence[str] | None = None,
    path: str | None = None,
    mode: str = "overwrite",
    fmt: str = "parquet",
) -> DataFrame:
    """Write ``df`` as a bucketed table and return the re-read frame.

    ``sort`` defaults to (conv_id, ts); pass the tier's own ordering
    (e.g. ``("conv_id", "bucket_start")``) when writing rollup tiers,
    or None to skip sortBy.  ``path`` makes the table external (data
    under ``path`` instead of the session warehouse dir).  Sort columns
    missing from ``df`` are dropped silently so one call site can serve
    raw (ts) and tier (bucket_start) schemas.

    ``partition_by`` composes directory partitioning WITH bucketing —
    the production tier layout: partition by day for resume/partition
    pruning (the manifest's ``NOT d IN (...)`` filter never lists
    pruned directories), bucket by conv_id inside each day so
    per-conversation aggs/windows/joins stay shuffle-free.  Each
    (day, bucket) pair is its own file set.
    """
    spark = df.sparkSession
    keys = [key] if isinstance(key, str) else list(key)
    w = df.write.mode(mode).format(fmt).bucketBy(buckets, *keys)
    if sort:
        cols = [c for c in sort if c in df.columns]
        if cols:
            w = w.sortBy(*cols)
    if partition_by:
        w = w.partitionBy(*partition_by)
    if path is not None:
        w = w.option("path", path)
    # a pre-existing table with a different bucket spec makes overwrite
    # fail; recreate the metadata from scratch instead
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    w.saveAsTable(table)
    return spark.table(table)

