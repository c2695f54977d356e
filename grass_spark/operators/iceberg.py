"""Iceberg tier storage — the documented scale path for tier tables.

PLANS.md maps the rollup's day-partitioned parquet layout onto Iceberg:
``days(bucket_start)`` partition transform, idempotent re-materialization
via ``overwritePartitions`` (dynamic overwrite of exactly the day
partitions present in the frame), and the table's current snapshot-id
as the ``input_fingerprint`` for the resume manifest.  This module is
that mapping as code, on the DataFrameWriterV2 API.

The sandbox container has no Iceberg runtime jar, so every entry point
probes for ``org.apache.iceberg.spark.SparkCatalog`` first and raises
:class:`IcebergUnavailable` when absent — ``tests/test_iceberg.py``
skips cleanly here and runs for real wherever the runtime exists
(spark-submit --packages org.apache.iceberg:iceberg-spark-runtime).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.functions import bucket, days


class IcebergUnavailable(RuntimeError):
    pass


def iceberg_available(spark: SparkSession) -> bool:
    """True when the Iceberg Spark runtime is on the classpath."""
    try:
        spark._jvm.java.lang.Class.forName(  # type: ignore[union-attr]
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


def _require(spark: SparkSession) -> None:
    if not iceberg_available(spark):
        raise IcebergUnavailable(
            "Iceberg Spark runtime not on the classpath; tier tables fall "
            "back to day-partitioned parquet (see PLANS.md)"
        )


def create_tier_table(
    spark: SparkSession,
    table: str,
    like: DataFrame,
    *,
    bucket_col: str = "bucket_start",
    conv_buckets: int | None = None,
    key_col: str = "conv_id",
) -> None:
    """CREATE TABLE … USING iceberg PARTITIONED BY (days(bucket_col)
    [, bucket(conv_buckets, key_col)]) — the Iceberg twin of the tier
    layout.

    ``conv_buckets`` composes day pruning WITH conversation
    co-location — the Iceberg form of the bucketed parquet tier, which
    takes dynamic per-day overwrites through ``insertInto`` into its
    ``CLUSTERED BY`` table.  Iceberg's ``bucket()`` partition transform
    takes them through ``overwritePartitions`` unchanged, committed
    atomically across days, and with
    ``spark.sql.sources.v2.bucketing.enabled`` (storage-partitioned
    joins, Spark 3.3+) scans over the bucket transform expose the same
    shuffle-free grouping ``operators/bucketed.py`` proves on
    saveAsTable parquet."""
    _require(spark)
    # days() transform — hidden partitioning on the bucket timestamp
    parts = [days(bucket_col)]
    if conv_buckets is not None:
        parts.append(bucket(conv_buckets, key_col))
    like.limit(0).writeTo(table).using("iceberg").partitionedBy(
        *parts
    ).createOrReplace()


def overwrite_tier_partitions(df: DataFrame, table: str) -> None:
    """Idempotent re-materialization: dynamically replace exactly the
    day partitions present in ``df`` (the parquet path's
    ``partitionOverwriteMode=dynamic`` equivalent)."""
    _require(df.sparkSession)
    df.writeTo(table).overwritePartitions()


def current_snapshot_id(spark: SparkSession, table: str) -> int | None:
    """The table's current snapshot id — used as the
    ``input_fingerprint`` in the checkpoint manifest so resume can tell
    whether the upstream tier advanced."""
    _require(spark)
    rows = spark.sql(
        f"SELECT snapshot_id FROM {table}.snapshots "
        "ORDER BY committed_at DESC LIMIT 1"
    ).collect()
    return rows[0]["snapshot_id"] if rows else None


def read_tier(spark: SparkSession, table: str) -> DataFrame:
    _require(spark)
    return spark.read.table(table)
