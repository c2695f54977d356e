"""Cascading retention-tier rollups — the engine's continuous aggregates.

The reference's STRDS + ``t.rast.aggregate`` pair (SURVEY §2.3) becomes a
three-tier cascade over the transcript table:

    raw turns  ->  1-minute tier  ->  1-hour tier  ->  1-day tier

Each tier holds, per (conv_id, bucket): turn counts, per-role activity,
tool-call activity, and text-length statistics — the transcript
translation of GRASS's per-granule r.series rollup (SURVEY §1.6).

Spark-first decisions, justified at 100 TB:

* **Algebraic cascade.** count/sum/min/max re-aggregate exactly from
  the tier below (hour from minute, day from hour), so the raw table is
  scanned ONCE; upper tiers read ~1/60th and ~1/1440th of the data.
  avg is derived (sum/count), never stored pre-divided.  Holistic
  kernels (median/quantile/mode/diversity) are NOT cascadable —
  :func:`grass_spark.operators.aggregate.aggregate` computes them from
  raw where needed (the reference recomputes from source maps too).
* **One shuffle per tier.** groupBy(conv_id, bucket) is the only
  shuffle; Spark's partial aggregation (map-side combine) absorbs
  hot-conversation skew because the grouping key includes the bucket —
  a conversation with 10^9 turns spreads over ~10^6 minute buckets.
  The write is a ``rebalance`` by day: AQE gives each day one output
  file and splits a day larger than the advisory partition size over
  several tasks, so no single output task owns a hot day.
* **Idempotent, resumable writes.** Output is parquet partitioned by
  bucket day; dynamic partition overwrite + the checkpoint manifest
  (:mod:`grass_spark.manifest`) make mid-tier resume a pure diff of
  target days vs completed days.  Iceberg is the production target
  (same write shape: ``overwritePartitions``); parquet is the sandbox
  fallback — no Iceberg runtime in this container.

Reference parity anchors: granule alignment `t.rast.aggregate.py:152-185`,
NULL handling `lib/stats/c_ave.c:14-15`, metadata/lineage
`strds_metadata_table.sql:8-27`.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructType

from grass_spark.functions.granularity import (
    adjust_datetime_to_granularity,
    bucket_end_col,
    bucket_start_col,
)
from grass_spark.datagen import ROLES
from grass_spark.manifest import CheckpointManifest, PartitionEntry, TierRecord

#: integer metric columns carried by every tier, in column order
TIER_METRICS = ("turn_cnt", *[f"n_{r}" for r in ROLES], "tool_calls",
                "len_cnt", "len_sum", "len_min", "len_max")

#: tier name -> granularity, in cascade order
DEFAULT_TIERS = (("t1m", "1 minute"), ("t1h", "1 hour"), ("t1d", "1 day"))


def _role_count(role: str):
    return F.sum(F.when(F.col("role") == role, 1).otherwise(0)).alias(f"n_{role}")


def raw_metric_aggs() -> list:
    """:data:`TIER_METRICS` as aggregates over raw turns.  ``len_*`` skip
    NULL text like every GRASS kernel skips NULL cells."""
    length = F.length("text")
    return [
        F.count(F.lit(1)).alias("turn_cnt"),
        *[_role_count(r) for r in ROLES],
        F.count("tool").alias("tool_calls"),
        F.count(length).alias("len_cnt"),
        F.sum(length).alias("len_sum"),
        F.min(length).alias("len_min"),
        F.max(length).alias("len_max"),
    ]


def tier_metric_aggs() -> list:
    """:data:`TIER_METRICS` re-aggregated from a finer tier: counts and
    sums add, the length extremes fold by min/max."""
    fold = {"len_min": F.min, "len_max": F.max}
    return [fold.get(m, F.sum)(m).alias(m) for m in TIER_METRICS]


def rollup_from_raw(
    df: DataFrame, granularity: str, origin, keys: list[str],
    sketches: bool = False,
) -> DataFrame:
    """First tier: aggregate raw turns into buckets.

    All metrics are algebraic so upper tiers can re-aggregate exactly.

    ``sketches=True`` additionally carries two mergeable DataSketches
    per bucket (operators/sketches.py): a KLL quantile sketch over turn
    length and an HLL distinct sketch over turn text — so upper tiers
    can answer approximate HOLISTIC stats (len quantiles, distinct
    messages) by sketch merge instead of a raw re-scan.  Opt-in, never
    a parity substitute for the exact kernels.
    """
    bucketed = df.withColumn("bucket_start", bucket_start_col("ts", granularity, origin))
    extra = []
    if sketches:
        from grass_spark.operators.sketches import sketch_aggs

        extra = sketch_aggs(F.length("text"), F.col("text"), "len_kll", "txt_hll")
    return bucketed.groupBy(*keys, "bucket_start").agg(*raw_metric_aggs(), *extra)


def rollup_from_tier(lower: DataFrame, granularity: str, origin, keys: list[str]) -> DataFrame:
    """Re-aggregate an existing tier into coarser buckets (exact for all
    algebraic metrics — this is what makes the cascade read 1/60th of
    the data instead of rescanning raw).  Sketch columns, when the
    lower tier carries them, fold by MERGE — the holistic-stat analog
    of the same property."""
    bucketed = lower.withColumn(
        "bucket_start", bucket_start_col(F.col("bucket_start"), granularity, origin)
    )
    extra = []
    if "len_kll" in lower.columns:
        from grass_spark.operators.sketches import sketch_merge_aggs

        extra = sketch_merge_aggs("len_kll", "txt_hll")
    return bucketed.groupBy(*keys, "bucket_start").agg(*tier_metric_aggs(), *extra)


def with_derived(df: DataFrame, granularity: str) -> DataFrame:
    """Derived (non-stored) metrics: avg text length + bucket_end."""
    return df.withColumn(
        "len_avg", F.col("len_sum") / F.nullif(F.col("len_cnt"), F.lit(0))
    ).withColumn("bucket_end", bucket_end_col(F.col("bucket_start"), granularity))


#: the parquet footer key under which Spark stores a file's Spark schema
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _footer_schema(path: str) -> StructType | None:
    """The Spark schema of the parquet dataset at ``path``, from the
    footer of its first data file (pyarrow; no Spark job).  Spark writes
    the schema into every footer, so it describes the data it sits in.
    A ``d=``-partitioned dataset gets ``d string`` appended: both tier
    layouts expose the day as a string.  None if ``path`` holds no data
    file yet."""
    import json

    import pyarrow.parquet as pq

    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if not d.startswith(("_", ".")))
        for f in sorted(files):
            if f.endswith(".parquet") and not f.startswith(("_", ".")):
                meta = pq.read_schema(os.path.join(root, f)).metadata
                schema = StructType.fromJson(json.loads(meta[_SPARK_SCHEMA_KEY]))
                if os.path.basename(root).startswith("d="):
                    schema = schema.add("d", StringType())
                return schema
    return None


def _read_dataset(spark: SparkSession, path: str) -> DataFrame:
    """The parquet dataset at ``path``, read with the schema its own
    footer carries instead of a schema-inference job."""
    schema = _footer_schema(path)
    if schema is None:
        raise FileNotFoundError(f"{path} holds no parquet data file")
    return spark.read.schema(schema).parquet(path)


def _parquet_files(path: str) -> tuple[int, int, int]:
    """(files, rows, bytes) of the parquet data files directly under
    ``path``: rows from their footers, bytes from their sizes; no Spark
    job."""
    import pyarrow.parquet as pq

    files = [os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")]
    return (
        len(files),
        sum(pq.read_metadata(f).num_rows for f in files),
        sum(os.path.getsize(f) for f in files),
    )


def _collapse_day_ranges(days: set[str]) -> list[tuple[str, str]]:
    """Collapse 'yyyy-MM-dd' strings into [start_day, end_day_exclusive)
    ranges of consecutive days (resume typically skips one big prefix)."""
    from datetime import date, timedelta

    if not days:
        return []
    ds = sorted(date.fromisoformat(d) for d in days)
    out: list[tuple[str, str]] = []
    lo = prev = ds[0]
    for d in ds[1:]:
        if d == prev + timedelta(days=1):
            prev = d
            continue
        out.append((lo.isoformat(), (prev + timedelta(days=1)).isoformat()))
        lo = prev = d
    out.append((lo.isoformat(), (prev + timedelta(days=1)).isoformat()))
    return out


def _ts_not_in_days(ts_col: str, days: set[str]):
    """Predicate excluding rows whose ts falls on any done day, built as
    plain timestamp-range comparisons so parquet row-group min/max stats
    (and Iceberg partition transforms) can skip data — an expression
    like date_format(ts) IN (...) cannot be pushed down."""
    cond = F.lit(True)
    for lo, hi in _collapse_day_ranges(days):
        in_range = (F.col(ts_col) >= F.lit(f"{lo} 00:00:00").cast("timestamp")) & (
            F.col(ts_col) < F.lit(f"{hi} 00:00:00").cast("timestamp")
        )
        cond = cond & ~in_range
    return cond


@dataclass
class TierResult:
    name: str
    granularity: str
    path: str
    days_written: list[str]
    rows_out: int
    duration_s: float


class RollupPipeline:
    """Materialize the tier cascade with manifest-backed resume.

    ``base_dir`` holds one parquet dataset per tier plus
    ``manifest.json``, the store's one metadata file (layout pin, tier
    records, partition entries).  Each tier's column schema comes from
    its own parquet footers, never from an inference job.  ``run()`` may
    be interrupted at any point and re-invoked: completed (tier, day)
    partitions are skipped, partial partitions are overwritten
    idempotently.
    """

    #: integer metric columns carried by every tier (compressible)
    INT_METRICS = TIER_METRICS

    def __init__(
        self,
        base_dir: str,
        tiers: tuple[tuple[str, str], ...] = DEFAULT_TIERS,
        keys: list[str] | None = None,
        compress: bool = False,
        layout: str = "plain",
        buckets: int | dict[str, int] = 64,
        sketches: bool = False,
    ):
        if layout not in ("plain", "bucketed"):
            raise ValueError(f"layout must be 'plain' or 'bucketed', got {layout!r}")
        self.base_dir = base_dir
        self.tiers = tiers
        self.keys = ["conv_id"] if keys is None else list(keys)
        self.layout = layout
        # opt-in mergeable-sketch tier path (operators/sketches.py):
        # tiers additionally carry KLL(len)/HLL(text) sketches so
        # approximate holistic stats fold tier-to-tier by merge instead
        # of re-scanning raw.  Incompatible with the block store (the
        # Gorilla codec covers INT_METRICS only).
        self.sketches = sketches
        if sketches and compress:
            raise ValueError(
                "sketches=True is incompatible with compress=True: the "
                "block store round-trips INT_METRICS only and would "
                "drop the sketch columns"
            )
        # per-tier bucket counts: upper tiers hold ~1/60th and ~1/1440th
        # of the rows, so one shared count explodes their (day, bucket)
        # file product on day-sparse data (measured 2x write premium at
        # 10^8 turns, BASELINE.md "Layout write-cost comparison").  Keep
        # counts power-of-two multiples of each other and enable
        # spark.sql.bucketing.coalesceBucketsInJoin.enabled if you need
        # cross-tier co-located joins with differing counts.
        self.buckets = buckets
        self.compress = compress
        os.makedirs(base_dir, exist_ok=True)
        self.manifest = CheckpointManifest(os.path.join(base_dir, "manifest.json"))
        self._check_layout_pin()

    def tier_path(self, name: str) -> str:
        return os.path.join(self.base_dir, name)

    # -------------------------------------------------- bucketed layout
    def _check_layout_pin(self) -> None:
        """Pin (layout, buckets) in the manifest on first use, and refuse
        a re-open that would change a tier's shape.  Files written with a
        different bucket count hash rows into DIFFERENT buckets — a
        mismatched re-open would silently produce wrong shuffle-free
        results; a ``sketches`` or ``keys`` change would mix day files of
        different columns (and the bucketed publish would drop some); a
        granularity change would mix buckets of different widths.  So a
        mismatch is a hard error, not a warning.  ``sketches`` and
        ``keys`` are not pinned: the first tier's parquet footer says
        what the store holds, and with no file yet there is nothing to
        contradict.  Granularities come from the manifest's tier
        records.  A ``_layout.json`` pin from an older store is folded
        into the manifest once, then deleted."""
        import json

        stored = self.manifest.layout()
        legacy = os.path.join(self.base_dir, "_layout.json")
        if os.path.exists(legacy):
            if stored is None:
                with open(legacy) as f:
                    old = json.load(f)
                stored = {k: old[k] for k in ("layout", "buckets") if k in old}
                self.manifest.set_layout(stored)
            os.remove(legacy)
        has_tier_data = any(
            os.path.isdir(self.tier_path(name)) for name, _ in self.tiers
        )
        pin = {"layout": self.layout}
        if self.layout == "bucketed":
            pin["buckets"] = self.buckets
        if not has_tier_data:
            # a pin with no tier files behind it (constructed-but-never-run
            # pipeline, or a first run that crashed before any write)
            # constrains nothing — re-pin
            if stored != pin:
                self.manifest.set_layout(pin)
            return
        if stored is None and self.layout == "bucketed":
            # no pin: a pre-pin store (tier dirs already on disk) can
            # only be the plain layout — adopting a 'bucketed' claim for
            # files that were never bucket-hashed would plan
            # shuffle-free over mis-clustered data (silently wrong)
            raise ValueError(
                f"tier store at {self.base_dir} predates the layout pin "
                "and its files are not bucketed; re-open with "
                "layout='plain' or publish into a fresh base_dir"
            )
        have, want = dict(stored or {"layout": "plain"}), dict(pin)
        schema = _footer_schema(self.tier_path(self.tiers[0][0]))
        if schema is not None:
            cols = schema.fieldNames()
            have["sketches"] = "len_kll" in cols
            have["keys"] = cols[:cols.index("bucket_start")]
            want["sketches"], want["keys"] = self.sketches, self.keys
        recorded = self.manifest.tiers()
        have["granularity"] = {
            n: recorded[n]["granularity"] for n, _ in self.tiers if n in recorded
        }
        want["granularity"] = {n: g for n, g in self.tiers if n in recorded}
        bad = [k for k in want if have.get(k) != want[k]]
        if bad:
            raise ValueError(
                f"tier store at {self.base_dir} was written with "
                f"{ {k: have.get(k) for k in bad} }; re-open with the same "
                f"layout and tier schema (got { {k: want[k] for k in bad} }) "
                "or use a fresh base_dir"
            )
        if stored != pin:
            self.manifest.set_layout(pin)

    def _buckets_for(self, name: str) -> int:
        if isinstance(self.buckets, dict):
            try:
                return int(self.buckets[name])
            except KeyError:
                raise ValueError(
                    f"buckets dict has no entry for tier {name!r}"
                ) from None
        return int(self.buckets)

    def _table_name(self, name: str) -> str:
        import hashlib

        h = hashlib.md5(os.path.abspath(self.base_dir).encode()).hexdigest()[:8]
        return f"rollup_{h}_{name}"

    def _attach_bucketed(
        self, spark: SparkSession, name: str, schema=None,
    ) -> str:
        """Ensure the catalog entry for a bucketed tier exists (the
        in-memory catalog is session-scoped; tier FILES survive a
        restart, the table metadata does not).  Its columns come from a
        day file's footer on disk, or, for a tier with none yet, from
        ``schema`` (the frame about to be written).  An entry whose day
        directories are gone (the store was deleted) is dropped and
        re-created, so a store rebuilt at the same ``base_dir`` never
        reads through a stale entry.  Idempotent."""
        table = self._table_name(name)
        path = self.tier_path(name)
        on_disk = os.path.isdir(path) and any(
            e.startswith("d=") for e in os.listdir(path)
        )
        if spark.catalog.tableExists(table):
            if on_disk:
                return table
            spark.sql(f"DROP TABLE {table}")
        if on_disk or schema is None:
            schema = _footer_schema(path)
        if schema is None:
            raise FileNotFoundError(f"{path} holds no parquet data file")
        cols = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}"
            for f in schema.fields if f.name != "d"
        )
        ck = ", ".join(f"`{k}`" for k in self.keys)
        os.makedirs(path, exist_ok=True)  # a missing location warns on every scan
        spark.sql(
            f"CREATE TABLE {table} ({cols}, d string) USING PARQUET "
            f"PARTITIONED BY (d) CLUSTERED BY ({ck}) "
            f"SORTED BY ({ck}, `bucket_start`) INTO {self._buckets_for(name)} BUCKETS "
            f"LOCATION '{path}'"
        )
        if on_disk:
            spark.catalog.recoverPartitions(table)
        return table

    def _read_tier_frame(self, spark: SparkSession, name: str) -> DataFrame:
        """Raw tier scan (no derived cols).  In the bucketed layout this
        MUST go through the catalog table — a path read would drop the
        bucket spec and re-introduce the cascade shuffles."""
        if self.layout == "bucketed":
            return spark.table(self._attach_bucketed(spark, name))
        return _read_dataset(spark, self.tier_path(name))

    def read_tier(self, spark: SparkSession, name: str) -> DataFrame:
        gran = dict(self.tiers)[name]
        return with_derived(self._read_tier_frame(spark, name), gran)

    def read_tier_approx(
        self, spark: SparkSession, name: str,
        quantiles: dict[str, float] | None = None,
    ) -> DataFrame:
        """Approximate holistic stats of a sketch-carrying tier
        (``sketches=True`` pipelines): per-bucket approx turn-length
        quantiles + distinct-message estimate, straight from the stored
        sketches — no raw re-scan.  Never a parity substitute for the
        exact kernels (rank-error bounds pinned in
        tests/test_sketches.py)."""
        tier = self._read_tier_frame(spark, name)
        if "len_kll" not in tier.columns:
            raise ValueError(
                f"tier {name!r} carries no sketches; build the store "
                "with RollupPipeline(sketches=True)"
            )
        from grass_spark.operators.sketches import sketch_stats

        return sketch_stats(
            tier, quantiles, kll_col="len_kll", hll_col="txt_hll"
        )

    def read_tier_from_blocks(self, spark: SparkSession, name: str) -> DataFrame:
        """Decode a tier back from its compressed block store (bit-exact
        inverse of the codec; see operators/blocks.py)."""
        from grass_spark.operators.blocks import decompress_blocks

        blocks = _read_dataset(spark, self.tier_path(name) + "_blocks")
        return decompress_blocks(blocks, keys=self.keys, int_cols=list(self.INT_METRICS))

    def _write_blocks(self, spark: SparkSession, name: str) -> dict:
        """Materialize the tier's Gorilla block store (delta-of-delta
        timestamps + delta ints inside batched Arrow UDFs) and return its
        codec report, read from what is on disk and in the manifest with
        no Spark job: ``n_blocks`` from the block files' footers,
        ``comp_bytes`` from their sizes, ``n_points`` and ``tier_bytes``
        from the tier's partition entries, and ``ratio`` =
        ``tier_bytes / comp_bytes`` (above 1 when the block store is the
        smaller copy of the tier)."""
        from grass_spark.operators.blocks import compress_blocks

        bpath = self.tier_path(name) + "_blocks"
        compress_blocks(
            self._read_tier_frame(spark, name), keys=self.keys,
            int_cols=list(self.INT_METRICS),
        ).write.mode("overwrite").parquet(bpath)
        _, n_blocks, comp_bytes = _parquet_files(bpath)
        entries = self.manifest.metrics(name)
        tier_bytes = sum(e["bytes_out"] for e in entries)
        return {
            "n_blocks": n_blocks, "n_points": sum(e["rows_out"] for e in entries),
            "tier_bytes": tier_bytes, "comp_bytes": comp_bytes,
            "ratio": tier_bytes / comp_bytes,
        }

    # ------------------------------------------------------------------
    def run(
        self,
        raw: DataFrame,
        input_fingerprint: str = "",
        resume: bool = True,
        incremental: bool = False,
    ) -> list[TierResult]:
        """Materialize all tiers.

        ``incremental=True`` enables content-based resume for appends
        (the reference's ``update_from_registered_maps`` role): a day
        counts as done when its RAW ROW COUNT matches the manifest's
        recorded ``rows_in``, regardless of fingerprint — so appending
        new days (or backfilling an old one) recomputes exactly the
        changed days plus their upper-tier dependents.  Assumes
        append-only raw data (counts identify content).
        """
        spark = raw.sparkSession
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

        # the one raw pre-scan: rows per day (stored as rows_in lineage;
        # drives incremental dirty-day detection) and each day's first
        # ts, whose minimum anchors every tier's bucket origin
        rows = raw.groupBy(
            F.date_format("ts", "yyyy-MM-dd").alias("d")
        ).agg(F.count(F.lit(1)).alias("n"), F.min("ts").alias("t0")).collect()
        days = [r for r in rows if r["d"] is not None]
        if not days:
            raise ValueError("empty raw input")
        n_null = sum(r["n"] for r in rows if r["d"] is None)
        if n_null:
            raise ValueError(
                f"raw input has {n_null} rows with a NULL ts; they fall in "
                "no bucket and no day — drop or repair them first"
            )
        raw_day_counts = {r["d"]: int(r["n"]) for r in days}
        t0 = min(r["t0"] for r in days)

        results: list[TierResult] = []
        for i, (name, gran) in enumerate(self.tiers):
            origin = adjust_datetime_to_granularity(t0, gran)
            src = "raw" if i == 0 else self.tiers[i - 1][0]
            record = TierRecord(
                granularity=gran,
                source=src,
                aggregation=["count", "sum", "min", "max"],
                command=f"rollup(tier={name}, gran={gran!r}, keys={self.keys}, src={src})",
            )
            done_now: set[str] = set()
            if resume and incremental and i == 0:
                recorded = self.manifest.rows_in_map(name)
                done_now = {
                    d for d, n in recorded.items()
                    if raw_day_counts.get(d) == n
                }
            elif resume:
                fp = None if incremental else (input_fingerprint or None)
                # an upper-tier day is done only if it was recorded after
                # the lower tier's same day: a run cut between two tiers
                # (or between a tier's commit and its manifest entry)
                # leaves the lower day recorded later, and the day is redone
                below = self.manifest.finished_map(src) if i else {}
                done_now = {
                    d for d, pos in self.manifest.finished_map(name, fp).items()
                    if pos > below.get(d, -1)
                }
            if i == 0:
                src = raw
                if done_now:
                    # pushable ts-range prefilter: row-group stats /
                    # Iceberg day() partitions skip done days at the scan
                    src = src.filter(_ts_not_in_days("ts", done_now))
                tiered = rollup_from_raw(
                    src, gran, origin, self.keys, sketches=self.sketches
                )
            else:
                src = self._read_tier_frame(spark, self.tiers[i - 1][0])
                if done_now:
                    # d is the lower tier's PARTITION column -> real
                    # partition pruning, not just a row filter
                    src = src.filter(~F.col("d").isin(sorted(done_now)))
                tiered = rollup_from_tier(src, gran, origin, self.keys)

            res = self._write_tier(
                spark, tiered, name, gran,
                input_fingerprint=input_fingerprint,
                done=done_now,
                rows_in_map=raw_day_counts if i == 0 else None,
                n_days=len(raw_day_counts),
                record=record,
            )
            results.append(res)
            # only tier 0 gets a block store: a day tier's (conv, block)
            # groups hold a handful of points, so per-block headers
            # outweigh the data.  It is rewritten whenever the tier's
            # stored record carries no codec report: after the tier
            # wrote a day (a written day registers a fresh record), and
            # after a run cut between the tier and its block store
            if self.compress and i == 0:
                stored = self.manifest.tiers()[name]
                if not stored.get("blocks"):
                    self.manifest.register_tier(name, TierRecord(
                        **{**stored, "blocks": self._write_blocks(spark, name)}
                    ))
        return results

    # ------------------------------------------------------------------
    def _write_tier_bucketed(
        self, spark: SparkSession, tiered: DataFrame, name: str,
        n_days: int | None = None,
    ) -> None:
        """Publish one tier in the composed partitionBy(d) +
        bucketBy(buckets, keys) layout — day pruning AND shuffle-free
        per-conversation plans from the SAME table.

        The tier's catalog table declares the bucket spec, so an
        ``insertInto(overwrite=True)`` under dynamic partition overwrite
        replaces exactly the days it writes, hashes each row into its
        bucket file and registers new days — the same commit the plain
        layout uses (only the writer's ``.bucketBy()`` is unsupported by
        ``insertInto``, not a bucketed target table).  It is the
        parquet-sandbox analog of Iceberg's ``overwritePartitions``
        (operators/iceberg.py holds the production mapping).
        """
        # Route rows by (day, writer-bucket-id): a (day, bucket) group
        # never splits across tasks (F.hash IS the writer's murmur3
        # bucket hash), so each task writes one file per group it holds
        # — total files stay days × buckets either way, but parallelism
        # follows the data instead of the bucket count.  At cluster
        # scale this is the standard dynamic-partition write shape
        # (one ~128-512 MB file per task); one-task-per-bucket (the
        # first cut) serialized every day's file behind one task.  The
        # task count is capped: an uncapped days×buckets product
        # schedules hundreds of thousands of near-empty tasks on a
        # small box (measured 65k-task pathology; the launch overhead
        # eats the parallelism win).  4096 is a deliberate FLOOR, not a
        # parallelism-relative value — tasks below ~4k are cheap on the
        # measured hardware and the floor keeps per-task file batches
        # small so a hot day still spreads; 64×parallelism takes over
        # on big sessions.
        nb = self._buckets_for(name)
        bucket_id = F.pmod(F.hash(*self.keys), F.lit(nb))
        par = spark.sparkContext.defaultParallelism
        cap = max(4096, 64 * par)
        n_tasks = min(n_days * nb, cap) if n_days else nb
        out = tiered.repartition(n_tasks, F.col("d"), bucket_id)
        table = self._attach_bucketed(spark, name, out.schema)
        # insertInto matches columns by POSITION: select the table's order
        out.select(*spark.table(table).columns).write.insertInto(table, overwrite=True)

    # ------------------------------------------------------------------
    def _write_tier(
        self,
        spark: SparkSession,
        tiered: DataFrame,
        name: str,
        gran: str,
        input_fingerprint: str,
        done: set[str],
        rows_in_map: dict[str, int] | None,
        n_days: int | None = None,
        *,
        record: TierRecord,
    ) -> TierResult:
        """Write one tier partitioned by bucket day, skipping ``done``
        days (already excluded upstream; the filter here is the safety
        net that keeps the write idempotent even if a caller passes an
        unfiltered frame).  ``record`` is registered with the write wall
        in the same manifest save as the tier's partition entries; a
        tier that writes no day keeps the record it has stored."""
        path = self.tier_path(name)
        tiered = tiered.withColumn("d", F.date_format("bucket_start", "yyyy-MM-dd"))

        if done:
            tiered = tiered.filter(~F.col("d").isin(sorted(done)))

        start = time.time()
        if self.layout == "bucketed":
            self._write_tier_bucketed(spark, tiered, name, n_days=n_days)
        else:
            # rebalance by day: AQE writes one file per day and splits a
            # day larger than advisoryPartitionSizeInBytes over several
            # tasks (OptimizeSkewInRebalancePartitions), so a hot day
            # doesn't serialize the write.  Leading the sort with d meets
            # the writer's required ordering, so Spark adds no sort of its
            # own and each file stays range-clustered on (conv_id, bucket)
            # — predicate-prunable on both.
            out = tiered.hint("rebalance", "d").sortWithinPartitions(
                "d", *self.keys, "bucket_start"
            )
            out.write.mode("overwrite").partitionBy("d").parquet(path)
        duration = time.time() - start

        # per-day metrics from the files on disk: rows from the parquet
        # footers, no Spark job (Iceberg's counterpart is the commit's
        # data-file record_count).  Done days are not this run's output.
        per_day: dict[str, int] = {}
        entries = []
        for part in sorted(os.listdir(path)):
            if not part.startswith("d="):
                continue
            day = part[len("d="):]
            if day == "__HIVE_DEFAULT_PARTITION__":
                raise ValueError(
                    f"{path} holds a NULL-day partition (rows with a NULL "
                    "ts from an earlier write); remove it and rerun"
                )
            if day in done:
                continue
            n_files, rows, n_bytes = _parquet_files(os.path.join(path, part))
            if not n_files:
                continue
            per_day[day] = rows
            entries.append(
                PartitionEntry(
                    tier=name,
                    part=day,
                    rows_in=int((rows_in_map or {}).get(day, 0)),
                    rows_out=per_day[day],
                    bytes_out=n_bytes,
                    n_files=n_files,
                    input_fingerprint=input_fingerprint,
                )
            )
        if entries or name not in self.manifest.tiers():
            record.write_s = round(duration, 3)
            self.manifest.record_many(entries, tiers={name: record})
        return TierResult(
            name=name,
            granularity=gran,
            path=path,
            days_written=sorted(per_day),
            rows_out=sum(per_day.values()),
            duration_s=duration,
        )
