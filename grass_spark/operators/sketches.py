"""Mergeable-sketch tier path — the 100-TB escape hatch for holistic
statistics (opt-in; round-3 VERDICT item #7).

Exact holistic kernels (quantile/median/diversity, SURVEY §2.2 —
``lib/stats`` percentiles, ``r.series`` method=divers) cannot
re-aggregate from scalar tier metrics: a day-level median needs the raw
values, so the exact cascade re-scans raw for them.  At 100 TB that
re-scan is the bottleneck; the standard fix is to carry MERGEABLE
sketches in the finest tier and fold upper tiers by sketch merge —
quantiles via KLL, distinct counts via HLL++ (both Apache DataSketches,
built into Spark as ``kll_*`` / ``hll_*`` expressions: JVM-side,
codegen-friendly, binary-typed, associative + commutative, so the merge
is a plain partial-aggregating groupBy with no shuffle amplification).

Contract: estimates are NEVER parity substitutes for the exact kernels
(the APPROX_KERNELS rule in functions/kernels.py) — the rank-error
bound is the guarantee, pinned by tests/test_sketches.py against the
exact kernels.  KLL compaction is randomized and merge-order-dependent,
so outputs are not bit-stable across runs; anything consuming them must
compare ranks, not values (which is also why the driver query for this
path is rows-only rather than hash-gated).

Error bounds at the default sizes: KLL k=200 -> ~1.65% two-sided
normalized rank error (99% conf); HLL lg_k=12 -> ~1.6% relative
standard error on distinct counts.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from grass_spark.functions.granularity import bucket_start_col

#: KLL sketch size: rank error ~1.65% two-sided at k=200
DEFAULT_K = 200
#: HLL precision: 2^12 registers, ~1.6% relative standard error
DEFAULT_LG_K = 12


def sketch_aggs(
    value: Column, distinct: Column, kll_name: str, hll_name: str,
    *, k: int = DEFAULT_K, lg_k: int = DEFAULT_LG_K,
) -> list[Column]:
    """A KLL quantile sketch over ``value`` and an HLL distinct sketch
    over ``distinct``: the finest tier's sketch aggregates."""
    return [
        F.kll_sketch_agg_double(value.cast("double"), F.lit(k)).alias(kll_name),
        F.hll_sketch_agg(distinct, F.lit(lg_k)).alias(hll_name),
    ]


def sketch_merge_aggs(kll_name: str, hll_name: str) -> list[Column]:
    """The coarser tier's sketches: merge the finer tier's by name."""
    return [
        F.kll_merge_agg_double(kll_name).alias(kll_name),
        F.hll_union_agg(hll_name, True).alias(hll_name),
    ]


def sketch_from_raw(
    df: DataFrame,
    granularity: str,
    origin,
    keys: list[str],
    *,
    value_col: str = "value",
    distinct_col: str | None = None,
    ts_col: str = "ts",
    k: int = DEFAULT_K,
    lg_k: int = DEFAULT_LG_K,
) -> DataFrame:
    """Finest sketch tier: per (keys..., bucket) a KLL quantile sketch
    over ``value_col`` and an HLL distinct sketch over ``distinct_col``
    (defaults to ``value_col``).  One shuffle on the grouping keys —
    identical shape to the exact tier-0 rollup."""
    distinct_col = distinct_col or value_col
    bucketed = df.withColumn(
        "bucket_start", bucket_start_col(ts_col, granularity, origin)
    )
    return bucketed.groupBy(*keys, "bucket_start").agg(*sketch_aggs(
        F.col(value_col),
        # HLL accepts int/bigint/string/binary only; a string cast is
        # injective for numerics, a no-op for text
        F.col(distinct_col).cast("string"),
        "val_kll", "dist_hll", k=k, lg_k=lg_k,
    ))


def sketch_from_tier(
    lower: DataFrame,
    granularity: str,
    origin,
    keys: list[str],
) -> DataFrame:
    """Coarser sketch tier by MERGE — never touches raw.  This is the
    scale path: a day granule folds 1440 minute sketches of ~1-2 KB
    each instead of re-scanning the day's raw rows."""
    bucketed = lower.withColumn(
        "bucket_start", bucket_start_col(F.col("bucket_start"), granularity, origin)
    )
    return bucketed.groupBy(*keys, "bucket_start").agg(
        *sketch_merge_aggs("val_kll", "dist_hll")
    )


def sketch_stats(
    df: DataFrame,
    quantiles: dict[str, float] | None = None,
    *,
    kll_col: str = "val_kll",
    hll_col: str = "dist_hll",
) -> DataFrame:
    """Extract approximate holistic stats from the sketch columns:
    one ``approx_<name>`` column per requested quantile, plus
    ``approx_diversity`` (HLL estimate) and ``n`` (the KLL stream
    length — EXACT by construction, the anchor tests use to prove the
    sketches saw every row)."""
    quantiles = quantiles if quantiles is not None else {
        "quart1": 0.25, "median": 0.5, "quart3": 0.75, "perc90": 0.90,
    }
    cols = [
        F.kll_sketch_get_quantile_double(kll_col, F.lit(q)).alias(f"approx_{n}")
        for n, q in quantiles.items()
    ]
    return df.select(
        *[c for c in df.columns if c not in (kll_col, hll_col)],
        *cols,
        F.hll_sketch_estimate(hll_col).alias("approx_diversity"),
        F.kll_sketch_get_n_double(kll_col).alias("n"),
    )
