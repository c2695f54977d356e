"""Topology-driven sampling & aggregation over irregular granules.

The general case the bucket-projection fast path can't handle: granules
come from *another dataset* and the caller wants arbitrary Allen
relations (``t.sample`` / ``sample_by_dataset``,
``abstract_space_time_dataset.py:627-850``).

The reference builds an R*-tree over one side and probes the other
(``spatio_temporal_relationships.py:496-587``).  Spark-first: the
granule side is small (thousands of rows — it's a calendar), so we
**broadcast** it and range-join with the exact Allen predicates; no
shuffle of the big side at all, and Catalyst turns the broadcast range
join into a BroadcastNestedLoopJoin whose inner loop is the R-tree
probe's moral equivalent.  At 100 TB the big side streams through
map tasks once.

``resample_by_granularity`` additionally applies the reference's
relation priority EQUAL > DURING > OVERLAPS > OVERLAPPED > CONTAINS
(``abstract_space_time_dataset.py:1380-1399``) when several maps hit
one granule.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from grass_spark.functions import relations as rel

#: resample relation priority — abstract_space_time_dataset.py:1380
RESAMPLE_PRIORITY = ("equal", "during", "overlaps", "overlapped", "contains")


def _granule_side(granules: DataFrame, start_col: str, end_col: str) -> DataFrame:
    return F.broadcast(
        granules.select(
            F.col(start_col).cast("timestamp").alias("_g_start"),
            F.col(end_col).cast("timestamp").alias("_g_end"),
        ).distinct()
    )


def _sample_method_cond(
    method: str, m_s: Column, m_e: Column, g_s: Column, g_e: Column
) -> Column:
    """One ``t.sample`` method as a predicate over (map, granule).

    The reference's method names are GRANULE-relative
    (abstract_space_time_dataset.py:672-744 diagrams): method
    ``contains`` selects maps *inside* the granule, method ``during``
    selects maps *containing* the granule; both read the topology
    builder's widened lists (starts/finishes fold into during,
    started/finished into contains — spatio_temporal_relationships.py:
    608-672), and ``overlap`` covers both directions."""
    if method == "start":
        return (m_s >= g_s) & (m_s < g_e)
    if method == "contains":  # granule contains map == map during granule
        return rel.topo_relation("during", m_s, m_e, g_s, g_e)
    if method == "during":  # granule during map == map contains granule
        return rel.topo_relation("contains", m_s, m_e, g_s, g_e)
    if method == "overlap":
        return rel.overlaps(m_s, m_e, g_s, g_e) | rel.overlapped(
            m_s, m_e, g_s, g_e
        )
    if method in ("equal", "equals"):
        return rel.equal(m_s, m_e, g_s, g_e)
    if method == "follows":
        return rel.follows(m_s, m_e, g_s, g_e)
    if method == "precedes":
        return rel.precedes(m_s, m_e, g_s, g_e)
    raise ValueError(f"unknown sample method {method!r}")


def sample_by_dataset(
    maps: DataFrame,
    granules: DataFrame,
    relations: list[str],
    *,
    map_start: str = "ts",
    map_end: str | None = None,
    granule_start: str = "bucket_start",
    granule_end: str = "bucket_end",
) -> DataFrame:
    """``t.sample``: tag every map row with the granule(s) it relates to
    by any of the ``relations`` method names (``start contains during
    overlap equal follows precedes`` — the reference's granule-relative
    vocabulary, see :func:`_sample_method_cond`).  Rows matching no
    granule are dropped (the reference emits empty sample lists for
    those granules; use a right join downstream if gaps must be
    visible)."""
    g = _granule_side(granules, granule_start, granule_end)
    m_e = F.col(map_end) if map_end else F.lit(None).cast("timestamp")
    cond = F.lit(False)
    for method in relations:
        cond = cond | _sample_method_cond(
            method, F.col(map_start), m_e, F.col("_g_start"), F.col("_g_end")
        )
    return (
        maps.join(g, on=cond, how="inner")
        .withColumnRenamed("_g_start", "granule_start")
        .withColumnRenamed("_g_end", "granule_end")
    )


def resample_by_granularity(
    maps: DataFrame,
    granules: DataFrame,
    *,
    map_id: str = "map_id",
    map_start: str = "ts",
    map_end: str | None = None,
    granule_start: str = "bucket_start",
    granule_end: str = "bucket_end",
) -> DataFrame:
    """``resample_maplist_by_granularity``
    (abstract_space_time_dataset.py:1195-1420): per granule the FIRST
    non-empty relation class in priority EQUAL > DURING > OVERLAPS >
    OVERLAPPED > CONTAINS wins, where the class names are the
    *granule's* topology-builder lists — granule-relative AND widened
    (granule-DURING-map includes granule starts/finishes map;
    granule-CONTAINS-map includes started/finished;
    spatio_temporal_relationships.py:608-672).  The reference keeps
    EVERY map of the winning class; this operator mirrors that, with a
    deterministic (class, map_start) ordering available via ``rank``.
    Granules with no related map are kept with a NULL map (gap objects,
    id None).  Goldens: the reference's own doctests
    (abstract_space_time_dataset.py:1242-1352) in
    tests/test_operators_ext.py."""
    g = granules.select(
        F.col(granule_start).cast("timestamp").alias("granule_start"),
        F.col(granule_end).cast("timestamp").alias("granule_end"),
    ).distinct()
    m_s = F.col(map_start)
    m_e = F.col(map_end) if map_end else F.lit(None).cast("timestamp")
    g_s, g_e = F.col("granule_start"), F.col("granule_end")

    # granule is A: its builder lists hold the maps it relates to
    prio = F.lit(None).cast("int")
    for i, name in reversed(list(enumerate(RESAMPLE_PRIORITY))):
        prio = F.when(
            rel.topo_relation(name, g_s, g_e, m_s, m_e), F.lit(i)
        ).otherwise(prio)

    cond = rel.topo_any(list(RESAMPLE_PRIORITY), g_s, g_e, m_s, m_e)
    joined = g.join(F.broadcast(maps), on=cond, how="left").withColumn(
        "_prio", prio
    )
    gw = Window.partitionBy("granule_start", "granule_end")
    best_prio = F.min("_prio").over(gw)
    ow = gw.orderBy(m_s.asc_nulls_last(), F.col(map_id).asc_nulls_last())
    return (
        joined.withColumn("_best", best_prio)
        .filter(F.col("_prio").eqNullSafe(F.col("_best")))
        .withColumn("rank", F.row_number().over(ow) - 1)
        .select(
            "granule_start", "granule_end",
            F.col(map_id).alias("map_id"),
            m_s.alias("map_start"),
            "rank",
        )
    )


def topology_census(
    df: DataFrame,
    *,
    start_col: str = "ts",
    end_col: str | None = None,
    id_col: str | None = None,
    keys: list[str] | None = None,
    band_seconds: int = 86400,
) -> DataFrame:
    """``t.topology``: count Allen relations over ordered pairs of
    extents (abstract_space_time_dataset.py:536-554).

    The reference builds relations through an R*-tree probe
    (``spatio_temporal_relationships.py:496-587``): each map's
    [start, end] box is searched against the tree, so only pairs whose
    extents *intersect or touch* ever get a relation — strictly
    disjoint pairs are never recorded.  This operator reproduces that
    bound distributively: extents are exploded into the ``band_seconds``
    buckets they cover, candidates come from a bucket **equi-join**
    (never a cross join), duplicates from multi-bucket overlap are
    deduped, and strictly-disjoint same-bucket pairs are dropped —
    exactly the R*-tree's candidate set.  ``keys`` adds an extra
    equality to the join (the reference's one-dataset bound).

    Scale shape: explode factor is ceil(extent/band) per row (pick a
    band at least the typical extent length), one shuffle for the
    bucket join, one for the pair dedup.  No CartesianProduct at any
    size — enforced by a plan-contract test.
    """
    keys = list(keys or [])
    width = F.lit(band_seconds * 1_000_000)
    s = F.col(start_col).cast("timestamp")
    e = (F.col(end_col) if end_col else F.col(start_col)).cast("timestamp")
    a = df.select(
        *keys,
        s.alias("a_s"),
        (F.col(end_col).cast("timestamp") if end_col else F.lit(None).cast("timestamp")).alias("a_e"),
        *([F.col(id_col).alias("a_id")] if id_col else [F.monotonically_increasing_id().alias("a_id")]),
        F.explode(
            F.sequence(
                F.floor(F.unix_micros(s) / width),
                F.floor(F.unix_micros(F.coalesce(e, s)) / width),
            )
        ).alias("band"),
    )
    b = a.select(
        *[F.col(k).alias(f"b_{k}") for k in keys],
        F.col("a_s").alias("b_s"), F.col("a_e").alias("b_e"),
        F.col("a_id").alias("b_id"), F.col("band").alias("b_band"),
    )
    cond = F.col("band") == F.col("b_band")
    for k in keys:
        cond = cond & (F.col(k) == F.col(f"b_{k}"))
    pairs = (
        a.join(b, on=cond, how="inner")
        .filter(F.col("a_id") != F.col("b_id"))
        .select("a_id", "b_id", "a_s", "a_e", "b_s", "b_e")
        .distinct()
    )
    # t.topology sums the builder's per-map lists
    # (count_temporal_topology_relationships -> get_number_of_relations),
    # and set_temporal_relationship records a starts/finishes pair ALSO
    # as during and a started/finished pair ALSO as contains — so those
    # pairs contribute to TWO counters each.
    name = rel.relation_name("a_s", "a_e", "b_s", "b_e")
    extra = (
        F.when(name.isin("starts", "finishes"), F.lit("during"))
        .when(name.isin("started", "finished"), F.lit("contains"))
    )
    return (
        pairs.select(
            F.explode(
                F.filter(F.array(name, extra), lambda c: c.isNotNull())
            ).alias("relation")
        )
        .filter(~F.col("relation").isin("before", "after"))
        .groupBy("relation")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
