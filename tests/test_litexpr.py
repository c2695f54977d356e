"""``functions/litexpr.py``: SQL-text literals parse to the doubles
``F.lit`` ships, non-finite values included."""

from __future__ import annotations

import math
import struct

import pytest
from pyspark.sql import functions as F

from grass_spark.functions.litexpr import darr, dlit

FINITE = (0.1, -0.0, 5e-324, 1e308)


def _bits(v: float) -> bytes:
    return struct.pack("<d", v)


def test_dlit_matches_lit_bit_for_bit(spark):
    row = spark.range(1).select(
        *[F.expr(dlit(v)).alias(f"s{i}") for i, v in enumerate(FINITE)],
        *[F.lit(v).alias(f"c{i}") for i, v in enumerate(FINITE)],
        F.expr(darr(FINITE)).alias("arr"),
    ).first()
    for i, v in enumerate(FINITE):
        assert _bits(row[f"s{i}"]) == _bits(row[f"c{i}"]) == _bits(v), v
    assert [_bits(x) for x in row["arr"]] == [_bits(v) for v in FINITE]


@pytest.mark.parametrize("ansi", ["true", "false"])
def test_dlit_non_finite_round_trip(spark, ansi):
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", ansi)
    try:
        row = spark.range(1).select(
            F.expr(dlit(math.inf)).alias("pinf"),
            F.expr(dlit(-math.inf)).alias("ninf"),
            F.expr(dlit(math.nan)).alias("nan"),
        ).first()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
    assert row["pinf"] == math.inf
    assert row["ninf"] == -math.inf
    assert row["nan"] is not None and math.isnan(row["nan"])
