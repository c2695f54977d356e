"""Oracle parity for the third-wave driver queries at
sf0.001 — the same compare the driver's CORRECTNESS gate runs at
sf0.01: row count, sorted column names, and exact sorted values.
"""

from __future__ import annotations

import math

import duckdb
import pytest

from grass_spark.queries import ORACLES, QUERIES

SF = "/root/testdata/sf0.001"
TABLES = ("events", "documents", "embeddings", "orders", "lineitem")
# The keys of the third query wave: temporal and algebra operators that
# round 1 left unit-only, plus the round-4 corpus-hygiene queries.
THIRD_WAVE = (
    "shift_extents", "agg_relative", "sample_granules", "topology_census",
    "jaccard_verify", "simhash_portable", "group_granules", "algebra_select",
    "merge_extract", "algebra_condition", "algebra_gran", "algebra_gran_cond",
    "near_dedup_keep", "sketch_cascade_day", "heavy_hitters", "contamination",
    "decontaminate_keep", "chunk_dedup", "pack_sequences", "corpus_mixture",
    "mixture_sample", "pii_redact", "repetition_stats", "lm_perplexity",
)


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        c.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')"
        )
    return c


def _norm(cols, rows):
    def cell(v):
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else float(v)
        return v

    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(cell(r[i]) for i in order) for r in rows]
    return sorted(cols), sorted(out, key=lambda t: tuple(str(x) for x in t))


@pytest.mark.parametrize("name", sorted(THIRD_WAVE))
def test_oracle_parity(spark, con, name):
    sdf = QUERIES[name](spark, SF)
    s_cols, s_rows = sdf.columns, [tuple(r) for r in sdf.collect()]
    if name not in ORACLES:
        # rows-only query (iterative op, no SQL oracle — e.g.
        # near_dedup_keep's connected components): non-vacuity only
        assert len(s_rows) > 0
        return
    rel = con.execute(ORACLES[name])
    d_cols = [d[0] for d in rel.description]
    d_rows = rel.fetchall()
    sc, sr = _norm(s_cols, s_rows)
    dc, dr = _norm(d_cols, d_rows)
    assert sc == dc
    assert len(sr) == len(dr)
    assert sr == dr
    # non-vacuity: every third-wave query must exercise real rows
    assert len(sr) > 0


def test_simhash_default_path_same_shape(spark):
    """The xxhash64 fast path produces a 64-bit fingerprint with the
    same schema as the portable md5 variant."""
    from pyspark.sql import functions as F

    from grass_spark.operators.dedup import simhash

    d = spark.read.parquet(f"{SF}/documents.parquet").limit(50)
    fast = simhash(d, shingle_n=3)
    assert fast.columns == ["doc_id", "simhash"]
    assert fast.schema["simhash"].dataType.simpleString() == "bigint"
    assert fast.count() == 50


def test_topology_census_no_cartesian(spark):
    df = QUERIES["topology_census"](spark, SF)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "CartesianProduct" not in plan


def test_jaccard_verify_no_cartesian(spark):
    df = QUERIES["jaccard_verify"](spark, SF)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "CartesianProduct" not in plan


def test_algebra_select_is_semi_join(spark):
    df = QUERIES["algebra_select"](spark, SF)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "LeftSemi" in plan
