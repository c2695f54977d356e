"""Gorilla-style codec: numpy round-trips + Spark block operator."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from grass_spark.datagen import synth_transcripts
from grass_spark.functions import compress as C
from grass_spark.operators.blocks import (
    compress_blocks,
    decompress_blocks,
    report_columns,
)
from grass_spark.operators.rollup import rollup_from_raw
from grass_spark.functions.granularity import adjust_datetime_to_granularity


# ---------------- numpy codec ----------------


def _blob(encode_segments, vals) -> bytes:
    """The blob a segmented kernel makes for a one-segment batch."""
    data, offsets = encode_segments(vals, [len(vals)])
    return data[offsets[0]:offsets[1]].tobytes()


def _floats(blob: bytes) -> np.ndarray:
    data = np.frombuffer(blob, dtype=np.uint8)
    return C.decode_floats_segments(data, np.array([0, len(data)]))[0]


def test_ts_roundtrip_regular():
    ts = np.arange(0, 60_000_000 * 100, 60_000_000, dtype=np.int64) + 1_700_000_000_000_000
    assert np.array_equal(C.decode_timestamps(C.encode_timestamps(ts)), ts)


def test_ts_roundtrip_irregular():
    rng = np.random.default_rng(7)
    deltas = rng.integers(1, 10_000_000, 5000)
    ts = 1_700_000_000_000_000 + np.cumsum(deltas)
    assert np.array_equal(C.decode_timestamps(C.encode_timestamps(ts)), ts)


def test_ts_regular_compresses_hard():
    """Perfectly regular cadence -> all dods are 0 -> ~2 bits/value."""
    ts = np.arange(0, 60_000_000 * 10000, 60_000_000, dtype=np.int64)
    blob = C.encode_timestamps(ts)
    assert len(blob) < 10000  # vs 80000 raw bytes (>8x)


def test_float_roundtrip_bitexact():
    rng = np.random.default_rng(3)
    v = rng.normal(250.0, 2.0, 4096)
    v[17] = np.nan
    v[100] = np.inf
    v[101] = -0.0
    out = _floats(_blob(C.encode_floats_segments, v))
    assert np.array_equal(v.view(np.uint64), out.view(np.uint64))  # bit-exact incl NaN


def test_float_constant_compresses():
    v = np.full(5000, 123.456)
    blob = _blob(C.encode_floats_segments, v)
    assert len(blob) < 2500  # vs 40000 raw


def test_int_roundtrip():
    rng = np.random.default_rng(5)
    v = np.cumsum(rng.integers(-3, 4, 3000)).astype(np.int64)
    assert np.array_equal(C.decode_ints(C.encode_ints(v)), v)
    big = np.array([0, 2**62, -(2**62), 17], dtype=np.int64)
    assert np.array_equal(C.decode_ints(C.encode_ints(big)), big)


def test_empty_and_single():
    assert len(C.decode_timestamps(C.encode_timestamps(np.array([], dtype=np.int64)))) == 0
    one = np.array([1_700_000_000_000_000], dtype=np.int64)
    assert np.array_equal(C.decode_timestamps(C.encode_timestamps(one)), one)
    assert _floats(_blob(C.encode_floats_segments, np.array([3.14])))[0] == 3.14


def test_validity_bitmap():
    m = np.array([True, False, True, True, False])
    data, offsets = C.encode_validity_segments(m, [5])
    assert np.array_equal(C.decode_validity_segments(data, offsets, [5]), m)


def test_bad_header_rejected():
    with pytest.raises(ValueError):
        _floats(b"\x00" * 16)


# ---------------- Spark block operator ----------------


@pytest.fixture(scope="module")
def tier(spark):
    raw = synth_transcripts(spark, n_convs=20, avg_turns=40, seed=3)
    t0 = raw.agg(F.min("ts")).collect()[0][0]
    origin = adjust_datetime_to_granularity(t0, "1 minute")
    t = rollup_from_raw(raw, "1 minute", origin, ["conv_id"]).withColumn(
        "len_avg", F.col("len_sum") / F.col("len_cnt")
    )
    return t.cache()


def test_block_roundtrip(spark, tier):
    blocks = compress_blocks(
        tier, ts_col="bucket_start",
        float_cols=["len_avg"], int_cols=["turn_cnt", "len_sum"],
    )
    back = decompress_blocks(
        blocks, ts_col="bucket_start",
        float_cols=["len_avg"], int_cols=["turn_cnt", "len_sum"],
    )
    orig = tier.select(
        "conv_id", "bucket_start",
        F.col("len_avg").cast("double"),
        F.col("turn_cnt").cast("double"),
        F.col("len_sum").cast("double"),
    )
    got = back.select(
        "conv_id", "bucket_start",
        F.col("len_avg").cast("double"),
        F.col("turn_cnt").cast("double"),
        F.col("len_sum").cast("double"),
    )
    assert orig.exceptAll(got).count() == 0
    assert got.exceptAll(orig).count() == 0


def test_block_compression_ratio(spark, tier):
    blocks = compress_blocks(
        tier, ts_col="bucket_start",
        float_cols=["len_avg"], int_cols=["turn_cnt", "len_sum"],
    )
    rep = blocks.agg(*report_columns()).collect()[0]
    assert rep["n_points"] == tier.count()
    assert rep["ratio"] > 2.0, f"weak compression: {rep['ratio']}"


def test_block_one_per_conv_day(spark, tier):
    blocks = compress_blocks(
        tier, ts_col="bucket_start", int_cols=["turn_cnt"],
    )
    dup = (
        blocks.groupBy("conv_id", "block_start").count().filter("count > 1").count()
    )
    assert dup == 0


def test_int_decode_exact_above_2_53(spark):
    """ADVICE round-1: int64 values above 2^53 must restore bit-exactly
    (the decode path uses a masked Int64 carrier, not float64+NaN)."""
    from datetime import datetime, timedelta

    big = 2**60 + 12345
    rows = [
        ("c", datetime(2024, 1, 1) + timedelta(minutes=i), big + i)
        for i in range(5)
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, bucket_start timestamp, v bigint"
    )
    blocks = compress_blocks(df, ts_col="bucket_start", int_cols=["v"])
    back = decompress_blocks(blocks, ts_col="bucket_start", int_cols=["v"])
    got = sorted(r["v"] for r in back.collect())
    assert got == [big + i for i in range(5)]


def test_int_null_above_2_53_exact(spark):
    """A NULL beside int64 values above 2^53 in one block: the encoder
    reads int64 directly, so no value passes through a float64 carrier
    (which would round every one of them to the same double)."""
    from datetime import datetime, timedelta

    big = 2**60 + 12345
    rows = [
        ("c", datetime(2024, 1, 1) + timedelta(minutes=i), None if i == 2 else big + i)
        for i in range(5)
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, bucket_start timestamp, v bigint"
    )
    blocks = compress_blocks(df, ts_col="bucket_start", int_cols=["v"])
    assert blocks.count() == 1
    back = decompress_blocks(blocks, ts_col="bucket_start", int_cols=["v"])
    got = [r["v"] for r in back.orderBy("bucket_start").collect()]
    assert got == [big, big + 1, None, big + 3, big + 4]


def test_float_nan_is_a_value_not_null(spark):
    """NaN, -0.0 and inf come back as themselves; only NULL is NULL."""
    import math
    from datetime import datetime, timedelta

    vals = [float("nan"), None, -0.0, float("inf"), float("-inf"), 1.5]
    rows = [
        ("c", datetime(2024, 1, 1) + timedelta(minutes=i), v)
        for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, bucket_start timestamp, x double"
    )
    back = decompress_blocks(
        compress_blocks(df, ts_col="bucket_start", float_cols=["x"]),
        ts_col="bucket_start", float_cols=["x"],
    )
    got = [r["x"] for r in back.orderBy("bucket_start").collect()]
    assert math.isnan(got[0])
    assert got[1] is None
    assert got[2] == 0.0 and math.copysign(1.0, got[2]) == -1.0
    assert got[3:] == [float("inf"), float("-inf"), 1.5]


@pytest.fixture(scope="module")
def role_tier(spark):
    """Minute tier keyed by (conv_id, role), with NULL and NaN floats."""
    raw = synth_transcripts(spark, n_convs=12, avg_turns=40, seed=9)
    t0 = raw.agg(F.min("ts")).collect()[0][0]
    origin = adjust_datetime_to_granularity(t0, "1 minute")
    t = rollup_from_raw(raw, "1 minute", origin, ["conv_id", "role"])
    avg = F.col("len_sum") / F.col("len_cnt")
    return t.withColumn(
        "len_avg",
        F.when(F.col("len_max") % 5 == 0, F.lit(None))
        .when(F.col("len_max") % 7 == 0, F.lit(float("nan")))
        .otherwise(avg),
    ).cache()


@pytest.mark.parametrize("batch_rows", [7, None], ids=["batch7", "default"])
def test_blocks_equal_per_group_codec(spark, role_tier, batch_rows):
    """Each blob equals the segmented kernel run on its (keys, block)
    group alone, whether a batch holds many blocks or a block spans many
    batches."""
    keys = ["conv_id", "role"]
    ints = ["turn_cnt", "len_sum", "len_max"]
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    if batch_rows is not None:
        spark.conf.set(conf, str(batch_rows))
    try:
        blocks_df = compress_blocks(
            role_tier, keys=keys, ts_col="bucket_start",
            float_cols=["len_avg"], int_cols=ints,
        )
        blocks = blocks_df.withColumn("block_us", F.unix_micros("block_start")).collect()
        back = decompress_blocks(
            blocks_df, keys=keys, ts_col="bucket_start",
            float_cols=["len_avg"], int_cols=ints,
        ).collect()
    finally:
        spark.conf.set(conf, old)

    groups: dict = {}
    for r in role_tier.select(
        *keys, F.unix_micros("bucket_start").alias("us"), "len_avg", *ints,
        F.unix_micros(F.date_trunc("day", "bucket_start")).alias("block_us"),
    ).collect():
        groups.setdefault((r["conv_id"], r["role"], r["block_us"]), []).append(r)
    x = [r["len_avg"] for g in groups.values() for r in g]
    assert None in x and any(v is not None and np.isnan(v) for v in x)
    assert max(map(len, groups.values())) > 2 * 7  # blocks span batches
    assert len(blocks) == len(groups)
    assert {(b["conv_id"], b["role"], b["block_us"]) for b in blocks} == set(groups)
    for b in blocks:
        g = sorted(groups[(b["conv_id"], b["role"], b["block_us"])], key=lambda r: r["us"])
        ts = np.array([r["us"] for r in g], dtype=np.int64)
        x = [r["len_avg"] for r in g]
        valid = np.array([v is not None for v in x])
        assert b["n"] == len(g)
        assert b["ts_blob"] == _blob(C.encode_timestamps_segments, ts)
        assert b["len_avg_blob"] == _blob(
            C.encode_floats_segments,
            np.array([np.nan if v is None else v for v in x], dtype=np.float64),
        )
        assert b["len_avg_valid"] == _blob(C.encode_validity_segments, valid)
        for m in ints:
            assert b[f"{m}_blob"] == _blob(
                C.encode_ints_segments, np.array([r[m] for r in g], dtype=np.int64)
            )
            assert b[f"{m}_valid"] == _blob(
                C.encode_validity_segments, np.ones(len(g), dtype=bool)
            )
    # bit-exact round trip, NaN and NULL kept apart
    def key(r):
        x = r["len_avg"]
        bits = None if x is None else np.float64(x).view(np.uint64).item()
        return (r["conv_id"], r["role"], r["bucket_start"], bits, *[r[m] for m in ints])
    want = sorted(map(key, role_tier.select(*keys, "bucket_start", "len_avg", *ints).collect()), key=repr)
    assert sorted(map(key, back), key=repr) == want


def test_block_roundtrip_with_large_arrow_types(spark):
    """Sessions that send Arrow large_string/large_binary still encode
    and decode bit-exactly."""
    from datetime import datetime, timedelta

    conf = "spark.sql.execution.arrow.useLargeVarTypes"
    old = spark.conf.get(conf)
    rows = [
        ("c" if i < 4 else "d", datetime(2024, 1, 1) + timedelta(minutes=i), 2**60 + i)
        for i in range(7)
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, bucket_start timestamp, v bigint"
    )
    spark.conf.set(conf, "true")
    try:
        blocks = compress_blocks(df, ts_col="bucket_start", int_cols=["v"])
        back = decompress_blocks(blocks, ts_col="bucket_start", int_cols=["v"])
        got = sorted((r["conv_id"], r["v"]) for r in back.collect())
    finally:
        spark.conf.set(conf, old)
    assert got == sorted((c, v) for c, _, v in rows)
