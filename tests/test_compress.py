"""Gorilla-style codec: numpy round-trips + Spark block operator."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from grass_spark.datagen import synth_transcripts
from grass_spark.functions import compress as C
from grass_spark.operators.blocks import compress_blocks, decompress_blocks
from grass_spark.operators.rollup import rollup_from_raw
from grass_spark.functions.granularity import adjust_datetime_to_granularity


# ---------------- numpy codec ----------------


def _blob(encode_segments, vals) -> bytes:
    """The blob a segmented kernel makes for a one-segment batch."""
    data, offsets = encode_segments(vals, [len(vals)])
    return data[offsets[0]:offsets[1]].tobytes()


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
    assert len(C.decode_ints(C.encode_ints(np.array([], dtype=np.int64)))) == 0
    assert C.decode_ints(C.encode_ints(np.array([-314], dtype=np.int64)))[0] == -314


def test_validity_bitmap():
    m = np.array([True, False, True, True, False])
    data, offsets = C.encode_validity_segments(m, [5])
    assert np.array_equal(C.decode_validity_segments(data, offsets, [5]), m)


def test_bad_header_rejected():
    with pytest.raises(ValueError):
        C.decode_ints(b"\x00" * 16)
    with pytest.raises(ValueError):
        C.decode_timestamps(b"\x47\x01")  # shorter than a header


# Version-1 blobs as written by the block store, byte for byte, with the
# values they decode to.  A format change that alters them fails here;
# a later format version must still decode them.
V1_TS_HEX = "47010400000000000000e20040371d1c250c00000e2707001c4e0e"
#: 2024-03-01 00:00, +1 min, +2 min, +5 min (class codes 3, 2, 0, 2)
V1_TS = [1_709_251_200_000_000 + m * 60_000_000 for m in (0, 1, 2, 5)]
V1_INTS_HEX = "4701050000000000000046c00a00c800400d03000000000000020000"
#: deltas 5, 0, 100, 100_000, 2^40: class codes 1, 0, 1, 2, 3
V1_INTS = [5, 5, 105, 100_105, 100_105 + 2**40]
V1_VALID_HEX = "b700"
V1_VALID = [True, False, True, True, False, True, True, True, False]


def test_v1_blobs_decode_and_reencode_byte_identical():
    ts = np.array(V1_TS, dtype=np.int64)
    assert C.decode_timestamps(bytes.fromhex(V1_TS_HEX)).tolist() == V1_TS
    assert C.encode_timestamps(ts).hex() == V1_TS_HEX
    ints = np.array(V1_INTS, dtype=np.int64)
    assert C.decode_ints(bytes.fromhex(V1_INTS_HEX)).tolist() == V1_INTS
    assert C.encode_ints(ints).hex() == V1_INTS_HEX
    valid = bytes.fromhex(V1_VALID_HEX)
    n = [len(V1_VALID)]
    got = C.decode_validity_segments(np.frombuffer(valid, dtype=np.uint8), np.array([0, len(valid)]), n)
    assert got.tolist() == V1_VALID
    assert _blob(C.encode_validity_segments, np.array(V1_VALID)).hex() == V1_VALID_HEX


# ---------------- Spark block operator ----------------


@pytest.fixture(scope="module")
def tier(spark):
    raw = synth_transcripts(spark, n_convs=20, avg_turns=40, seed=3)
    t0 = raw.agg(F.min("ts")).collect()[0][0]
    origin = adjust_datetime_to_granularity(t0, "1 minute")
    return rollup_from_raw(raw, "1 minute", origin, ["conv_id"]).cache()


def test_block_roundtrip(spark, tier):
    ints = ["turn_cnt", "len_sum", "len_max"]
    back = decompress_blocks(compress_blocks(tier, int_cols=ints), int_cols=ints)
    cols = ["conv_id", "bucket_start", *ints]
    orig, got = tier.select(*cols), back.select(*cols)
    assert orig.exceptAll(got).count() == 0
    assert got.exceptAll(orig).count() == 0


def test_block_one_per_conv_day(spark, tier):
    """One block per (conversation, month): no (conv_id, block_start)
    repeats, and every block starts on the first of a month."""
    blocks = compress_blocks(tier, int_cols=["turn_cnt"])
    dup = (
        blocks.groupBy("conv_id", "block_start").count().filter("count > 1").count()
    )
    assert dup == 0
    starts = blocks.select(F.date_format("block_start", "dd HH:mm:ss").alias("s"))
    assert {r["s"] for r in starts.distinct().collect()} == {"01 00:00:00"}


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
    blocks = compress_blocks(df, int_cols=["v"])
    back = decompress_blocks(blocks, int_cols=["v"])
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
    blocks = compress_blocks(df, int_cols=["v"])
    assert blocks.count() == 1
    back = decompress_blocks(blocks, int_cols=["v"])
    got = [r["v"] for r in back.orderBy("bucket_start").collect()]
    assert got == [big, big + 1, None, big + 3, big + 4]


@pytest.fixture(scope="module")
def role_tier(spark):
    """Minute tier keyed by (conv_id, role), with NULLs in ``len_min``."""
    raw = synth_transcripts(spark, n_convs=12, avg_turns=40, seed=9)
    t0 = raw.agg(F.min("ts")).collect()[0][0]
    origin = adjust_datetime_to_granularity(t0, "1 minute")
    t = rollup_from_raw(raw, "1 minute", origin, ["conv_id", "role"])
    return t.withColumn(
        "len_min", F.when(F.col("len_max") % 5 != 0, F.col("len_min"))
    ).cache()


@pytest.mark.parametrize("batch_rows", [7, None], ids=["batch7", "default"])
def test_blocks_equal_per_group_codec(spark, role_tier, batch_rows):
    """Each blob equals the segmented kernel run on its (keys, month)
    group alone, whether a batch holds many blocks or a block spans many
    batches."""
    keys = ["conv_id", "role"]
    ints = ["turn_cnt", "len_sum", "len_min", "len_max"]
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    if batch_rows is not None:
        spark.conf.set(conf, str(batch_rows))
    try:
        blocks_df = compress_blocks(role_tier, keys=keys, int_cols=ints)
        blocks = blocks_df.withColumn("block_us", F.unix_micros("block_start")).collect()
        back = decompress_blocks(blocks_df, keys=keys, int_cols=ints).collect()
    finally:
        spark.conf.set(conf, old)

    groups: dict = {}
    for r in role_tier.select(
        *keys, F.unix_micros("bucket_start").alias("us"), *ints,
        F.unix_micros(F.date_trunc("month", "bucket_start")).alias("block_us"),
    ).collect():
        groups.setdefault((r["conv_id"], r["role"], r["block_us"]), []).append(r)
    assert any(r["len_min"] is None for g in groups.values() for r in g)
    assert max(map(len, groups.values())) > 2 * 7  # blocks span batches
    assert len(blocks) == len(groups)
    assert {(b["conv_id"], b["role"], b["block_us"]) for b in blocks} == set(groups)
    for b in blocks:
        g = sorted(groups[(b["conv_id"], b["role"], b["block_us"])], key=lambda r: r["us"])
        ts = np.array([r["us"] for r in g], dtype=np.int64)
        assert b["n"] == len(g)
        assert b["ts_blob"] == _blob(C.encode_timestamps_segments, ts)
        for m in ints:
            x = [r[m] for r in g]
            assert b[f"{m}_blob"] == _blob(
                C.encode_ints_segments,
                np.array([0 if v is None else v for v in x], dtype=np.int64),
            )
            assert b[f"{m}_valid"] == _blob(
                C.encode_validity_segments, np.array([v is not None for v in x])
            )
    # exact round trip, NULLs kept
    cols = [*keys, "bucket_start", *ints]
    want = sorted((tuple(r) for r in role_tier.select(*cols).collect()), key=repr)
    assert sorted((tuple(r[c] for c in cols) for r in back), key=repr) == want


def test_block_rows_with_extra_columns_decode(spark, tier):
    """Block files of older stores also carry per-block ``raw_bytes``
    and ``comp_bytes`` columns; decode selects only its own columns."""
    ints = ["turn_cnt", "len_max"]
    blocks = compress_blocks(tier, int_cols=ints)
    older = blocks.withColumn("raw_bytes", F.lit(0)).withColumn("comp_bytes", F.lit(0))
    cols = ["conv_id", "bucket_start", *ints]
    back = decompress_blocks(older, int_cols=ints).select(*cols)
    assert back.exceptAll(tier.select(*cols)).count() == 0
    assert tier.select(*cols).exceptAll(back).count() == 0


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
        blocks = compress_blocks(df, int_cols=["v"])
        back = decompress_blocks(blocks, int_cols=["v"])
        got = sorted((r["conv_id"], r["v"]) for r in back.collect())
    finally:
        spark.conf.set(conf, old)
    assert got == sorted((c, v) for c, _, v in rows)
