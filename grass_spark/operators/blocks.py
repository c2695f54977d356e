"""Compressed bucket blocks — the Gorilla codec as batched Arrow operators.

Turns a (keys..., ts, metrics...) tier into one row per (keys...,
block_start) holding delta-of-delta-compressed timestamps and
XOR/delta-compressed metric columns (:mod:`grass_spark.functions.compress`),
plus byte-level lineage (raw vs compressed sizes).  The inverse operator
restores the original rows bit-exactly.

This is the engine's counterpart of GRASS's per-row raster compression
(``lib/gis/compress.c:21-27``) — but time-series-aware, and implemented
as ``mapInArrow`` over whole record batches.  Encode repartitions by
(keys, block), sorts within partitions, and codes every block of a
batch in one segmented numpy pass; a block that runs past the end of a
batch is carried into the next one, never split.  Decode expands a
batch of block rows with segmented cumulative sums/XORs and emits Arrow
arrays directly.  The only Python in the plan is whole-array numpy and
pyarrow calls per batch (the BASELINE "zero per-row Python" rule).

Blocks are keyed by (keys..., ``date_trunc(block, ts)``): the rollup
writes month blocks of its minute tier, so one block is at most one
conversation-month.  NULL metrics travel in a validity bitmap; a float
NaN is a value, not a NULL, and keeps its bits.  Block rows are ~5-50x
smaller than their input, so everything downstream of the codec is
cheap.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from grass_spark.functions import compress as C

#: int64 stand-in for a NULL timestamp inside a ts blob
_NULL_TS = np.iinfo(np.int64).min


def report_columns() -> list[Column]:
    """The codec metrics over block rows, as aggregate columns, observed
    on the rollup's block write."""
    return [
        F.count(F.lit(1)).alias("n_blocks"),
        F.sum("n").alias("n_points"),
        F.sum("raw_bytes").alias("raw_bytes"),
        F.sum("comp_bytes").alias("comp_bytes"),
        F.round(F.sum("raw_bytes") / F.sum("comp_bytes"), 3).alias("ratio"),
    ]


def _binary_type(df: DataFrame) -> pa.DataType:
    large = df.sparkSession.conf.get("spark.sql.execution.arrow.useLargeVarTypes")
    return pa.large_binary() if large.lower() == "true" else pa.binary()


def _binary(data: np.ndarray, offsets: np.ndarray, typ: pa.DataType) -> pa.Array:
    width = np.int64 if typ == pa.large_binary() else np.int32
    return pa.Array.from_buffers(
        typ, len(offsets) - 1,
        [None, pa.py_buffer(offsets.astype(width)), pa.py_buffer(data)],
    )


def _blobs(arr: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """(data, offsets) of a binary array, without copying its bytes."""
    width = np.int64 if pa.types.is_large_binary(arr.type) else np.int32
    _, offs, data = arr.buffers()
    offsets = np.frombuffer(offs, dtype=width)[arr.offset:arr.offset + len(arr) + 1]
    return np.frombuffer(data, dtype=np.uint8), offsets.astype(np.int64)


def _numpy(arr: pa.Array, typ: pa.DataType, fill) -> tuple[np.ndarray, np.ndarray]:
    """(values, valid) of a column: NULL slots hold ``fill``."""
    arr = arr.cast(typ)
    if arr.null_count == 0:
        return arr.to_numpy(zero_copy_only=False), np.ones(len(arr), dtype=bool)
    valid = arr.is_valid().to_numpy(zero_copy_only=False)
    return pc.fill_null(arr, pa.scalar(fill, typ)).to_numpy(zero_copy_only=False), valid


def _masked(vals: np.ndarray, valid: np.ndarray, typ: pa.DataType) -> pa.Array:
    return pa.array(vals, type=typ, mask=None if valid.all() else ~valid)


def _breaks(batch: pa.RecordBatch, prev: pa.RecordBatch | None) -> np.ndarray:
    """Rows of ``batch`` that start a new block: where any column differs
    from the row before (NULL equals NULL).  Row 0 compares with ``prev``,
    the one row seen before this batch, and breaks when there is none."""
    n = batch.num_rows
    change = np.zeros(n, dtype=bool)
    change[0] = prev is None
    for i, col in enumerate(batch.columns):
        both = col if prev is None else pa.concat_arrays([prev.column(i), col])
        a, b = both.slice(1), both.slice(0, len(both) - 1)
        ne = pc.or_(
            pc.fill_null(pc.not_equal(a, b), False),
            pc.xor(a.is_null(), b.is_null()),
        ).to_numpy(zero_copy_only=False)
        change[n - len(ne):] |= ne
    return np.flatnonzero(change)


def compress_blocks(
    df: DataFrame,
    *,
    keys: list[str] | None = None,
    ts_col: str = "bucket_start",
    float_cols: list[str] | None = None,
    int_cols: list[str] | None = None,
    block: str = "day",
) -> DataFrame:
    """One compressed block per (keys..., date_trunc(block, ts))."""
    keys = ["conv_id"] if keys is None else list(keys)
    float_cols = list(float_cols or [])
    int_cols = list(int_cols or [])
    group = [*keys, "_block"]
    binary = _binary_type(df)

    key_fields = ", ".join(
        f"{k} {t}" for k, t in df.select(*keys).dtypes
    )
    blob_fields = ", ".join(
        [f"{m}_blob binary, {m}_valid binary" for m in float_cols + int_cols]
    )
    schema = (
        f"{key_fields}, block_start timestamp, n bigint, "
        f"ts_blob binary, raw_bytes bigint, comp_bytes bigint"
        + (", " + blob_fields if blob_fields else "")
    )
    out_names = [
        *keys, "block_start", "n", "ts_blob", "raw_bytes", "comp_bytes",
        *[f"{m}_{s}" for m in float_cols + int_cols for s in ("blob", "valid")],
    ]

    codecs = [
        *[(m, C.encode_floats_segments, pa.float64(), np.nan) for m in float_cols],
        *[(m, C.encode_ints_segments, pa.int64(), 0) for m in int_cols],
    ]

    def encode_blocks(rows: list[pa.RecordBatch], lengths: np.ndarray) -> pa.RecordBatch:
        """Code every block of ``rows``: block i is the next lengths[i] rows."""
        b = pa.Table.from_batches(rows).combine_chunks().to_batches()[0]
        first = pa.array(np.cumsum(lengths) - lengths)
        ts, _ = _numpy(b.column(ts_col), pa.int64(), _NULL_TS)
        ts_data, ts_offs = C.encode_timestamps_segments(ts, lengths)
        cols = {k: b.column(k).take(first) for k in keys}
        cols["block_start"] = b.column("_block").take(first)
        cols["n"] = pa.array(lengths, pa.int64())
        cols["ts_blob"] = _binary(ts_data, ts_offs, binary)
        comp = np.diff(ts_offs)
        for m, enc, typ, fill in codecs:
            vals, valid = _numpy(b.column(m), typ, fill)
            data, offs = enc(vals, lengths)
            vdata, voffs = C.encode_validity_segments(valid, lengths)
            cols[f"{m}_blob"] = _binary(data, offs, binary)
            cols[f"{m}_valid"] = _binary(vdata, voffs, binary)
            comp += np.diff(offs) + np.diff(voffs)
        cols["raw_bytes"] = pa.array(lengths * 8 * (1 + len(codecs)), pa.int64())
        cols["comp_bytes"] = pa.array(comp, pa.int64())
        return pa.RecordBatch.from_arrays([cols[c] for c in out_names], names=out_names)

    def encode(batches):
        carry: list[pa.RecordBatch] = []  # rows of the block still open
        for batch in batches:
            if batch.num_rows == 0:
                continue
            prev = carry[-1].slice(carry[-1].num_rows - 1).select(group) if carry else None
            starts = _breaks(batch.select(group), prev)
            if len(starts) == 0:
                carry.append(batch)
                continue
            # close every block that starts before the batch's last block
            held = sum(b.num_rows for b in carry)
            bounds = np.unique(np.r_[0, held + starts])
            if bounds[-1] > 0:
                yield encode_blocks([*carry, batch.slice(0, starts[-1])], np.diff(bounds))
            carry = [batch.slice(starts[-1])]
        if carry:
            yield encode_blocks(carry, np.array([sum(b.num_rows for b in carry)]))

    return (
        df.select(*keys, F.date_trunc(block, F.col(ts_col)).alias("_block"),
                  ts_col, *float_cols, *int_cols)
        .repartition(*group)
        .sortWithinPartitions(*group, ts_col)
        .mapInArrow(encode, schema=schema)
    )


def decompress_blocks(
    blocks: DataFrame,
    *,
    keys: list[str] | None = None,
    ts_col: str = "bucket_start",
    float_cols: list[str] | None = None,
    int_cols: list[str] | None = None,
) -> DataFrame:
    """Inverse of :func:`compress_blocks` — bit-exact restore."""
    keys = ["conv_id"] if keys is None else list(keys)
    float_cols = list(float_cols or [])
    int_cols = list(int_cols or [])

    key_fields = ", ".join(
        f"{k} {t}" for k, t in blocks.select(*keys).dtypes
    )
    out_fields = ", ".join(
        [f"{m} double" for m in float_cols] + [f"{m} bigint" for m in int_cols]
    )
    schema = f"{key_fields}, {ts_col} timestamp" + (
        ", " + out_fields if out_fields else ""
    )
    out_names = [*keys, ts_col, *float_cols, *int_cols]
    codecs = [
        *[(m, C.decode_floats_segments, pa.float64()) for m in float_cols],
        *[(m, C.decode_ints_segments, pa.int64()) for m in int_cols],
    ]

    def decode(batches):
        for b in batches:
            if b.num_rows == 0:
                continue
            ts, n = C.decode_timestamps_segments(*_blobs(b.column("ts_blob")))
            rows = pa.array(np.repeat(np.arange(len(n)), n))
            cols = {k: b.column(k).take(rows) for k in keys}
            cols[ts_col] = _masked(ts, ts != _NULL_TS, b.schema.field("block_start").type)
            for m, dec, typ in codecs:
                vals, _ = dec(*_blobs(b.column(f"{m}_blob")))
                valid = C.decode_validity_segments(*_blobs(b.column(f"{m}_valid")), n)
                cols[m] = _masked(vals, valid, typ)
            yield pa.RecordBatch.from_arrays([cols[c] for c in out_names], names=out_names)

    cols = [*keys, "block_start", "n", "ts_blob"] + [
        f"{m}_{s}" for m in float_cols + int_cols for s in ("blob", "valid")
    ]
    return blocks.select(*cols).mapInArrow(decode, schema=schema)
