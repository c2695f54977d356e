"""Compressed bucket blocks — the Gorilla codec as batched Arrow operators.

Turns a (keys..., bucket_start, int metrics...) tier into one row per
(keys..., month) holding delta-of-delta-compressed timestamps and
delta-compressed integer metric columns
(:mod:`grass_spark.functions.compress`).  The inverse operator restores
the original rows bit-exactly.

This is the engine's counterpart of GRASS's per-row raster compression
(``lib/gis/compress.c:21-27``) — but time-series-aware, and implemented
as ``mapInArrow`` over whole record batches.  Encode repartitions by
(keys, block), sorts within partitions, and codes every block of a
batch in one segmented numpy pass; a block that runs past the end of a
batch is carried into the next one, never split.  Decode expands a
batch of block rows with segmented cumulative sums and emits Arrow
arrays directly.  The only Python in the plan is whole-array numpy and
pyarrow calls per batch (the BASELINE "zero per-row Python" rule).

Blocks are keyed by (keys..., ``date_trunc("month", bucket_start)``):
one block is at most one conversation-month of the minute tier.  NULL
metrics travel in a validity bitmap.  A block row holds ``block_start``,
the point count ``n``, ``ts_blob`` and a ``{m}_blob``/``{m}_valid`` pair
per metric; decode selects just those columns, so block files that carry
more (older stores wrote per-block byte counts) still decode.  The
store's codec report is read from the files afterwards
(``RollupPipeline._write_blocks``), not tallied here.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from grass_spark.functions import compress as C

#: int64 stand-in for a NULL timestamp inside a ts blob
_NULL_TS = np.iinfo(np.int64).min

#: the timestamp column a block codes, and the unit a block spans
_TS, _BLOCK = "bucket_start", "month"


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


def _numpy(arr: pa.Array, fill: int) -> tuple[np.ndarray, np.ndarray]:
    """(int64 values, valid) of a column: NULL slots hold ``fill``."""
    arr = arr.cast(pa.int64())
    if arr.null_count == 0:
        return arr.to_numpy(zero_copy_only=False), np.ones(len(arr), dtype=bool)
    valid = arr.is_valid().to_numpy(zero_copy_only=False)
    return pc.fill_null(arr, pa.scalar(fill, pa.int64())).to_numpy(zero_copy_only=False), valid


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
    df: DataFrame, *, int_cols: list[str], keys: list[str] | None = None,
) -> DataFrame:
    """One compressed block per (keys..., month of ``bucket_start``)."""
    keys = ["conv_id"] if keys is None else list(keys)
    int_cols = list(int_cols)
    group = [*keys, "_block"]
    binary = _binary_type(df)

    key_fields = ", ".join(
        f"{k} {t}" for k, t in df.select(*keys).dtypes
    )
    blob_fields = "".join(f", {m}_blob binary, {m}_valid binary" for m in int_cols)
    schema = f"{key_fields}, block_start timestamp, n bigint, ts_blob binary{blob_fields}"
    out_names = [
        *keys, "block_start", "n", "ts_blob",
        *[f"{m}_{s}" for m in int_cols for s in ("blob", "valid")],
    ]

    def encode_blocks(rows: list[pa.RecordBatch], lengths: np.ndarray) -> pa.RecordBatch:
        """Code every block of ``rows``: block i is the next lengths[i] rows."""
        b = pa.Table.from_batches(rows).combine_chunks().to_batches()[0]
        first = pa.array(np.cumsum(lengths) - lengths)
        ts, _ = _numpy(b.column(_TS), _NULL_TS)
        cols = {k: b.column(k).take(first) for k in keys}
        cols["block_start"] = b.column("_block").take(first)
        cols["n"] = pa.array(lengths, pa.int64())
        cols["ts_blob"] = _binary(*C.encode_timestamps_segments(ts, lengths), binary)
        for m in int_cols:
            vals, valid = _numpy(b.column(m), 0)
            cols[f"{m}_blob"] = _binary(*C.encode_ints_segments(vals, lengths), binary)
            cols[f"{m}_valid"] = _binary(*C.encode_validity_segments(valid, lengths), binary)
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
        df.select(*keys, F.date_trunc(_BLOCK, F.col(_TS)).alias("_block"), _TS, *int_cols)
        .repartition(*group)
        .sortWithinPartitions(*group, _TS)
        .mapInArrow(encode, schema=schema)
    )


def decompress_blocks(
    blocks: DataFrame, *, int_cols: list[str], keys: list[str] | None = None,
) -> DataFrame:
    """Inverse of :func:`compress_blocks` — bit-exact restore."""
    keys = ["conv_id"] if keys is None else list(keys)
    int_cols = list(int_cols)

    key_fields = ", ".join(
        f"{k} {t}" for k, t in blocks.select(*keys).dtypes
    )
    out_fields = "".join(f", {m} bigint" for m in int_cols)
    schema = f"{key_fields}, {_TS} timestamp{out_fields}"
    out_names = [*keys, _TS, *int_cols]

    def decode(batches):
        for b in batches:
            if b.num_rows == 0:
                continue
            ts, n = C.decode_timestamps_segments(*_blobs(b.column("ts_blob")))
            rows = pa.array(np.repeat(np.arange(len(n)), n))
            cols = {k: b.column(k).take(rows) for k in keys}
            cols[_TS] = _masked(ts, ts != _NULL_TS, b.schema.field("block_start").type)
            for m in int_cols:
                vals, _ = C.decode_ints_segments(*_blobs(b.column(f"{m}_blob")))
                valid = C.decode_validity_segments(*_blobs(b.column(f"{m}_valid")), n)
                cols[m] = _masked(vals, valid, pa.int64())
            yield pa.RecordBatch.from_arrays([cols[c] for c in out_names], names=out_names)

    cols = [*keys, "block_start", "n", "ts_blob"] + [
        f"{m}_{s}" for m in int_cols for s in ("blob", "valid")
    ]
    return blocks.select(*cols).mapInArrow(decode, schema=schema)
