"""Gorilla-style compressed columnar blocks (engine-specific layer).

The reference compresses raster rows with RLE/ZLIB/LZ4/BZIP2/ZSTD
(``lib/gis/compress.c:21-27``).  This engine's analog — per the north
star — is time-series-aware compression of bucket blocks: **delta-of-
delta** for timestamps and **delta** for integer metrics, in the spirit
of Facebook's Gorilla TSDB paper (Pelkonen et al., VLDB 2015).  Every
stored tier metric is an integer, so there is no float stream.

Layout twist for Spark: classic Gorilla is a single sequential
bitstream, which forces per-value Python on decode.  We store the same
information *decomposed*: a fixed 2-bit class code per value (packed
with ``np.packbits``) plus a variable-width payload stream whose
offsets are recoverable from the class codes alone.  Every step of
encode AND decode is then a whole-array numpy operation — zero
per-value Python, which is what makes the codec legal inside
Arrow UDFs under the engine's no-per-row-Python rule.

Classes (both streams):
  0: delta-of-delta == 0 / delta == 0          (0 payload bits)
  1: fits in 16 bits                           (16)
  2: fits in 32 bits                           (32)
  3: full 64 bits                              (64)

Timestamps are int64 microseconds; dods and deltas are zigzag-encoded
before classification.  NULLs are carried in a separate validity bitmap
(GRASS NULL-cell analog).  A blob starts with a 10-byte header: magic
``0x47``, version 1, the value count as little-endian int64.

Segmented kernels: every codec works on a *batch* of blocks at once —
the values of all blocks concatenated, plus one length per block
(``lengths``).  Diffs and cumulative sums reset at block starts, and
the encoders return all blobs as one byte buffer plus Arrow-style
``offsets`` (blob ``i`` is ``data[offsets[i]:offsets[i + 1]]``).  The
per-block ``encode_ints``/``encode_timestamps`` and their decoders are
the one-segment case, so a blob is the same bytes whichever way it was
made.
"""

from __future__ import annotations

import numpy as np

_MAGIC = 0x47  # 'G'
_HEAD = 10  # magic, version, n as little-endian int64
_WIDTH = np.array([0, 2, 4, 8], dtype=np.int64)  # payload bytes per class


def _zigzag(x: np.ndarray) -> np.ndarray:
    return ((x << 1) ^ (x >> 63)).astype(np.uint64)


def _unzigzag(u: np.ndarray) -> np.ndarray:
    x = u.astype(np.uint64)
    return ((x >> np.uint64(1)).astype(np.int64)) ^ -(x & np.uint64(1)).astype(np.int64)


def _classify(u: np.ndarray) -> np.ndarray:
    """Class code per uint64 value: 0 if 0, 1 if <2^16, 2 if <2^32, 3 else."""
    cls = np.zeros(u.shape, dtype=np.uint8)
    cls[u > 0] = 1
    cls[u >= np.uint64(1) << np.uint64(16)] = 2
    cls[u >= np.uint64(1) << np.uint64(32)] = 3
    return cls


# ---------------------------------------------------------------------------
# segment helpers
# ---------------------------------------------------------------------------


def _starts(lengths: np.ndarray) -> np.ndarray:
    """Exclusive prefix sum: where each segment begins."""
    return np.add.accumulate(lengths) - lengths


def _offsets(lengths: np.ndarray) -> np.ndarray:
    """Arrow-style offsets: ``[0, l0, l0 + l1, ...]``."""
    out = np.zeros(len(lengths) + 1, dtype=np.int64)
    np.add.accumulate(lengths, out=out[1:])
    return out


def _spread(base: np.ndarray, lengths: np.ndarray) -> np.ndarray:
    """Positions ``base[i] + 0 .. base[i] + lengths[i] - 1``, concatenated."""
    ends = np.add.accumulate(lengths)
    total = int(ends[-1]) if len(ends) else 0
    return np.repeat(base - (ends - lengths), lengths) + np.arange(total)


def _first(lengths: np.ndarray) -> np.ndarray:
    """Index of each non-empty segment's first value."""
    return _starts(lengths)[lengths > 0]


def _prev(v: np.ndarray, first: np.ndarray) -> np.ndarray:
    """The previous value within the segment; 0 before a segment's first."""
    p = np.empty_like(v)
    p[1:] = v[:-1]
    p[first] = 0
    return p


def _seg_cumsum(x: np.ndarray, lengths: np.ndarray) -> np.ndarray:
    cs = np.zeros(len(x) + 1, dtype=x.dtype)
    np.add.accumulate(x, out=cs[1:])
    return cs[1:] - np.repeat(cs[_starts(lengths)], lengths)


def _seg_packbits(bits: np.ndarray, nbits: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """``np.packbits`` of each segment, each padded to whole bytes."""
    nbytes = (nbits + 7) >> 3
    padded = np.zeros(8 * int(np.add.reduce(nbytes)), dtype=np.uint8)
    padded[_spread(_starts(nbytes) << 3, nbits)] = bits
    return np.packbits(padded), nbytes


def _seg_unpackbits(data: np.ndarray, at: np.ndarray, nbits: np.ndarray) -> np.ndarray:
    """The first ``nbits[i]`` bits of the bytes at ``data[at[i]:]``."""
    nbytes = (nbits + 7) >> 3
    packed = data[_spread(at, nbytes)]
    return np.unpackbits(packed)[_spread(_starts(nbytes) << 3, nbits)]


def _join(parts: list[tuple[np.ndarray, np.ndarray]]) -> tuple[np.ndarray, np.ndarray]:
    """Interleave per-segment pieces: blob ``i`` is piece ``i`` of each
    part in turn.  Returns ``(data, offsets)``."""
    offsets = _offsets(sum(n for _, n in parts))
    data = np.empty(int(offsets[-1]), dtype=np.uint8)
    at = offsets[:-1]
    for piece, n in parts:
        data[_spread(at, n)] = piece
        at = at + n
    return data, offsets


def _one(buf: bytes) -> tuple[np.ndarray, np.ndarray]:
    """One blob as a batch of one: ``(data, offsets)``."""
    b = np.frombuffer(buf, dtype=np.uint8)
    return b, np.array([0, len(b)], dtype=np.int64)


# ---------------------------------------------------------------------------
# the uint64 stream: header, 2-bit class codes, variable-width payload
# ---------------------------------------------------------------------------


def _encode_u64(u: np.ndarray, lengths: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    cls = _classify(u)
    head = np.zeros((len(lengths), _HEAD), dtype=np.uint8)
    head[:, 0] = _MAGIC
    head[:, 1] = 1  # version
    head[:, 2:] = lengths.astype("<i8").view(np.uint8).reshape(-1, 8)
    cls_bits = ((cls[:, None] >> np.array([1, 0], dtype=np.uint8)) & 1).ravel()
    cls_bytes, ncls = _seg_packbits(cls_bits, 2 * lengths)
    # payload: each value's low 0/2/4/8 little-endian bytes, in order
    width = _WIDTH[cls]
    keep = np.arange(8) < width[:, None]
    payload = u.astype("<u8").view(np.uint8).reshape(-1, 8)[keep]
    cw = _offsets(width)
    ends = np.add.accumulate(lengths)
    npay = cw[ends] - cw[ends - lengths]
    return _join([
        (head.ravel(), np.full(len(lengths), _HEAD, dtype=np.int64)),
        (cls_bytes, ncls),
        (payload, npay),
    ])


def _decode_u64(data: np.ndarray, offsets: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    at = offsets[:-1].astype(np.int64)
    if (offsets[1:] - offsets[:-1] < _HEAD).any() or (data[at] != _MAGIC).any():
        raise ValueError("bad block header")
    n = data[at[:, None] + np.arange(2, _HEAD)].view("<i8").ravel().astype(np.int64)
    bits = _seg_unpackbits(data, at + _HEAD, 2 * n).reshape(-1, 2)
    cls = bits[:, 0] << 1 | bits[:, 1]
    width = _WIDTH[cls]
    # each value's payload position: its offset inside the block's
    # payload plus where that payload begins in ``data``
    cw = _offsets(width)
    pay = at + (_HEAD + ((2 * n + 7) >> 3))
    pos = cw[:-1] + np.repeat(pay - cw[_starts(n)], n)
    keep = np.arange(8) < width[:, None]
    out = np.zeros((len(cls), 8), dtype=np.uint8)
    out[keep] = data[(pos[:, None] + np.arange(8))[keep]]
    return out.view("<u8").ravel().astype(np.uint64), n


# ---------------------------------------------------------------------------
# segmented codecs
# ---------------------------------------------------------------------------


def encode_timestamps_segments(ts_us: np.ndarray, lengths: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Delta-of-delta encode each segment of int64 microsecond
    timestamps.  A segment's first value is carried verbatim in slot 0
    (zigzagged), so each blob is self-contained."""
    ts = np.asarray(ts_us, dtype=np.int64)
    lengths = np.asarray(lengths, dtype=np.int64)
    first = _first(lengths)
    deltas = ts - _prev(ts, first)
    deltas[first] = 0
    dod = deltas - _prev(deltas, first)
    dod[first] = ts[first]
    return _encode_u64(_zigzag(dod), lengths)


def decode_timestamps_segments(data: np.ndarray, offsets: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    dod, n = _decode_u64(data, offsets)
    dod = _unzigzag(dod)
    first = _first(n)
    base = dod[first]
    dod[first] = 0
    ts = _seg_cumsum(_seg_cumsum(dod, n), n) + np.repeat(base, n[n > 0])
    return ts.astype(np.int64), n


def encode_ints_segments(vals: np.ndarray, lengths: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Delta encode each segment of int64 metric values (counts are
    near-constant per conversation, so deltas are tiny)."""
    v = np.asarray(vals, dtype=np.int64)
    lengths = np.asarray(lengths, dtype=np.int64)
    return _encode_u64(_zigzag(v - _prev(v, _first(lengths))), lengths)


def decode_ints_segments(data: np.ndarray, offsets: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    d, n = _decode_u64(data, offsets)
    return _seg_cumsum(_unzigzag(d), n).astype(np.int64), n


def encode_validity_segments(mask: np.ndarray, lengths: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """One validity bitmap (True = present) per segment."""
    lengths = np.asarray(lengths, dtype=np.int64)
    data, nbytes = _seg_packbits(np.asarray(mask, dtype=bool), lengths)
    return data, _offsets(nbytes)


def decode_validity_segments(data: np.ndarray, offsets: np.ndarray, n: np.ndarray) -> np.ndarray:
    return _seg_unpackbits(data, offsets[:-1].astype(np.int64), np.asarray(n, dtype=np.int64)).astype(bool)


# ---------------------------------------------------------------------------
# per-block codecs: the one-segment case
# ---------------------------------------------------------------------------


def encode_timestamps(ts_us: np.ndarray) -> bytes:
    """Delta-of-delta encode int64 microsecond timestamps."""
    return encode_timestamps_segments(ts_us, [len(ts_us)])[0].tobytes()


def decode_timestamps(buf: bytes) -> np.ndarray:
    return decode_timestamps_segments(*_one(buf))[0]


def encode_ints(vals: np.ndarray) -> bytes:
    """Delta encode int64 metric values."""
    return encode_ints_segments(vals, [len(vals)])[0].tobytes()


def decode_ints(buf: bytes) -> np.ndarray:
    return decode_ints_segments(*_one(buf))[0]


