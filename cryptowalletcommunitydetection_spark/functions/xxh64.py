"""Vectorized Spark-compatible xxHash64 chaining (numpy, no Python loops
over rows).

Why this exists: the deterministic-walk operators (graph/walks.py) drive
every transition with Spark ``xxhash64(...)`` column expressions, which
makes corpora pure functions of (edges, seed) on any partitioning. Their
driver-side replay kernel needs the SAME hash values inside numpy: it
builds each walker's id ``<start>#<index>`` itself, hashes it
(``hash_bytes``, the ``xxhash64(walk_id)`` base), and re-derives every
step hash from that base, exploiting how Spark computes multi-argument
hashes:

    xxhash64(c1, c2, ..., cn)  ==  fold left over the columns with the
    running hash as the next seed, starting from seed 42:
        h = hash(c1, 42); h = hash(c2, h); ...

so ``xxhash64(walk_id, t, att, seed)`` ==
``hash_int(seed, hash_int(att, hash_int(t, xxhash64(walk_id))))``, all
vectorized over uint64 arrays.

The step functions mirror Spark's XXH64 (xxHash64 specification —
public domain; same algorithm in every implementation):

- ``hash_int(i, seed)``: 4-byte branch (IntegerType literals/columns)
- ``hash_long(v, seed)``: 8-byte branch (LongType)
- ``hash_bytes(data, seed)``: variable-length branch (StringType's
  UTF-8 bytes), for a string array (grouped by byte length) or a
  CONSTANT byte string (the 'coin' / 'alias' / 'accept' channel
  separators) under a vector of seeds — loops run over byte positions,
  not over rows.
- ``hash_double(x, seed)``: DoubleType (canonical NaN, ``-0.0`` as 0.0)
- ``hash_arrow(columns)``: the whole ``xxhash64(c1, ..., cn)`` chain over
  pyarrow columns, nulls skipped — the driver-side kernels key their run
  manifests with it (plans/checkpoint.py ``arrow_identity``).

Bit-exactness against Spark's expressions is pinned by
tests/test_xxh64.py property tests (random ints/longs/strings compared
to ``F.xxhash64`` column output, and the manifest key against
``content_identity``).
"""

from __future__ import annotations

import numpy as np

_P1 = np.uint64(0x9E3779B185EBCA87)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)
_P4 = np.uint64(0x85EBCA77C2B2AE63)
_P5 = np.uint64(0x27D4EB2F165667C5)

SPARK_DEFAULT_SEED = np.uint64(42)


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    rr = np.uint64(r)
    return (x << rr) | (x >> np.uint64(64 - r))


def _fmix(h: np.ndarray) -> np.ndarray:
    h = h ^ (h >> np.uint64(33))
    h = h * _P2
    h = h ^ (h >> np.uint64(29))
    h = h * _P3
    h = h ^ (h >> np.uint64(32))
    return h


def _round(acc, lane):
    return _rotl(acc + lane * _P2, 31) * _P1


def _u64(x) -> np.ndarray:
    """int64-ish input -> uint64 bit pattern (vector or scalar)."""
    return np.asarray(x).astype(np.int64).view(np.uint64)


def hash_int(i, seed) -> np.ndarray:
    """XXH64 of one 4-byte int, seed may be a uint64 vector.

    Matches Spark's hash of an IntegerType value (the 4-byte tail
    branch of the xxHash64 spec)."""
    with np.errstate(over="ignore"):
        h = np.asarray(seed, dtype=np.uint64) + _P5 + np.uint64(4)
        k = np.uint64(np.int64(i) & np.int64(0xFFFFFFFF)) if np.isscalar(i) else (
            _u64(i) & np.uint64(0xFFFFFFFF)
        )
        h = h ^ (k * _P1)
        h = _rotl(h, 23) * _P2 + _P3
        return _fmix(h)


def hash_long(v, seed) -> np.ndarray:
    """XXH64 of one 8-byte long, seed may be a uint64 vector."""
    with np.errstate(over="ignore"):
        h = np.asarray(seed, dtype=np.uint64) + _P5 + np.uint64(8)
        h = h ^ _round(np.uint64(0), _u64(v))
        h = _rotl(h, 27) * _P1 + _P4
        return _fmix(h)


def _hash_rows(m: np.ndarray, seed) -> np.ndarray:
    """XXH64 of each row of the uint8 matrix ``m`` (every row one
    message of ``m.shape[1]`` bytes) under a seed vector; a one-row
    ``m`` broadcasts against the seeds. The loops run over the byte
    positions, so the work is O(length) vector operations."""
    n = m.shape[1]
    seed = np.asarray(seed, dtype=np.uint64)
    words = np.ascontiguousarray(m[:, :n - n % 8]).view("<u8").astype(np.uint64)
    i = 0
    with np.errstate(over="ignore"):
        if n >= 32:  # the four-lane stripe loop
            v = [seed + _P1 + _P2, seed + _P2, seed, seed - _P1]
            while n - i >= 32:
                v = [_round(v[j], words[:, i // 8 + j]) for j in range(4)]
                i += 32
            h = _rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)
            for lane in v:
                h = (h ^ _round(np.uint64(0), lane)) * _P1 + _P4
        else:
            h = seed + _P5
        h = h + np.uint64(n)
        while n - i >= 8:
            h = h ^ _round(np.uint64(0), words[:, i // 8])
            h = _rotl(h, 27) * _P1 + _P4
            i += 8
        if n - i >= 4:
            k = np.ascontiguousarray(m[:, i:i + 4]).view("<u4").astype(np.uint64)[:, 0]
            h = h ^ (k * _P1)
            h = _rotl(h, 23) * _P2 + _P3
            i += 4
        while i < n:
            h = h ^ (m[:, i].astype(np.uint64) * _P5)
            h = _rotl(h, 11) * _P1
            i += 1
        return _fmix(h)


def hash_bytes(data, seed) -> np.ndarray:
    """XXH64 of byte strings: Spark's hash of a StringType / BinaryType
    value (its UTF-8 bytes).

    ``data`` is either one constant ``bytes`` hashed under a seed
    vector (the 'coin' / 'alias' / 'accept' channel separators), or a
    pyarrow string / binary array without nulls, hashed row by row
    under ``seed`` (a scalar or one seed per row). Rows are grouped by
    byte length, and each group is one ``_hash_rows`` matrix."""
    if isinstance(data, bytes):
        return _hash_rows(np.frombuffer(data, dtype=np.uint8)[None, :], seed)
    import pyarrow as pa

    arr = data.cast(pa.large_binary())
    off = np.frombuffer(arr.buffers()[1], dtype=np.int64)[arr.offset:arr.offset + len(arr) + 1]
    buf = arr.buffers()[2]
    raw = np.frombuffer(buf, dtype=np.uint8) if buf is not None else np.zeros(0, np.uint8)
    lengths = np.diff(off)
    seeds = np.broadcast_to(np.asarray(seed, dtype=np.uint64), lengths.shape)
    out = np.empty(len(lengths), dtype=np.uint64)
    for n in np.unique(lengths):
        rows = np.flatnonzero(lengths == n)
        m = (
            np.lib.stride_tricks.sliding_window_view(raw, n)[off[rows]]
            if n else np.zeros((len(rows), 0), np.uint8)
        )
        out[rows] = _hash_rows(m, seeds[rows])
    return out


def hash_double(x, seed) -> np.ndarray:
    """Spark's hash of a DoubleType value: the long bits of
    ``doubleToLongBits``, so every NaN hashes as the canonical NaN and
    ``-0.0`` as ``0.0``."""
    x = np.asarray(x, dtype=np.float64)
    bits = np.where(np.isnan(x), np.int64(0x7FF8000000000000), x.view(np.int64))
    return hash_long(np.where(x == 0.0, np.int64(0), bits), seed)


def hash_arrow(columns) -> np.ndarray:
    """Spark's ``xxhash64(c1, ..., cn)`` over pyarrow arrays of equal
    length: the columns chain from seed 42, and a null leaves the
    running hash as it was. Integer, boolean, date, timestamp, double
    and string / binary columns hash as Spark hashes their types."""
    import pyarrow as pa
    import pyarrow.compute as pc

    h = np.full(len(columns[0]) if columns else 0, SPARK_DEFAULT_SEED, dtype=np.uint64)
    for col in columns:
        if isinstance(col, pa.ChunkedArray):
            col = col.combine_chunks()
        t = col.type
        if pa.types.is_string(t) or pa.types.is_large_string(t) or pa.types.is_binary(t) \
                or pa.types.is_large_binary(t):
            step = hash_bytes(pc.fill_null(col.cast(pa.large_binary()), b""), h)
        elif pa.types.is_floating(t) and t.bit_width == 64:
            step = hash_double(pc.fill_null(col, 0.0).to_numpy(), h)
        elif pa.types.is_integer(t) or pa.types.is_boolean(t) or pa.types.is_date32(t) \
                or pa.types.is_timestamp(t):
            v = pc.fill_null(col.cast(pa.int32() if pa.types.is_date32(t) else pa.int64()), 0)
            v = v.to_numpy().astype(np.int64)
            step = hash_long(v, h) if t.bit_width == 64 else hash_int(v, h)
        else:
            raise TypeError(f"no Spark xxhash64 twin for column type {t}")
        h = np.where(pc.is_valid(col).to_numpy(zero_copy_only=False), step, h)
    return h


def hash_py_int(i: int, seed) -> np.ndarray:
    """The chain step Spark's ``F.lit(i)`` contributes for a Python
    int: a literal within int32 range becomes IntegerType (4-byte
    branch), anything larger LongType (8-byte branch). Kernels that
    re-derive ``xxhash64(..., lit(seed), ...)`` chains must mirror
    that typing or diverge for seeds outside int32 (pinned by
    tests/test_xxh64.py)."""
    if -(2 ** 31) <= i < 2 ** 31:
        return hash_int(i, seed)
    return hash_long(i, seed)


def to_spark_long(h: np.ndarray) -> np.ndarray:
    """uint64 hash state -> the signed int64 Spark exposes."""
    return h.view(np.int64)


def pmod_u64(h: np.ndarray, m: np.ndarray) -> np.ndarray:
    """Spark ``pmod(hash, m)`` for positive m over the SIGNED view of
    the hash (Spark's pmod operates on the long value; numpy's ``%`` on
    int64 already yields the divisor's sign, which equals pmod for
    positive divisors)."""
    return h.view(np.int64) % np.asarray(m, dtype=np.int64)
