"""Spark's ``hash`` (Murmur3 x86_32, seed 42) in pure Python, so the
driver can map a key literal to its bucket without a Spark job.

Bucketed MERGE tables place each row in ``pmod(hash(keys), n)``
(:func:`bucket_column`, used by every bucket writer in
``sinks/warehouse.py``). A point read that knows the bucket lists one
generation dir instead of all of them. Evaluating
``F.hash`` on a literal would launch a job per read, so the hash is
ported here from the public algorithm (Spark's ``Murmur3_x86_32`` and
``Murmur3Hash``): each key column is hashed with the previous column's
hash as seed, and a NULL leaves the seed unchanged.

Only the types whose Spark hashing is a plain function of the value are
covered: ``hashInt`` for boolean/byte/short/int/date, ``hashLong`` for
long/timestamp, ``hashUnsafeBytes`` for binary and UTF8_BINARY strings.
:func:`key_bucket` returns None for anything else, and the caller falls
back to an unpruned read.
"""

from __future__ import annotations

import datetime

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

SEED = 42
_M32 = 0xFFFFFFFF


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (32 - r))) & _M32


def _mix_k1(k1: int) -> int:
    return (_rotl((k1 * 0xCC9E2D51) & _M32, 15) * 0x1B873593) & _M32


def _mix_h1(h1: int, k1: int) -> int:
    return (_rotl(h1 ^ k1, 13) * 5 + 0xE6546B64) & _M32


def _fmix(h1: int, length: int) -> int:
    h1 ^= length
    h1 = ((h1 ^ (h1 >> 16)) * 0x85EBCA6B) & _M32
    h1 = ((h1 ^ (h1 >> 13)) * 0xC2B2AE35) & _M32
    return h1 ^ (h1 >> 16)


def hash_int(v: int, seed: int) -> int:
    return _fmix(_mix_h1(seed, _mix_k1(v & _M32)), 4)


def hash_long(v: int, seed: int) -> int:
    h1 = _mix_h1(seed, _mix_k1(v & _M32))
    return _fmix(_mix_h1(h1, _mix_k1((v >> 32) & _M32)), 8)


def hash_bytes(b: bytes, seed: int) -> int:
    """Spark's ``hashUnsafeBytes``: little-endian 4-byte words, then each
    trailing byte mixed on its own as a SIGNED int (this differs from
    reference Murmur3's tail, and Spark keeps it for compatibility)."""
    n = len(b)
    aligned = n - n % 4
    h1 = seed
    for i in range(0, aligned, 4):
        h1 = _mix_h1(h1, _mix_k1(int.from_bytes(b[i : i + 4], "little")))
    for byte in b[aligned:]:
        h1 = _mix_h1(h1, _mix_k1((byte - 256 if byte > 127 else byte) & _M32))
    return _fmix(h1, n)


_INT_RANGES = {
    T.ByteType: 1 << 7,
    T.ShortType: 1 << 15,
    T.IntegerType: 1 << 31,
    T.LongType: 1 << 63,
}


def _hash_value(v, dtype: T.DataType, seed: int) -> int | None:
    """``v`` hashed as Spark hashes a ``dtype`` value, or None when the
    type is not covered or ``v``'s Python type does not match it (a
    mismatched literal compares after a cast the port does not model)."""
    if isinstance(dtype, T.BooleanType):
        return hash_int(int(v), seed) if isinstance(v, bool) else None
    if type(dtype) in _INT_RANGES:
        bound = _INT_RANGES[type(dtype)]
        if not isinstance(v, int) or isinstance(v, bool) or not -bound <= v < bound:
            return None
        return (hash_long if isinstance(dtype, T.LongType) else hash_int)(v, seed)
    if isinstance(dtype, T.DateType):
        if type(v) is not datetime.date:
            return None
        return hash_int(dtype.toInternal(v), seed)
    if isinstance(dtype, T.TimestampType):
        # a naive literal is NTZ under spark.sql.timestampType=TIMESTAMP_NTZ
        # and compares through a session-zone cast; before 1900 the JVM's
        # hybrid calendar rebases it. Neither is modelled here.
        if not isinstance(v, datetime.datetime) or v.year < 1900:
            return None
        if v.tzinfo is None:
            from pyspark.sql.utils import is_timestamp_ntz_preferred

            if is_timestamp_ntz_preferred():
                return None
        return hash_long(dtype.toInternal(v), seed)
    if isinstance(dtype, T.StringType):
        if not isinstance(v, str) or not dtype.isUTF8BinaryCollation():
            return None
        try:
            return hash_bytes(v.encode("utf-8"), seed)
        except UnicodeEncodeError:
            return None
    if isinstance(dtype, T.BinaryType):
        return hash_bytes(bytes(v), seed) if isinstance(v, (bytes, bytearray)) else None
    return None


def spark_hash(values, dtypes) -> int | None:
    """``hash(*values)`` as Spark computes it for columns of ``dtypes``
    (a signed 32-bit int), or None when a value is not covered."""
    h = SEED
    for v, dtype in zip(values, dtypes):
        if v is None:
            continue
        h = _hash_value(v, dtype, h)
        if h is None:
            return None
    return h - (1 << 32) if h & 0x80000000 else h


def key_bucket(values, dtypes, n_buckets: int) -> int | None:
    """``pmod(hash(*values), n_buckets)``, or None when not covered."""
    h = spark_hash(values, dtypes)
    return None if h is None else h % n_buckets


def bucket_column(key_cols: list[str], n_buckets: int) -> Column:
    """The bucket id every bucketed-table writer stores rows under:
    ``pmod(hash(keys), n_buckets)``, which :func:`key_bucket` mirrors."""
    return F.pmod(F.hash(*[F.col(c) for c in key_cols]), F.lit(n_buckets))
