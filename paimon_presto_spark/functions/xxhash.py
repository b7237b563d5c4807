"""Pure-Python XXH64 matching Spark's ``xxhash64`` expression bit-for-bit.

Spark buckets primary keys with ``pmod(xxhash64(cols...), n)`` (JVM-side,
``org.apache.spark.sql.catalyst.expressions.XxHash64``, seed 42). Python
writers (the DataSource write path) must place rows in the same bucket as
JVM writers or bucket-aligned merge-on-read breaks — so this module
re-implements exactly the subset Spark uses:

- XXH64 over an 8-byte little-endian long (``hash_long``) — bigint, and
  a timestamp's (with or without time zone) micros since the epoch;
- XXH64 over a 4-byte int (``hash_int``) — boolean/byte/short/int and a
  date's days since the epoch;
- XXH64 over raw bytes (``hash_bytes``) — strings, CHAR(n) and VARCHAR(n)
  hash as the UTF-8 bytes of the stored value (a CHAR already padded);
- multi-column chaining: ``hash(col_i, seed=hash(col_{i-1}, ...))`` with
  initial seed 42, null columns skipped (Spark keeps the running seed).

The XXH64 algorithm itself is public (Yann Collet, BSD); constants below
are the standard primes.
"""

from __future__ import annotations

M = (1 << 64) - 1
P1 = 0x9E3779B185EBCA87
P2 = 0xC2B2AE3D27D4EB4F
P3 = 0x165667B19E3779F9
P4 = 0x85EBCA77C2B2AE63
P5 = 0x27D4EB2F165667C5

SPARK_SEED = 42


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & M


def _fmix(h: int) -> int:
    h ^= h >> 33
    h = (h * P2) & M
    h ^= h >> 29
    h = (h * P3) & M
    h ^= h >> 32
    return h


def hash_long(value: int, seed: int) -> int:
    """XXH64 of one 64-bit integer (Spark's hashLong)."""
    value &= M
    h = (seed + P5 + 8) & M
    k = _rotl((value * P2) & M, 31)
    h ^= (k * P1) & M
    h = ((_rotl(h, 27) * P1) + P4) & M
    return _fmix(h)


def hash_int(value: int, seed: int) -> int:
    """XXH64 of one 32-bit integer (Spark's hashInt — the 4-byte tail
    path; boolean/byte/short/int types all route here)."""
    value &= 0xFFFFFFFF
    h = (seed + P5 + 4) & M
    h ^= (value * P1) & M
    h = ((_rotl(h, 23) * P2) + P3) & M
    return _fmix(h)


def hash_bytes(data: bytes, seed: int) -> int:
    """XXH64 of a byte string (Spark hashes UTF-8 string payloads here)."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + P1 + P2) & M
        v2 = (seed + P2) & M
        v3 = seed & M
        v4 = (seed - P1) & M
        while i <= n - 32:
            for j, v in enumerate((v1, v2, v3, v4)):
                k = int.from_bytes(data[i + 8 * j : i + 8 * j + 8], "little")
                v = (v + k * P2) & M
                v = _rotl(v, 31)
                v = (v * P1) & M
                if j == 0:
                    v1 = v
                elif j == 1:
                    v2 = v
                elif j == 2:
                    v3 = v
                else:
                    v4 = v
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & M
        for v in (v1, v2, v3, v4):
            k = _rotl((v * P2) & M, 31)
            h ^= (k * P1) & M
            h = ((h * P1) + P4) & M
    else:
        h = (seed + P5) & M
    h = (h + n) & M
    while i <= n - 8:
        k = int.from_bytes(data[i : i + 8], "little")
        k = _rotl((k * P2) & M, 31)
        h ^= (k * P1) & M
        h = ((_rotl(h, 27) * P1) + P4) & M
        i += 8
    if i <= n - 4:
        k = int.from_bytes(data[i : i + 4], "little")
        h ^= (k * P1) & M
        h = ((_rotl(h, 23) * P2) + P3) & M
        i += 4
    while i < n:
        h ^= (data[i] * P5) & M
        h = (_rotl(h, 11) * P1) & M
        i += 1
    return _fmix(h)


def _to_signed(u: int) -> int:
    return u - (1 << 64) if u >= (1 << 63) else u


#: ddl types routed through the 4-byte int path vs the 8-byte long path
_INT_TYPES = {"boolean", "tinyint", "smallint", "int", "date"}
_LONG_TYPES = {"bigint", "timestamp", "timestamp_ntz"}


def spark_xxhash64(values_with_types) -> int:
    """Bit-identical twin of ``F.xxhash64(*cols)``.

    `values_with_types` is a sequence of (value, ddl_type) — the column
    type decides the hash shape (Spark hashes boolean/byte/short/int and
    date via a 4-byte path, bigint and timestamps via an 8-byte path,
    strings, CHAR and VARCHAR as UTF-8 bytes). A date is given as its
    days since the epoch and a timestamp as its micros since the epoch,
    the values Spark hashes. None values are skipped with the running
    seed carried through, exactly as Spark does. Returns Spark's signed
    64-bit result.
    """
    h = SPARK_SEED
    for v, t in values_with_types:
        if v is None:
            continue
        if t in _INT_TYPES:
            h = hash_int(int(v), h)
        elif t in _LONG_TYPES:
            h = hash_long(int(v), h)
        elif t == "string" or t.startswith(("char(", "varchar(")):
            h = hash_bytes(str(v).encode("utf-8"), h)
        elif t == "binary":
            h = hash_bytes(bytes(v), h)
        else:
            raise TypeError(
                f"unsupported bucket-key type {t!r}; bucket keys must be "
                "integral, date, timestamp, string, char, varchar or binary"
            )
    return _to_signed(h)


def spark_bucket(n_buckets: int, values_with_types) -> int:
    """``pmod(xxhash64(cols...), n)`` — the write-side bucket assignment."""
    return spark_xxhash64(values_with_types) % n_buckets
