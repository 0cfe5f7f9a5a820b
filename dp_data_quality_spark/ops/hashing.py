"""Engine-portable deterministic hashing.

Dedup/LSH operators need hash functions that an external ANSI-SQL oracle
(DuckDB) can reproduce bit-for-bit — Spark's ``xxhash64``/``hash`` are
engine-specific, so all cross-engine hashing here is built on ``md5``
hex digests (available and identical everywhere):

- ``h32``:  first 8 hex chars of md5  → uniform value in [0, 2^32)
- ``h60``:  first 15 hex chars of md5 → uniform value in [0, 2^60)
  (15 chars, not 16, so the value always fits a signed 64-bit int)

MinHash permutations are affine maps ``(a*x + b) mod P`` over
``x = h32(shingle) mod P`` with ``P = 2^31 - 1`` (Mersenne prime) and
small fixed odd multipliers, so every product stays well inside int64
for both engines.  The (a, b) pairs are fixed constants (generated once,
offline, seed 7) — broadcast as literals, never recomputed.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

MERSENNE_P = 2_147_483_647  # 2^31 - 1

# 16 fixed affine permutations (a odd, < 2^20; b < P). Generated offline
# with numpy.random.default_rng(7); hardcoded for engine portability.
MINHASH_COEFFS: tuple[tuple[int, int], ...] = (
    (372399, 1514944887), (427617, 1879495405), (952343, 206028550),
    (261265, 1494759273), (227099, 1617615363), (611147, 1518566567),
    (855895, 1973831501), (621803, 285930763), (639919, 193938003),
    (526077, 1079481223), (344907, 1436275661), (505357, 725629227),
    (79659, 1385272269), (872603, 258027607), (591287, 837130775),
    (935601, 1086596661),
)


def h32(c: Column) -> Column:
    """Deterministic 32-bit hash of a string column (md5-derived)."""
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long")


def h60(c: Column) -> Column:
    """Deterministic 60-bit hash of a string column (md5-derived)."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def minhash_perm(x: Column, a: int, b: int) -> Column:
    """One affine MinHash permutation of a 32-bit hash value."""
    return (F.lit(a) * (x % MERSENNE_P) + F.lit(b)) % MERSENNE_P
