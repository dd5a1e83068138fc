"""Hash families: portable (md5-based, reproducible in any engine) and
fast (xxhash64, JVM-native) — used by MinHash, SimHash and fingerprints.

The reference consumes precomputed MinHash signatures
(src/minhashlsh.py:83-101 of the reference, signature_sim0.8 = 9 band
hashes); this engine computes them itself: the base hash of each shingle
is a Spark SQL expression, and the permutation minima are taken with numpy
once per Arrow batch (operators/minhash_lsh.minhash_bands) — no Python per
row.
"""

from __future__ import annotations

import hashlib
from functools import lru_cache

from pyspark.sql import Column
from pyspark.sql import functions as F

# Universal-hash permutation family for MinHash: perm_i(h) =
# (a_i * (h mod 2^32) + b_i) mod P over a 32-bit prime. One base hash per
# shingle string; every permutation is then pure 64-bit integer arithmetic
# (overflow-safe: a < 2^31 so a*h32 + b < 2^63), and the
# identical arithmetic runs in DuckDB — so the production plan shape is
# oracle-checkable with an md5 base hash swapped in for xxhash64.
PERM_PRIME = 4294967291  # largest 32-bit prime
_PERM_A_MAX = (1 << 31) - 1


@lru_cache(maxsize=8)
def perm_coeffs(num_perm: int) -> tuple[tuple[int, int], ...]:
    """Deterministic (a_i, b_i) pairs derived from md5 (driver-side, once)."""
    def h(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    return tuple(
        (h(f"a:{i}") % _PERM_A_MAX + 1, h(f"b:{i}") % PERM_PRIME)
        for i in range(num_perm)
    )


def md5int(col: Column) -> Column:
    """60-bit bigint from the first 15 hex chars of md5 — the portable
    hash shared with the DuckDB oracle (('0x'||substr(md5(x),1,15))::bigint).
    """
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def md5int_seeded(seed: Column | int, col: Column) -> Column:
    """Hash family indexed by ``seed``: md5int(seed || ':' || value)."""
    s = F.lit(seed) if isinstance(seed, int) else seed
    return md5int(F.concat(s.cast("string"), F.lit(":"), col))


def xxhash_seeded(seed: Column | int, col: Column) -> Column:
    """Fast JVM-native hash family for the production path."""
    s = F.lit(seed) if isinstance(seed, int) else seed
    return F.xxhash64(s, col)


# NOTE: the per-row SimHash is implemented as an explode + hash-aggregate
# plan in operators/simhash_dedup.py (whole-stage codegen), not as a nested
# higher-order expression: Spark evaluates array lambdas interpreted, and
# F.shiftright/shiftleft only take Python-int shift amounts.
