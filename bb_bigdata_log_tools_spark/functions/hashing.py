"""Deterministic cross-engine hashing primitives.

All content hashes are md5-derived so that Spark and any ANSI-SQL oracle
(DuckDB) compute bit-identical values: ``md5`` is standardized, and the
first 15 hex chars (60 bits) fit a signed int64 in both engines. Minhash /
simhash / fingerprints build on this with pure integer arithmetic, so every
dedup operator stays inside whole-stage codegen — no Python in the hot
path — and remains oracle-checkable.

The minhash permutation family works mod the Mersenne prime 2^31-1 with
parameters < 2^31, so every intermediate product stays below 2^63 and the
identical expression evaluates overflow-free in any int64 SQL engine.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Mersenne prime 2^31 - 1: modulus for the minhash permutation family.
# 31-bit so a*h < 2^62 never overflows int64 (Spark LongType / DuckDB BIGINT).
MERSENNE_31 = (1 << 31) - 1


def permutation_params(num_perm: int, seed: int = 2024) -> list[tuple[int, int]]:
    """Deterministic (a, b) for h_i(x) = (a_i*x + b_i) mod (2^31-1).

    Fixed-seed LCG so the Spark plan and the SQL oracle embed the same
    literals.
    """
    params = []
    state = seed
    for _ in range(num_perm):
        state = (6364136223846793005 * state + 1442695040888963407) % (1 << 63)
        a = state % (MERSENNE_31 - 1) + 1
        state = (6364136223846793005 * state + 1442695040888963407) % (1 << 63)
        b = state % MERSENNE_31
        params.append((a, b))
    return params


def md5_long(c: Column | str) -> Column:
    """60-bit non-negative int64 content hash, identical in Spark & DuckDB.

    DuckDB equivalent: ``('0x' || substring(md5(x), 1, 15))::BIGINT``.
    """
    c = F.col(c) if isinstance(c, str) else c
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def shingles(c: Column | str, n: int = 5) -> Column:
    """Character n-gram shingle array of a string column (JVM-side).

    Uses ``sequence`` + ``transform`` + ``substring`` — pure Catalyst
    expressions, no UDF. Strings shorter than ``n`` yield one shingle (the
    whole string).
    """
    c = F.col(c) if isinstance(c, str) else c
    count = F.greatest(F.length(c) - F.lit(n - 1), F.lit(1))
    return F.transform(F.sequence(F.lit(1), count), lambda i: F.substring(c, i, n))

