"""Portable hash expression factories.

Dedup / fingerprint operators (SURVEY.md beyond-reference inventory) need a
hash that is *identical* in Spark and in the DuckDB oracle, otherwise the
driver's value-hash comparison cannot validate them. ``xxhash64``/``hash``
differ between engines, so we standardize on md5 (bit-identical everywhere)
and take the first 15 hex digits → a non-negative 60-bit integer that fits
a signed BIGINT in both engines.

DuckDB equivalent of ``hash64(x)``:

    CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT)

Spark side uses ``conv(substr(md5(x),1,15),16,10)``.

MinHash permutations are the classic universal family
``h_i(x) = (a_i * x + b_i) mod p`` over the base hash, with (a_i, b_i)
derived from a fixed seed so both engines compute the same signature.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Mersenne prime 2^61 - 1: modulus for the universal hash family.
MERSENNE_P = (1 << 61) - 1

# Deterministic (a, b) parameters; must match _minhash_params_sql below.
def minhash_params(num_hashes: int) -> list[tuple[int, int]]:
    """LCG-expanded deterministic parameters for the universal hash family.

    A tiny explicit LCG (no RNG object) so the same integers are trivially
    reproducible inside a SQL oracle or another engine.
    """
    params = []
    state = 0x5DEECE66D
    for _ in range(num_hashes):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = state % (MERSENNE_P - 1) + 1
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = state % MERSENNE_P
        params.append((a, b))
    return params


def hash64(col: Column | str) -> Column:
    """Portable 60-bit non-negative hash of a string column (md5-based)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def hash64_sql(expr: str) -> str:
    """DuckDB SQL text computing the same value as :func:`hash64`."""
    return f"CAST(('0x' || substr(md5({expr}), 1, 15)) AS BIGINT)"


def minhash_sigs(token_hash: Column, num_hashes: int) -> list[Column]:
    """Columns ``h_i(token_hash)`` for i in 0..num_hashes-1.

    Aggregate each with ``F.min`` grouped by document to get the MinHash
    signature. Arithmetic is done in modular 61-bit space; Python ints in
    the literals stay within int64 after the mod, and Spark's decimal
    promotion handles the intermediate product — we keep the product in
    decimal(38,0) explicitly to avoid silent overflow.
    """
    out = []
    for a, b in minhash_params(num_hashes):
        prod = token_hash.cast("decimal(38,0)") * F.lit(a).cast("decimal(38,0)")
        h = ((prod + F.lit(b).cast("decimal(38,0)")) % F.lit(MERSENNE_P).cast("decimal(38,0)"))
        out.append(h.cast("long"))
    return out
