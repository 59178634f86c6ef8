"""DuckDB SQL twins of the deterministic integer-hash machinery.

The Spark side hashes with ``textops._fnv1a`` (FNV-1a over utf-8 bytes)
and the multiply-shift minhash family (numpy uint64, wrapping at 2^64).
Both are plain integer arithmetic, so DuckDB can replay them EXACTLY:
HUGEINT (int128) intermediates with explicit mod-2^64 wraparound, and a
hi/lo 32-bit split for the u64*u64 multiply (whose 128-bit product would
overflow signed int128).  ``ord(char) == utf-8 byte`` requires ASCII text
— true for the driver corpus (pytest-asserted on the fixtures).

These twins upgrade the minhash/simhash near-dup entries and the M2
hash-embedder from rows-only checks to full value-hash oracle gates
(reference D2 semantics: src/data/remove_duplicate_paragraphs.py:104-132;
M2: src/features/embed_paragraphs.py:55).
"""

from __future__ import annotations

M64 = 1 << 64
M32 = 1 << 32
FNV_OFFSET = 0xCBF29CE484222325
FNV_PRIME = 0x100000001B3


def fnv1a_sql(expr: str) -> str:
    """FNV-1a over the code points of ``expr`` (== utf-8 bytes for ASCII).

    ``expr`` must be a simple column/lambda-variable reference (it is
    referenced twice).  Exactly ``textops._fnv1a``: h = offset; per byte
    h = ((h XOR byte) * prime) mod 2^64.  The xor runs in UBIGINT (state
    is always < 2^64), the multiply in HUGEINT.
    """
    return (
        f"list_reduce(list_prepend(CAST({FNV_OFFSET} AS HUGEINT), "
        f"list_transform(range(1, length({expr}) + 1), "
        f"i -> CAST(ord(({expr})[i]) AS HUGEINT))), "
        f"(h, c) -> (CAST(xor(CAST(h AS UBIGINT), CAST(c AS UBIGINT)) AS HUGEINT)"
        f" * {FNV_PRIME}) % {M64})"
    )


def mulshift_sql(x: str, a: int, b: int) -> str:
    """(x*a + b) mod 2^64, numpy-uint64-exact (textops.minhash_signature).

    x*a would need 128 unsigned bits, one more than HUGEINT has, so split
    x = xh*2^32 + xl:  x*a mod 2^64 = ((xh*a mod 2^32)*2^32 + xl*a) mod 2^64
    — every intermediate stays below 2^98.
    """
    return (
        f"((((({x}) // {M32}) * {a}) % {M32}) * {M32}"
        f" + (({x}) % {M32}) * {a} + {b}) % {M64}"
    )


# --- Spark xxhash64 over one BIGINT (seed 42) -------------------------------
#
# Spark's F.xxhash64(longCol) hashes the 8-byte long as a single XXH64
# lane (XXH64.hashLong): no stripes, so the whole algorithm is ~12 integer
# ops — replayable exactly in DuckDB with the same HUGEINT mod-2^64
# arithmetic as the minhash family above.  This is what makes the
# hash-ordered quantizer sample in ops.simsearch.train_centroids (and its
# first-K centroid init) a DuckDB-twinnable selection.

XXP1 = 0x9E3779B185EBCA87
XXP2 = 0xC2B2AE3D27D4EB4F
XXP3 = 0x165667B19E3779F9
XXP4 = 0x85EBCA77C2B2AE63
XXP5 = 0x27D4EB2F165667C5
XX_SEED = 42  # Spark's default


def _rotl(x: str, r: int) -> str:
    return f"((({x}) % {1 << (64 - r)}) * {1 << r} + ({x}) // {1 << (64 - r)})"


def _xor(a: str, b: str) -> str:
    return (f"CAST(xor(CAST(({a}) AS UBIGINT), CAST(({b}) AS UBIGINT)) "
            f"AS HUGEINT)")


def xxh64_long_steps(expr: str) -> tuple[str, str]:
    """(select-steps, final-column) replaying ``F.xxhash64(bigint)``.

    Returns a comma-joined chain of lateral-alias SELECT items (DuckDB
    lets a select item reference earlier aliases) and the name of the
    final SIGNED BIGINT column — bit-equal to Spark's output, so ORDER BY
    it reproduces Spark's signed-long ordering.  ``expr`` may be negative
    (two's complement wrap to [0, 2^64) first).  Step columns are named
    ``xx0``..``xx11``."""
    prefix = "xx"
    s = []
    s.append(f"((CAST({expr} AS HUGEINT) % {M64} + {M64}) % {M64}) AS {prefix}0")
    s.append(f"{mulshift_sql(f'{prefix}0', XXP2, 0)} AS {prefix}1")
    s.append(f"{_rotl(f'{prefix}1', 31)} AS {prefix}2")
    s.append(f"{mulshift_sql(f'{prefix}2', XXP1, 0)} AS {prefix}3")
    h0 = (XX_SEED + XXP5 + 8) % M64
    s.append(f"{_xor(str(h0), f'{prefix}3')} AS {prefix}4")
    s.append(f"{_rotl(f'{prefix}4', 27)} AS {prefix}5")
    s.append(f"{mulshift_sql(f'{prefix}5', XXP1, XXP4)} AS {prefix}6")
    # fmix avalanche
    s.append(f"{_xor(f'{prefix}6', f'({prefix}6) // {1 << 33}')} AS {prefix}7")
    s.append(f"{mulshift_sql(f'{prefix}7', XXP2, 0)} AS {prefix}8")
    s.append(f"{_xor(f'{prefix}8', f'({prefix}8) // {1 << 29}')} AS {prefix}9")
    s.append(f"{mulshift_sql(f'{prefix}9', XXP3, 0)} AS {prefix}10")
    s.append(f"{_xor(f'{prefix}10', f'({prefix}10) // {1 << 32}')} AS {prefix}11")
    s.append(f"CAST(CASE WHEN {prefix}11 >= {1 << 63} THEN {prefix}11 - {M64} "
             f"ELSE {prefix}11 END AS BIGINT) AS {prefix}_out")
    return ", ".join(s), f"{prefix}_out"
