"""64-bit wrapping arithmetic as DuckDB SQL expression text.

The dedup operators hash with splitmix64 (wrapping uint64
add/mul/xor/shift). DuckDB's BIGINT/UBIGINT arithmetic *raises* on overflow,
so the DuckDB correctness oracles re-express each wrapping op through
HUGEINT (int128) intermediates and an explicit ``% 2^64``. These helpers
emit that SQL text; callers stage each ``sm64`` application through its own
CTE column so expression size stays linear.

A 64x64-bit product can overflow int128, so ``mul64`` splits the second
operand: ``a*b mod 2^64 = ((a*(b>>32) mod 2^32) << 32 + a*(b&0xffffffff))
mod 2^64`` — every intermediate fits in int128.

The Python-side twin is ``numpy.uint64`` arithmetic (wrapping by
construction); equality of the two is pinned by tests/test_sql64.py.
"""

from __future__ import annotations

TWO64 = "18446744073709551616::HUGEINT"
MASK32 = 4294967295

# splitmix64 constants (public domain, Steele et al., JDK SplittableRandom)
_SM_GAMMA = 0x9E3779B97F4A7C15
_SM_MUL1 = 0xBF58476D1CE4E5B9
_SM_MUL2 = 0x94D049BB133111EB


def u64(v: int) -> str:
    """uint64 literal."""
    return f"{v & 0xFFFFFFFFFFFFFFFF}::UBIGINT"


def add64(a: str, b: str) -> str:
    return f"((({a})::HUGEINT + ({b})::HUGEINT) % {TWO64})::UBIGINT"


def mul64(a: str, b: str) -> str:
    """Wrapping product of two uint64 expressions."""
    hi = f"(({a})::HUGEINT * (({b}) >> 32)::HUGEINT % 4294967296::HUGEINT)"
    lo = f"({a})::HUGEINT * (({b}) & {MASK32}::UBIGINT)::HUGEINT"
    return f"(({hi} * 4294967296::HUGEINT + {lo}) % {TWO64})::UBIGINT"


def mul64_const(a: str, b: int) -> str:
    """Wrapping product by a constant (operand split precomputed)."""
    b &= 0xFFFFFFFFFFFFFFFF
    bhi, blo = b >> 32, b & MASK32
    hi = f"(({a})::HUGEINT * {bhi}::HUGEINT % 4294967296::HUGEINT)"
    lo = f"({a})::HUGEINT * {blo}::HUGEINT"
    return f"(({hi} * 4294967296::HUGEINT + {lo}) % {TWO64})::UBIGINT"


def xor64(a: str, b: str) -> str:
    return f"xor({a}, {b})"


def xorshift_right(x: str, s: int) -> str:
    return f"xor({x}, ({x}) >> {s})"


def sm64(x: str) -> str:
    """splitmix64 finalizer over a uint64 SQL expression.

    Mirror of ``dedup._splitmix64``. ``x`` should be a bare column
    reference — it is textually expanded 32x.
    """
    e = add64(x, u64(_SM_GAMMA))
    e = xorshift_right(e, 30)
    e = mul64_const(e, _SM_MUL1)
    e = xorshift_right(e, 27)
    e = mul64_const(e, _SM_MUL2)
    e = xorshift_right(e, 31)
    return e


def md5_u64(s: str) -> str:
    """First 8 bytes of md5(s) as uint64 (big-endian hex parse) — the
    SQL twin of ``dedup._md5_u64`` (hashlib.md5 hexdigest[:16])."""
    return f"('0x' || substr(md5({s}), 1, 16))::UBIGINT"


def to_signed64(x: str) -> str:
    """uint64 expression → BIGINT with two's-complement wraparound
    (numpy ``.astype(np.int64)`` semantics)."""
    return (
        f"(CASE WHEN ({x}) >= 9223372036854775808::UBIGINT"
        f" THEN (({x})::HUGEINT - {TWO64})::BIGINT"
        f" ELSE ({x})::BIGINT END)"
    )
