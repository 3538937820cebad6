"""Portable hashes: each Spark SQL form beside its DuckDB twin.

Every query whose values depend on a hash is checked against a DuckDB
oracle, so each hash here exists twice: its Spark form, written once as
Spark SQL text, and a ``*_sql`` builder that emits the same arithmetic
in DuckDB's dialect. Both take SQL expression text and return SQL text;
a numeric argument may be given as an int or as its literal text. The
SQL scripts spell the Spark forms in the KSQL dialect (``ID_HASH(x, m)``,
``AB_ARM(x)``, ``TOKEN_HASH(x)``, ``KMV_MIX(h)``, ``HLL_HASH(x)``;
``ksql.dialect``), and the Python operators wrap them in ``F.expr``.
The two forms agree on every input, NULL and negative ids included
(``tests/test_hashes.py``); the mixes, positions and weights take a
non-negative hash. The constants they share are written once, below.

The arithmetic is plain BIGINT fold / multiply / mod that any SQL
engine reproduces exactly, unlike xxhash64 or ``rand(seed)``. Every
intermediate stays far below 2^63: Spark 4 runs ANSI mode, where long
overflow throws instead of wrapping.
"""

from __future__ import annotations

# Mersenne prime 2^31-1, the ring of every fold and mix below: a 31-bit
# residue times a 32-bit multiplier stays < 2^63
M31 = (1 << 31) - 1
# 2^31: packs two 31-bit lanes into one 62-bit hash
B31 = 1 << 31
# Knuth's multiplicative constant and the xxhash32 prime 2, both < 2^32
KNUTH1 = 2_654_435_761
KNUTH2 = 2_246_822_519
# largest prime < 2^20: an id is folded below it first, so that
# fold · KNUTH1 < 2^52
ID_FOLD = 1_048_573


def _pmod_sql(x: str, m: int) -> str:
    """Spark's ``pmod(x, m)`` for m > 0; DuckDB's ``%`` truncates."""
    return f"((({x}) % {m} + {m}) % {m})"


def token_hash(tok: str) -> str:
    """62-bit token hash from two Mersenne-31 rolling char folds
    (multipliers 131/137, inits 7/11): ``h0 + h1·2^31``; NULL for a
    NULL token. Affine in the char codes (:func:`kmv_mix` finishes
    it). An interpreted char fold per token, so callers dedup tokens
    before hashing."""
    def fold(mult: int, init: int) -> str:
        return (f"aggregate(split({tok}, ''), CAST({init} AS BIGINT), "
                f"(acc, c) -> pmod(acc * {mult} + ascii(c), {M31}))")

    return f"({fold(131, 7)} + {fold(137, 11)} * {B31})"


def token_hash_sql(tok: str) -> str:
    def fold(mult: int, init: int) -> str:
        return (
            f"list_reduce(list_prepend(CAST({init} AS BIGINT), "
            f"list_transform(string_split({tok}, ''), "
            "c -> CAST(ascii(c) AS BIGINT))), "
            f"(a, b) -> (a * {mult} + b) % {M31})"
        )

    # list_prepend onto a NULL list yields [init], not NULL
    return (f"(CASE WHEN {tok} IS NOT NULL THEN "
            f"{fold(131, 7)} + {B31} * {fold(137, 11)} END)")


def affine_coeffs(i):
    """``(a_i, b_i) = (2i+1, i²+1)``: the i-th map ``a_i·h + b_i mod
    M31`` of the MinHash permutations and the Bloom / Count-Min
    positions. Takes an int or a numpy int64 array."""
    return 2 * i + 1, i * i + 1


def affine_positions(h: str, k: int, m: int) -> list[str]:
    """The k positions in [0, m) of a non-negative hash, folded into
    the Mersenne-31 ring first so ``a_i·h + b_i`` stays < 2^39."""
    out = []
    for i in range(k):
        a, b = affine_coeffs(i)
        out.append(f"pmod(pmod(pmod({h}, {M31}) * {a} + {b}, {M31}), {m})")
    return out


def affine_position_sql(h: str, i: str, m: int) -> str:
    """One :func:`affine_positions` entry; ``i`` is the index column."""
    return f"((({h} % {M31}) * (2*{i}+1) + ({i}*{i}+1)) % {M31} % {m})"


def id_hash(x: str, m: int) -> str:
    """Uniform-ish hash of an integer id into [0, m): every query that
    samples, splits or shuffles by id uses it."""
    return f"pmod(pmod(CAST({x} AS BIGINT), {ID_FOLD}) * {KNUTH1}, {m})"


def id_hash_sql(x: str, m: int) -> str:
    return f"({_pmod_sql(x, ID_FOLD)} * {KNUTH1} % {m})"


def ab_arm(x: str) -> str:
    """A/B arm of a user id. Truncating ``%`` in both engines, unlike
    :func:`id_hash`: a negative id gets arm 0 or -1."""
    return f"((({x}) % {ID_FOLD}) * {KNUTH1} % 2)"


def ab_arm_sql(x: str) -> str:
    return f"(({x} % {ID_FOLD}) * {KNUTH1} % 2)"


def kmv_mix(h: str) -> str:
    """Finishing mix of a 62-bit :func:`token_hash`: a multiply-mod
    bijection on each 31-bit lane. The raw fold is affine, so a
    sequential vocabulary ("tok1".."tok999") hashes to arithmetic
    progressions whose order statistics are far from uniform (measured
    2.7x KMV overestimate at k=128); mixed, the error is ~1/sqrt(k)."""
    # bit ops, NOT `/`: Spark's / is a double divide, inexact above 2^53
    return (f"(pmod((({h}) & {M31}) * {KNUTH1}, {M31})"
            f" + pmod(shiftright({h}, 31) * {KNUTH2}, {M31}) * {B31})")


def kmv_mix_sql(h: str) -> str:
    return (
        f"(((({h}) % {B31}) * {KNUTH1}) % {M31}"
        f" + (((({h}) // {B31}) * {KNUTH2}) % {M31}) * {B31})"
    )


def hll_fold(item: str) -> str:
    """An integer item folded into the Mersenne-31 ring, the input of
    :func:`hll_hash`."""
    return f"pmod(CAST({item} AS BIGINT), {M31})"


def hll_fold_sql(item: str) -> str:
    return _pmod_sql(item, M31)


def _hll_lane(u: str, mult1: int, add1: int, mult2: int, sh1: int,
              sh2: int) -> str:
    """One 31-bit lane: multiply-mod, xor-shift, multiply-mod,
    xor-shift. Two affine maps mod the same prime compose to one, and a
    purely affine hash of consecutive ids has lattice structure that
    wrecks the max-rho tail (measured up to +86% cardinality bias); the
    xor-shifts keep the error inside the m=64 Flajolet bound (~13%)."""
    s1 = f"pmod({u} * {mult1} + {add1}, {M31})"
    s2 = f"({s1} ^ shiftright({s1}, {sh1}))"
    s3 = f"pmod({s2} * {mult2}, {M31})"
    return f"({s3} ^ shiftright({s3}, {sh2}))"


def hll_hash(u: str) -> str:
    """62-bit HLL hash of a folded item: two lanes, the Knuth
    multipliers in swapped order."""
    return (f"({_hll_lane(u, KNUTH1, 7, KNUTH2, 16, 11)}"
            f" + {_hll_lane(u, KNUTH2, 11, KNUTH1, 15, 13)} * {B31})")


def _hll_lane_sql(u: str, mult1: int, add1: int, mult2: int, sh1: int,
                  sh2: int) -> str:
    s1 = f"(({u} * {mult1} + {add1}) % {M31})"
    s2 = f"xor({s1}, {s1} // {1 << sh1})"
    s3 = f"(({s2} * {mult2}) % {M31})"
    return f"xor({s3}, {s3} // {1 << sh2})"


def hll_hash_sql(u: str) -> str:
    return (
        f"(({_hll_lane_sql(u, KNUTH1, 7, KNUTH2, 16, 11)})"
        f" + ({_hll_lane_sql(u, KNUTH2, 11, KNUTH1, 15, 13)}) * {B31})"
    )


def qs_weight(h: str, dim: int, wmod: int) -> str:
    """Quality-score pseudo-weight of a token hash's feature bucket
    ``h mod dim``: ``(bucket · KNUTH1) mod wmod - 1000``, in
    [-1000, 1000] at the scorer's wmod = 2001."""
    return f"(pmod(pmod({h}, {dim}) * {KNUTH1}, {wmod}) - 1000)"


def qs_weight_sql(h: str, dim: int, wmod: int) -> str:
    return f"(({h}) % {dim} * {KNUTH1} % {wmod} - 1000)"
