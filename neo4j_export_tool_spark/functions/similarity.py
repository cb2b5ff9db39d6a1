"""Similarity primitives: shingles, MinHash shingle hashing and
parameters, SimHash, cosine — column builders.

All JVM-side (higher-order functions / codegen), no Python in the hot path.
Float policy: every dot/norm is computed in DOUBLE with sequential
left-to-right accumulation (``F.aggregate``), which is bit-identical to
DuckDB's ``list_dot_product`` on ``DOUBLE[]`` — verified empirically — so
similarity queries are exact-oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# 2^31-1: keeps (a*x+b) < 2^62, no int64 overflow under ANSI arithmetic
MERSENNE_PRIME = (1 << 31) - 1


def tokens_col(text: Column) -> Column:
    return F.split(text, " ")


def word_shingles_col(toks: Column, n: int) -> Column:
    """Distinct word n-gram shingles as array<string> (space-joined)."""
    if n == 1:
        return F.array_distinct(toks)
    # guard: sequence(1, 0) DESCENDS in Spark → explicit empty for short docs
    idx = F.sequence(F.lit(1), F.size(toks) - (n - 1))
    grams = F.when(F.size(toks) < n, F.array().cast("array<string>")).otherwise(
        F.transform(idx, lambda i: F.array_join(F.slice(toks, i, n), " "))
    )
    return F.array_distinct(grams)


def char_shingles_col(s: Column, n: int = 3) -> Column:
    """Distinct character n-grams of a (short) string — the right shingle
    unit for entity surface forms.  Strings shorter than n shingle to
    themselves."""
    idx = F.sequence(F.lit(1), F.length(s) - (n - 1))
    grams = F.when(F.length(s) < n, F.array(s)).otherwise(
        F.transform(idx, lambda i: F.substring(s, i, n))
    )
    return F.array_distinct(grams)


def shingle_hash_col(shingle: Column) -> Column:
    """Stable 60-bit shingle hash: first 15 hex chars of md5 → bigint.

    Chosen over xxhash64 because it is reproducible in any engine (md5 is
    universal); 60 bits keeps ``conv``'s signed-long parse exact.
    """
    return F.conv(F.substring(F.md5(shingle), 1, 15), 16, 10).cast("long")


def hashed_shingles_col(shingles: Column) -> Column:
    """Pre-hash a shingle set once (md5 → 31-bit ints): the JVM-side input
    of the MinHash signature kernel in
    `operators.dedup.minhash_lsh_pairs_from_sets`."""
    return F.transform(shingles, lambda s: shingle_hash_col(s) % F.lit(MERSENNE_PRIME))


def _lcg(seed: int):
    """Deterministic parameter stream (no RNG imports on executors)."""
    state = seed & 0xFFFFFFFFFFFFFFFF

    def gen():
        nonlocal state
        while True:
            state = (6364136223846793005 * state + 1442695040888963407) % (1 << 64)
            yield state

    return gen()


def simhash_col(toks: Column, bits: int = 32) -> Column:
    """SimHash fingerprint over tokens (with multiplicity), ``bits`` wide.

    Per token: 60-bit md5-derived hash; bit j votes +1/-1; fingerprint bit j
    set iff the vote sum is positive.  Single-pass array-valued aggregate —
    one md5 + one walk per token (the naive per-bit formulation recomputes
    both ``bits`` times; Catalyst doesn't CSE higher-order subtrees).
    Exact in any engine.
    """
    h = F.transform(toks, lambda t: shingle_hash_col(t))
    masks = F.array(*[F.lit(1 << j).cast("long") for j in range(bits)])
    votes = F.aggregate(
        h,
        F.array_repeat(F.lit(0).cast("long"), bits),
        lambda acc, x: F.zip_with(
            acc,
            masks,
            lambda a, m: a
            + F.when(x.bitwiseAND(m) != 0, F.lit(1)).otherwise(F.lit(-1)),
        ),
    )
    weighted = F.zip_with(
        votes,
        masks,
        lambda v, m: F.when(v > 0, m).otherwise(F.lit(0).cast("long")),
    )
    return F.aggregate(weighted, F.lit(0).cast("long"), lambda a, x: a + x)


def as_double_array(v: Column) -> Column:
    return F.transform(v, lambda x: x.cast("double"))


def dot_col(a: Column, b: Column, dim: int | None = None) -> Column:
    """Sequential double dot product (bit-matches DuckDB list_dot_product
    on DOUBLE[]).

    With ``dim`` given, unrolls to a left-associated 64-term expression —
    bit-identical to the sequential fold (0+x0 == x0 exactly, then left
    association matches the loop) but WHOLE-STAGE CODEGEN'd, where the
    higher-order ``aggregate`` falls back to interpreted eval (~10× slower
    in pair joins)."""
    ad, bd = as_double_array(a), as_double_array(b)
    if dim is not None:
        terms = [ad.getItem(i) * bd.getItem(i) for i in range(dim)]
        out = terms[0]
        for t in terms[1:]:
            out = out + t
        return out
    return F.aggregate(
        F.zip_with(ad, bd, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm_sq_col(a: Column, dim: int | None = None) -> Column:
    ad = as_double_array(a)
    if dim is not None:
        terms = [ad.getItem(i) * ad.getItem(i) for i in range(dim)]
        out = terms[0]
        for t in terms[1:]:
            out = out + t
        return out
    return F.aggregate(ad, F.lit(0.0), lambda acc, x: acc + x * x)


def cosine_col(a: Column, b: Column) -> Column:
    return dot_col(a, b) / F.sqrt(norm_sq_col(a) * norm_sq_col(b))
