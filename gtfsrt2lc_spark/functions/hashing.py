"""Deterministic hashing primitives built from Spark SQL Column expressions.

Primitives:
  minhash_perms      — fixed (a, b) pairs of the MinHash permutations
                       h(x) = (a*x + b) mod (2^31-1) (the fuzzy linker's)
  tokens             — whitespace tokenization
  word_ngram_hashes  — one xxhash64 key per word n-gram (decontamination)
"""

from __future__ import annotations

import random

from pyspark.sql import Column
from pyspark.sql import functions as F

MOD = 2_147_483_647  # 2^31 - 1, prime


def tokens(col: Column) -> Column:
    """Whitespace tokenization (empty tokens dropped)."""
    return F.filter(F.split(col, r"\s+"), lambda t: F.length(t) > 0)


def minhash_perms(k: int, seed: int = 42) -> list[tuple[int, int]]:
    """Fixed (a, b) pairs for h_i(x) = (a*x + b) mod (2^31-1)."""
    rng = random.Random(seed)
    return [(rng.randrange(1, MOD), rng.randrange(0, MOD)) for _ in range(k)]


def word_ngram_hashes(toks: Column, n: int) -> Column:
    """array<bigint>: one 64-bit key per word n-gram, no gram string built.

    Key = xxhash64(w_i, ..., w_{i+n-1}) over the n token columns directly.
    At production n-gram sizes (8-13, GPT-3 appx. C style decontamination)
    this replaces an O(n * word_len) concat per gram with n element_at
    lookups and one native hash, and every downstream distinct / broadcast
    / join moves 8-byte longs instead of ~80-byte strings. Tokens contain
    no whitespace (see ``tokens``), so distinct grams map to distinct keys
    up to xxhash64's 2^-64 collision rate. xxhash64 is Spark-native, so use
    this only where the hash never reaches the output (decontamination
    counts distinct grams per doc).

    Inline-safety (why arrays_zip, not element_at): referencing the outer
    ``toks`` n times inside the lambda lets Catalyst substitute the
    tokenizer into each reference, re-tokenizing the whole document per
    window (O(tokens^2 * n) per row). Zipping n shifted slices keeps the
    lambda on its own struct variable, so ``toks`` is evaluated a fixed n
    times per row.
    """
    width = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    zipped = F.arrays_zip(*[F.slice(toks, j + 1, width) for j in range(n)])
    return F.when(
        F.size(toks) >= n,
        F.transform(zipped, lambda s: F.xxhash64(*[s[str(j)] for j in range(n)])),
    ).otherwise(F.array().cast("array<bigint>"))
