"""Hashed-gram-key decontamination: equivalence with the string-gram path.

The fast path (`word_ngram_hashes`) replaces
concatenated gram strings with xxhash64 keys over the n token columns; the
contract is that (doc_id, n_hits) is IDENTICAL to the string path at any n,
because countDistinct over injective-up-to-2^-64 keys equals countDistinct
over the grams themselves.
"""

from __future__ import annotations

import os

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from gtfsrt2lc_spark.functions.hashing import tokens, word_ngram_hashes

SF_DIR = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _word_ngrams(toks, n: int):
    """String-gram reference: array<string> of space-joined word n-grams
    (empty when < n tokens)."""
    width = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    zipped = F.arrays_zip(*[F.slice(toks, j + 1, width) for j in range(n)])
    return F.when(
        F.size(toks) >= n,
        F.transform(zipped, lambda s: F.concat_ws(" ", *[s[str(j)] for j in range(n)])),
    ).otherwise(F.array().cast("array<string>"))


def test_word_ngram_hashes_shape(spark):
    df = spark.createDataFrame(
        [("a b c d e",), ("x y",), ("",), ("solo solo solo",)], ["text"]
    )
    out = df.select(
        F.size(word_ngram_hashes(tokens(F.col("text")), 3)).alias("n")
    ).collect()
    # 5 tokens -> 3 trigrams; 2 tokens -> 0; empty -> 0; 3 identical -> 1 gram
    assert [r["n"] for r in out] == [3, 0, 0, 1]


def test_word_ngram_hashes_keys_injective_on_distinct_grams(spark):
    # same gram in two docs -> same key; different grams -> different keys
    df = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "quick brown fox jumps")], ["i", "text"]
    )
    g = df.select(
        "i", F.explode(word_ngram_hashes(tokens(F.col("text")), 3)).alias("k")
    )
    keys = {(r["i"], r["k"]) for r in g.collect()}
    by_doc = {i: {k for j, k in keys if j == i} for i in (1, 2)}
    # doc1 grams: (the quick brown), (quick brown fox)
    # doc2 grams: (quick brown fox), (brown fox jumps)
    assert len(by_doc[1]) == 2 and len(by_doc[2]) == 2
    assert len(by_doc[1] & by_doc[2]) == 1  # the shared trigram


@pytest.mark.usefixtures("spark")
@given(
    docs=st.lists(
        st.lists(
            # word alphabet excludes whitespace (tokens() splits on \s+)
            st.text(alphabet="abcdefgh-.'0", min_size=1, max_size=6),
            min_size=0, max_size=30,
        ),
        min_size=1, max_size=20,
    ),
    n=st.integers(min_value=2, max_value=13),
)
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_hashed_gram_multiset_matches_strings(spark, docs, n):
    """Property: for arbitrary token lists and any n in the production
    range, the MULTISET of hashed gram keys per doc is exactly the image
    of the string-gram multiset under an injective map — i.e. per-doc gram
    count, distinct count, and cross-doc equality structure all match the
    string representation (what decontaminate / gopher rely on)."""
    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    toks = tokens(F.col("text"))
    both = df.select(
        "doc_id",
        word_ngram_hashes(toks, n).alias("hk"),
        _word_ngrams(toks, n).alias("gs"),
    ).collect()
    mapping = {}
    for r in both:
        assert len(r["hk"]) == len(r["gs"])  # one key per gram, same order
        for k, g in zip(r["hk"], r["gs"]):
            # injective + functional: each gram string always maps to the
            # same key and no two gram strings share a key
            assert mapping.setdefault(g, k) == k
    seen = {}
    for g, k in mapping.items():
        assert seen.setdefault(k, g) == g


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="testdata not staged")
@pytest.mark.parametrize("n", [8, 13])
def test_hashed_equivalence_at_production_n(spark, n):
    """The production window sizes (8, 13) give identical results too."""
    d = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))

    def plan(gram_col):
        grams = d.select("doc_id", F.explode(gram_col).alias("g"))
        ev = grams.where(F.col("doc_id") % 50 == 0).select("g").distinct()
        return (
            grams.where(F.col("doc_id") % 50 != 0)
            .join(F.broadcast(ev), "g")
            .groupBy("doc_id")
            .agg(F.countDistinct("g").alias("n_hits"))
        )

    toks = tokens(F.col("text"))
    got = _rows(plan(word_ngram_hashes(toks, n)))
    want = _rows(plan(_word_ngrams(toks, n)))
    assert got == want
