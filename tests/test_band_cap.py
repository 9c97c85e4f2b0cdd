"""Hot-band / hot-bucket quadratic-blowup guards (round-6 verdict item 1).

A banded LSH candidate join is quadratic in the bucket size: a skewed
100x-scale dictionary (millions of short or near-identical surfaces
collapsing to one MinHash band signature) makes one hot band
|q_band|x|d_band| — AQE's skew-join can split that across tasks but cannot
shrink it. The fix counts band frequencies on the STATIC, precomputed
dictionary side (linking.FuzzyDictionary) and drops buckets above a
configurable ceiling.

The pathological fixture: surfaces "aaa", "aaaa", ... share the single
character-3-gram "aaa", hence identical shingle sets, identical MinHash
signatures, and ONE shared bucket per band — a degenerate band of size
n_hot, by construction.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

N_HOT = 400  # pathological surfaces all sharing every band


@pytest.fixture(scope="module")
def hot_dictionary(spark, corpus_dfs):
    """Golden-corpus surfaces + N_HOT degenerate surfaces that all collapse
    to the same LSH bands (identical {hash('aaa')} shingle set)."""
    _, _, surfaces, _ = corpus_dfs
    hot = spark.createDataFrame(
        [(("a" * (k + 3)), f"hot_{k:05d}", 0.1) for k in range(N_HOT)],
        "surface string, record_id string, prior double",
    )
    return surfaces.unionByName(hot)


def test_hot_band_cap_bounds_dictionary_buckets(hot_dictionary):
    from gtfsrt2lc_spark.operators.linking import FuzzyDictionary

    uncapped = FuzzyDictionary(hot_dictionary, max_band_size=None)
    worst = (
        uncapped.bands_df.groupBy("band").count().agg(F.max("count")).collect()[0][0]
    )
    assert worst >= N_HOT, "fixture must actually produce a hot band"

    capped = FuzzyDictionary(hot_dictionary, max_band_size=50)
    worst_capped = (
        capped.bands_df.groupBy("band").count().agg(F.max("count")).collect()[0][0]
    )
    assert worst_capped <= 50


def test_hot_band_cap_bounds_candidate_set(spark, hot_dictionary):
    """A query colliding ONLY with the hot band proposes zero candidates
    under the cap (vs ~N_HOT uncapped) — the quadratic term is gone."""
    from gtfsrt2lc_spark.operators.linking import FuzzyDictionary, _prep_bands

    q = spark.createDataFrame([("aaaaaaa",)], "surface string")

    def n_candidates(fd):
        qb = _prep_bands(q, "q")
        return (
            qb.join(fd.bands_df, "band")
            .dropDuplicates(["surface_q", "surface_d"])
            .count()
        )

    assert n_candidates(FuzzyDictionary(hot_dictionary, max_band_size=None)) >= N_HOT
    assert n_candidates(FuzzyDictionary(hot_dictionary, max_band_size=50)) == 0


def test_hot_band_cap_preserves_golden_linking(spark, hot_dictionary, corpus_dfs, corpus):
    """Healthy surfaces keep their own (small) band buckets: linking results
    on the golden typo queries are IDENTICAL with the cap active, even with
    the degenerate surfaces present in the same dictionary."""
    from gtfsrt2lc_spark.operators.linking import FuzzyDictionary, link_fuzzy

    queries = spark.createDataFrame(
        [("Ada Lovelacee",), ("Grace Hoper",), ("Stark Industres",)],
        "surface string",
    )
    golden = {
        (r["surface"], r["record_id"], r["score"])
        for r in link_fuzzy(
            queries, prepped=FuzzyDictionary(hot_dictionary, max_band_size=None)
        ).collect()
    }
    capped = {
        (r["surface"], r["record_id"], r["score"])
        for r in link_fuzzy(
            queries, prepped=FuzzyDictionary(hot_dictionary, max_band_size=50)
        ).collect()
    }
    assert capped == golden
    assert len(capped) == 3
