"""End-to-end golden-triple parity (the BASELINE.json correctness target).

Mirrors the reference's fixture-driven E2E tests with exact golden counts
(`test/gtfsrt2lc.test.js:394-485`): the synthetic corpus plants every fact,
so the expected (subj, pred, obj) set is known by construction; we assert
precision and recall >= 0.95 (they should be 1.0 on the clean corpus).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gtfsrt2lc_spark.fixtures.pages import PREDICATES
from gtfsrt2lc_spark.plans.kg_pipeline import KGPipeline


@pytest.fixture(scope="module")
def pipeline(corpus_dfs):
    pages, records, surfaces, sameas = corpus_dfs
    preds = {phrase: local for phrase, (local, _, _) in PREDICATES.items()}
    return KGPipeline(records, surfaces, sameas, preds)


@pytest.fixture(scope="module")
def result_triples(pipeline, corpus_dfs):
    pages = corpus_dfs[0]
    return {
        (r["subj"], r["pred"], r["obj"])
        for r in pipeline.triples(pages).collect()
    }


def test_precision_recall(result_triples, corpus):
    golden = corpus.golden_triples
    assert golden, "corpus must plant facts"
    tp = len(result_triples & golden)
    precision = tp / len(result_triples) if result_triples else 0.0
    recall = tp / len(golden)
    assert precision >= 0.95, f"precision {precision:.3f}; spurious: {sorted(result_triples - golden)[:5]}"
    assert recall >= 0.95, f"recall {recall:.3f}; missed: {sorted(golden - result_triples)[:5]}"


def test_triples_well_formed(result_triples):
    for s, p, o in result_triples:
        assert s.startswith("http://example.org/kg/entity/")
        assert p.startswith("http://example.org/kg/ontology#")
        assert o.startswith("http://example.org/kg/entity/")


def test_strategy_equivalence(pipeline, corpus_dfs, spark, result_triples):
    """Broadcast-join plan vs forced shuffle plan give identical triples —
    the analog of the reference's MemStore/grep/LevelStore equivalence
    (`test/gtfsrt2lc.test.js:394-485`). No linking join carries a hint, so
    with broadcasts off the dictionary joins, the fuzzy pass over the dirty
    corpus's unmatched surfaces, the surface mapping and the canonical map
    all take the shuffle plan."""
    pages = corpus_dfs[0]
    dirty, extra = _dirty_pages(spark, pages)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        for inp, want in ((pages, result_triples), (dirty, result_triples | extra)):
            assert _triple_set(pipeline, inp.repartition(7)) == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_latest_wins_recrawl(pipeline, corpus_dfs, corpus, spark):
    """Re-crawled urls: only the newest snapshot contributes (T3 analog)."""
    pages = corpus_dfs[0]
    n_urls = pages.select("url").distinct().count()
    n_rows = pages.count()
    assert n_rows > n_urls, "corpus must contain re-crawled urls"
    extracted = pipeline.extracted(pages)
    assert extracted.count() == n_urls


def test_fuzzy_linking_recovers_typos(spark, corpus_dfs, corpus):
    """A typo'd surface links to the right record via MinHash-LSH."""
    _, records, surfaces, sameas = corpus_dfs
    from gtfsrt2lc_spark.operators.linking import link_fuzzy

    queries = spark.createDataFrame(
        [("Ada Lovelacee",), ("Grace Hoper",), ("Stark Industres",)], "surface string"
    )
    got = {r["surface"]: r["record_id"] for r in link_fuzzy(queries, surfaces).collect()}
    rec_by_name = {name: rid for rid, name, _ in corpus.records}
    assert got.get("Ada Lovelacee") == rec_by_name["Ada Lovelace"]
    assert got.get("Grace Hoper") == rec_by_name["Grace Hopper"]
    assert got.get("Stark Industres") == rec_by_name["Stark Industries"]


def test_fuzzy_link_band_join_shuffles_no_shingles(spark, corpus_dfs):
    """Plan-shape guard: link_fuzzy's band join replicates rows x bands, so
    no shingle-set column may ride a band-keyed Exchange — sets join back to
    the deduped candidate pairs only (same discipline as the dedup family)."""
    import contextlib
    import io
    import re

    _, _, surfaces, _ = corpus_dfs
    from gtfsrt2lc_spark.operators.linking import link_fuzzy

    queries = spark.createDataFrame([("Ada Lovelacee",)], "surface string")
    # broadcasts off: a broadcast band join has no band-keyed Exchange, so
    # the guard would pass or fail depending on which tests ran before
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        out = link_fuzzy(queries, surfaces)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            out.explain("formatted")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    checked = 0
    for block in buf.getvalue().split("\n\n"):
        lines = block.strip().splitlines()
        if not lines or "Exchange" not in lines[0]:
            continue
        args = next((ln for ln in lines if ln.startswith("Arguments:")), "")
        inp = next((ln for ln in lines if ln.startswith("Input")), "")
        if "band" in args:
            checked += 1
            cols = re.findall(r"[\[, ]([A-Za-z_][A-Za-z0-9_]*)#", inp)
            assert not any(c.startswith("sh_") for c in cols), cols
    assert checked > 0, "expected a band-keyed Exchange in the plan"


def _plan_root(node):
    """Look through AQE's wrappers to the physical plan node they hold."""
    while True:
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            node = node.executedPlan()
        elif name.endswith("QueryStage"):
            node = node.plan()
        else:
            return node


def test_fuzzy_scorer_builds_query_shingles_once(spark, corpus_dfs):
    """Plan-shape guard for the scorer: no join condition evaluates the
    Jaccard expression (``array_intersect``), and a shingle set is only
    evaluated in a subtree with no join below it — over query or
    dictionary surface rows, never once per candidate row above the band
    join."""
    _, _, surfaces, _ = corpus_dfs
    from gtfsrt2lc_spark.operators.linking import link_fuzzy

    shingle_set = "array_distinct(transform(sequence("
    queries = spark.createDataFrame([("Ada Lovelacee",)], "surface string")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        for threshold in (old, "-1"):
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
            seen = {"joins": 0, "shingle_nodes": 0}

            def visit(node) -> bool:
                """Checks the subtree; True if it holds a join."""
                node = _plan_root(node)
                kids = node.children()
                below = any([visit(kids.apply(i)) for i in range(kids.size())])
                es = node.expressions()
                exprs = [es.apply(i).toString() for i in range(es.size())]
                is_join = "Join" in node.nodeName()
                if is_join:
                    seen["joins"] += 1
                    assert not any("array_intersect" in e for e in exprs), exprs
                if any(shingle_set in e for e in exprs):
                    seen["shingle_nodes"] += 1
                    assert not below, (node.nodeName(), exprs)
                return below or is_join

            out = link_fuzzy(queries, surfaces)
            visit(out._jdf.queryExecution().executedPlan())
            # band join, dictionary shingles, query shingles; the query's
            # shingle sets for its bands and for scoring (the dictionary's
            # may be a cached relation a pipeline persisted)
            assert seen["joins"] >= 3 and seen["shingle_nodes"] >= 2, seen
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_fuzzy_threshold_applies_to_the_winner(spark):
    """The Jaccard floor filters the per-surface winner: a query whose
    only candidate collides on a band but scores below the floor yields no
    row, a query with candidates on both sides of it links to the best
    one (ties to the smaller record_id), and a duplicated query surface
    yields one row."""
    from gtfsrt2lc_spark.operators.linking import (
        JACCARD_THRESHOLD,
        FuzzyDictionary,
        _prep_bands,
        link_fuzzy,
    )

    def grams(s):
        s = s.lower()
        return {s[i:i + 3] for i in range(len(s) - 2)}

    query, low = "Ada Lovelacee", "Ada Lomhlace"
    assert len(grams(query) & grams(low)) / len(grams(query) | grams(low)) < (
        JACCARD_THRESHOLD
    )
    q = spark.createDataFrame([(query,), (query,)], "surface string")
    schema = "surface string, record_id string, prior double"
    only_low = FuzzyDictionary(spark.createDataFrame([(low, "rec_0", 1.0)], schema))
    # the low candidate IS proposed: it shares a band with the query
    assert _prep_bands(q, "q").join(only_low.bands_df, "band").count() > 0
    assert link_fuzzy(q, None, prepped=only_low).collect() == []

    mixed = spark.createDataFrame(
        [(low, "rec_0", 1.0), ("Ada Lovelace", "rec_b", 1.0), ("ADA LOVELACE", "rec_a", 1.0)],
        schema,
    )
    rows = link_fuzzy(q, mixed).collect()
    assert [(r["surface"], r["record_id"]) for r in rows] == [(query, "rec_a")]
    assert JACCARD_THRESHOLD <= rows[0]["score"] < 1.0


def _tie_dictionary(spark, lower_id: str, upper_id: str):
    """Two surfaces that differ only in case: their lower-cased 3-gram sets
    are identical, so every query scores them the same."""
    return spark.createDataFrame(
        [("Ada Lovelace", lower_id, 1.0), ("ADA LOVELACE", upper_id, 1.0)],
        "surface string, record_id string, prior double",
    )


def test_fuzzy_winner_tie_goes_to_smaller_record_id(spark):
    """Two records tie on score: the smaller record_id wins, whichever
    surface it owns."""
    from gtfsrt2lc_spark.operators.linking import link_fuzzy

    q = spark.createDataFrame([("Ada Lovelacee",)], "surface string")
    for lower_id, upper_id in (("rec_a", "rec_b"), ("rec_b", "rec_a")):
        rows = link_fuzzy(q, _tie_dictionary(spark, lower_id, upper_id)).collect()
        assert [(r["surface"], r["record_id"]) for r in rows] == [
            ("Ada Lovelacee", "rec_a")
        ]
        assert 0.5 <= rows[0]["score"] < 1.0


def test_fuzzy_multi_band_collision_yields_one_row(spark, corpus_dfs):
    """A query equal to a dictionary surface collides with it on every
    band, and a duplicated query surface doubles those candidate rows; the
    result is still one row per query surface."""
    from gtfsrt2lc_spark.operators.linking import (
        BANDS,
        FuzzyDictionary,
        _prep_bands,
        link_fuzzy,
    )

    _, _, surfaces, _ = corpus_dfs
    fd = FuzzyDictionary(surfaces)
    q = spark.createDataFrame([("Grace Hopper",), ("Grace Hopper",)], "surface string")
    qb = _prep_bands(q, "q")
    collisions = qb.join(fd.bands_df, "band").where(F.col("surface_d") == "Grace Hopper")
    assert collisions.count() == 2 * BANDS
    rows = link_fuzzy(q, None, prepped=fd).collect()
    assert len(rows) == 1 and rows[0]["score"] == 1.0


def test_fuzzy_dictionary_surface_links_to_itself(spark, corpus_dfs):
    """Every dictionary surface, queried as it is, links to its own record
    with score 1.0: the query side and the dictionary side hash
    identically."""
    from gtfsrt2lc_spark.operators.linking import link_fuzzy, resolve_dictionary

    _, _, surfaces, _ = corpus_dfs
    own = {
        r["surface"]: r["record_id"]
        for r in resolve_dictionary(surfaces).collect()
    }
    q = spark.createDataFrame([(s,) for s in own], "surface string")
    got = {
        r["surface"]: (r["record_id"], r["score"])
        for r in link_fuzzy(q, surfaces).collect()
    }
    assert got == {s: (rid, 1.0) for s, rid in own.items()}


def _dirty_pages(spark, pages):
    """Clean corpus + pages whose fact sentences carry OUT-OF-DICTIONARY
    (typo'd) surfaces — one in the subject slot, one in the object slot —
    so linked()'s unmatched surface set is provably non-empty and the fuzzy
    pass has something to recover (over a clean corpus it runs on an empty
    set)."""
    from datetime import datetime

    from gtfsrt2lc_spark.fixtures.pages import _render_page

    typo_sentences = [
        ("https://dirty.example.net/t/1", "Ada Lovelacee works for Acme Corp."),
        ("https://dirty.example.net/t/2", "Alan Turing works for Stark Industres."),
    ]
    rows = [
        (
            url,
            datetime(2024, 6, 1, 0, 0, i),
            _render_page(url, "dirty.example.net", "en", [s], False).encode("utf-8"),
            None,
            "en",
        )
        for i, (url, s) in enumerate(typo_sentences)
    ]
    dirty = spark.createDataFrame(rows, pages.schema)
    expected_extra = {
        (
            "http://example.org/kg/entity/Ada_Lovelace",
            "http://example.org/kg/ontology#worksFor",
            "http://example.org/kg/entity/Acme_Corp",
        ),
        (
            "http://example.org/kg/entity/Alan_Turing",
            "http://example.org/kg/ontology#worksFor",
            "http://example.org/kg/entity/Stark_Industries",
        ),
    }
    return pages.unionByName(dirty), expected_extra


def _triple_set(pipe, pages):
    try:
        return {
            (r["subj"], r["pred"], r["obj"]) for r in pipe.triples(pages).collect()
        }
    finally:
        pipe.cleanup()


def test_fuzzy_patch_recovers_dirty_corpus(spark, corpus_dfs, result_triples):
    """Out-of-dictionary surfaces reach the fuzzy pass: it must recover
    exactly the typo'd facts, and everything else must match the
    clean-corpus golden set."""
    pages, records, surfaces, sameas = corpus_dfs
    preds = {phrase: local for phrase, (local, _, _) in PREDICATES.items()}
    dirty, extra = _dirty_pages(spark, pages)
    got = _triple_set(KGPipeline(records, surfaces, sameas, preds), dirty)
    assert got == result_triples | extra


def test_link_fuzzy_prepped_equivalence(spark, corpus_dfs, corpus):
    """A precomputed FuzzyDictionary gives byte-identical links to the
    build-inline path, and serves multiple query batches."""
    _, _, surfaces, _ = corpus_dfs
    from gtfsrt2lc_spark.operators.linking import FuzzyDictionary, link_fuzzy

    q1 = spark.createDataFrame(
        [("Ada Lovelacee",), ("Grace Hoper",)], "surface string"
    )
    q2 = spark.createDataFrame([("Stark Industres",)], "surface string")
    direct = {
        (r["surface"], r["record_id"], r["score"])
        for r in link_fuzzy(q1, surfaces).collect()
    }
    fd = FuzzyDictionary(surfaces)
    reused = {
        (r["surface"], r["record_id"], r["score"])
        for r in link_fuzzy(q1, None, prepped=fd).collect()
    }
    assert reused == direct
    batch2 = {r["surface"]: r["record_id"] for r in link_fuzzy(q2, None, prepped=fd).collect()}
    rec_by_name = {name: rid for rid, name, _ in corpus.records}
    assert batch2.get("Stark Industres") == rec_by_name["Stark Industries"]


def test_fuzzy_dictionary_reused_across_batches(spark, corpus_dfs, result_triples):
    """Two dirty batches through ONE pipeline build the KB frames once (the
    reference's index-reuse pattern): cleanup() between them frees only the
    first batch's stage checkpoint, so the second batch builds no KB frame
    — the persisted-RDD count stays put and the frames are the same
    objects — and both results stay golden."""
    pages, records, surfaces, sameas = corpus_dfs
    preds = {phrase: local for phrase, (local, _, _) in PREDICATES.items()}
    dirty, extra = _dirty_pages(spark, pages)
    pipe = KGPipeline(records, surfaces, sameas, preds)

    def kb_frames():
        fd = pipe._fuzzy
        return (pipe._dictionary, fd, fd.bands_df, fd.shingled, pipe._canonical_map)

    persisted = spark.sparkContext._jsc.getPersistentRDDs
    got1 = _triple_set(pipe, dirty)
    frames, n_persisted = kb_frames(), len(persisted())
    got2 = _triple_set(pipe, dirty)
    assert all(a is b for a, b in zip(kb_frames(), frames))
    assert len(persisted()) == n_persisted
    assert got1 == got2 == result_triples | extra
