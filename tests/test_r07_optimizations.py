"""Focused pins for the r7 optimization rewrites: each changed operator
internal is checked against an independent pure-Python model so the
equivalence arguments in OPTIMIZATION_r07.md stay enforced, not asserted.
"""

from __future__ import annotations


def test_mentions_single_regex_multi_sentence_line(spark, corpus_dfs):
    """The one-regexp_replace mention extraction (r7) still finds every
    fact when a line carries several sentences, noise sentences, and
    non-matching prefixes — and emits nothing for phrase-free text."""
    from gtfsrt2lc_spark.fixtures.pages import PREDICATES
    from gtfsrt2lc_spark.plans.kg_pipeline import KGPipeline

    _, records, surfaces, sameas = corpus_dfs
    pipe = KGPipeline(records, surfaces, sameas,
                      {ph: loc for ph, (loc, _, _) in PREDICATES.items()})
    ext = spark.createDataFrame(
        [
            ("u1", "Ada Lovelace works for Acme Corp. Alan Turing founded Initech."),
            ("u2", "the quick brown fox jumps over a dog."),
            ("u3", "badly worded but works for nothing here"),  # lowercase subj
            ("u4", "Grace Hopper was born in London."),
        ],
        "url string, extracted_text string",
    )
    got = {
        (r["url"], r["subj_surface"], r["pred_phrase"], r["obj_surface"])
        for r in pipe.mentions(ext).collect()
    }
    assert got == {
        ("u1", "Ada Lovelace", "works for", "Acme Corp"),
        ("u1", "Alan Turing", "founded", "Initech"),
        ("u4", "Grace Hopper", "was born in", "London"),
    }


def test_connected_components_raw_collect_parity(spark):
    """The small path collects RAW edges (r7: no symmetrize/distinct
    exchange); duplicates, reversed duplicates and self-loops must not
    change the result vs the distributed star path."""
    from gtfsrt2lc_spark.operators.components import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 3), (5, 4), (2, 3), (7, 7)],
        "src long, dst long",
    )
    small = connected_components(edges)
    dist = connected_components(edges, small_graph_edges=0)
    assert sorted(map(tuple, small.collect())) == sorted(map(tuple, dist.collect()))


def _pipe_from(corpus_dfs):
    from gtfsrt2lc_spark.fixtures.pages import PREDICATES
    from gtfsrt2lc_spark.plans.kg_pipeline import KGPipeline

    _, records, surfaces, sameas = corpus_dfs
    return KGPipeline(records, surfaces, sameas,
                      {ph: loc for ph, (loc, _, _) in PREDICATES.items()})


def test_fused_mentions_parity_golden_corpus(spark, corpus, corpus_dfs):
    """_mentions_fused (extract + line split + phrase prefilter inside the
    Arrow worker) emits exactly the rows of the unfused
    mentions(extracted(...)) chain over the full golden corpus — which
    includes malformed HTML, re-crawled urls and near-duplicate pages."""
    pages, _, _, _ = corpus_dfs
    pipe = _pipe_from(corpus_dfs)
    cols = ("url", "subj_surface", "pred_phrase", "obj_surface")
    unfused = sorted(
        tuple(r[c] for c in cols)
        for r in pipe.mentions(pipe.extracted(pages)).collect()
    )
    fused = sorted(
        tuple(r[c] for c in cols)
        for r in pipe._mentions_fused(pipe._latest(pages)).collect()
    )
    assert fused == unfused and len(fused) > 0


def test_fused_mentions_parity_hostile_pages(spark, corpus_dfs):
    """Fused/unfused parity on adversarial html: NULL html, empty html,
    phrases inside stripped boilerplate, tab/entity soup, a phrase
    spanning a line break (must NOT match in either path), and unicode."""
    from datetime import datetime

    pipe = _pipe_from(corpus_dfs)
    rows = [
        ("u0", datetime(2024, 1, 1), None, None, "en"),
        ("u1", datetime(2024, 1, 1), b"", None, "en"),
        ("u2", datetime(2024, 1, 1),
         b"<script>Ada Lovelace works for Acme Corp.</script>", None, "en"),
        ("u3", datetime(2024, 1, 1),
         b"<p>Ada\tLovelace works&nbsp;for Acme Corp.</p>", None, "en"),
        ("u4", datetime(2024, 1, 1),
         b"<p>Ada Lovelace works</p><p>for Acme Corp.</p>", None, "en"),
        ("u5", datetime(2024, 1, 1),
         "<p>Zürich works for Acme Corp.</p>".encode(), None, "de"),
        ("u6", datetime(2024, 1, 1),
         b"<p>Grace Hopper was born in London. J. R. R. Tolkien founded "
         b"Initech.</p>", None, "en"),
    ]
    pages = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    cols = ("url", "subj_surface", "pred_phrase", "obj_surface")
    unfused = sorted(
        tuple(r[c] for c in cols)
        for r in pipe.mentions(pipe.extracted(pages)).collect()
    )
    fused = sorted(
        tuple(r[c] for c in cols)
        for r in pipe._mentions_fused(pipe._latest(pages)).collect()
    )
    assert fused == unfused


def test_linked_prefolds_to_min_url(spark, corpus_dfs):
    """linked() returns ONE row per distinct (surfaces, phrase) group
    carrying the group's minimum url — the pre-fold triples() re-folds
    exactly (min of mins)."""
    pipe = _pipe_from(corpus_dfs)
    mentions = spark.createDataFrame(
        [
            ("https://b/2", "Ada Lovelace", "works for", "Acme Corp"),
            ("https://a/1", "Ada Lovelace", "works for", "Acme Corp"),
            ("https://c/3", "Ada Lovelace", "works for", "Acme Corp"),
            ("https://z/9", "Grace Hopper", "was born in", "London"),
            ("https://q/0", "NotInKb Xyz", "works for", "Acme Corp"),
        ],
        "url string, subj_surface string, pred_phrase string, obj_surface string",
    )
    out = pipe.linked(mentions)
    got = {
        (r["subj_surface"], r["pred_phrase"], r["obj_surface"]): r["url"]
        for r in out.collect()
    }
    # folded to one row per fact group, url = min; unlinkable group dropped
    assert got == {
        ("Ada Lovelace", "works for", "Acme Corp"): "https://a/1",
        ("Grace Hopper", "was born in", "London"): "https://z/9",
    }
