"""Focused pins for the r7 optimization rewrites: each changed operator
internal is checked against an independent pure-Python model so the
equivalence arguments in OPTIMIZATION_r07.md stay enforced, not asserted.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _py_chunks(text: str, window: int) -> list[str]:
    """Reference chunker: fixed window-word chunks of split(text, ' ')."""
    words = text.split(" ")
    return [
        " ".join(words[i : i + window]) for i in range(0, len(words), window)
    ]


@pytest.mark.parametrize("window", [1, 3, 10])
def test_paragraph_chunker_matches_python_reference(spark, window):
    """The sequence/slice chunk loop (r7 rewrite of the arrays_zip shape)
    reproduces python's slicing exactly — including empty strings from
    consecutive spaces, exact-multiple lengths, and partial tails."""
    from gtfsrt2lc_spark.operators.dedup import paragraph_dedup

    texts = [
        "",                       # split -> [''] -> one empty chunk
        "one",
        "a b c",
        "a  b",                   # consecutive spaces -> empty token kept
        " ".join(f"w{i}" for i in range(window * 3)),        # exact multiple
        " ".join(f"w{i}" for i in range(window * 3 + 1)),    # partial tail
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    out = paragraph_dedup(df, "doc_id", "text", window=window)
    got = {r["doc"]: r["n_paras"] for r in out.collect()}
    expected = {i: len(_py_chunks(t, window)) for i, t in enumerate(texts)}
    assert got == expected
    # total kept across the corpus == number of DISTINCT chunks (first
    # occurrence each), per the python reference
    distinct = len({c for t in texts for c in _py_chunks(t, window)})
    total_kept = sum(r["n_kept"] for r in out.collect())
    assert total_kept == distinct


def test_simhash32_matches_python_reference(spark):
    """The single-fold balance-array simhash (r7 tree-shrink) equals an
    independent bit-by-bit python model on the same token hashes."""
    from gtfsrt2lc_spark.functions.hashing import poly_hash, simhash32, token_hashes

    texts = ["alpha beta gamma", "alpha alpha", "x", "many words " * 20]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r["s"]
        for r in df.select(
            "doc_id", simhash32(token_hashes(F.col("text"))).alias("s")
        ).collect()
    }

    def py_poly(s: str) -> int:
        h = 0
        for ch in s:
            h = (h * 31 + ord(ch)) % 2_147_483_647
        return h

    def py_simhash(text: str) -> int:
        hashes = [py_poly(t) for t in text.split() if t]
        out = 0
        for b in range(32):
            bal = sum(1 if (h >> b) & 1 else -1 for h in hashes)
            if bal > 0:
                out |= 1 << b
        return out

    assert got == {i: py_simhash(t) for i, t in enumerate(texts)}


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
