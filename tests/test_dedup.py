"""Dedup operator family: exact, MinHash-LSH, SimHash, n-gram Jaccard."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gtfsrt2lc_spark.operators.dedup import (
    dedup_exact,
    exact_dup_groups,
    latest_by_key,
    neardup_pairs_minhash,
    neardup_pairs_simhash,
    ngram_jaccard,
)

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
    (3, "the quick brown fox leaps over the lazy dog"),  # near dup of 1
    (4, "entirely different content about spark engines and shuffles"),
    (5, "shuffles and engines spark about content different entirely"),  # permutation of 4
    (6, "short text"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_dedup(docs):
    kept = dedup_exact(docs, "text", "doc_id")
    assert kept.count() == 5
    assert {r["doc_id"] for r in kept.collect()} == {1, 3, 4, 5, 6}
    groups = exact_dup_groups(docs, "text", "doc_id").collect()
    assert len(groups) == 1 and groups[0]["keeper_id"] == 1 and groups[0]["n_dups"] == 2


def test_exact_dedup_never_shuffles_payload(spark):
    """dedup_exact shuffles only (digest, id); the payload column must not
    appear in any Exchange (the old window form carried every byte)."""
    df = spark.createDataFrame(
        [(1, b"a" * 10), (2, b"a" * 10), (3, b"b" * 10), (4, None)],
        "doc_id long, payload binary",
    )
    kept = dedup_exact(df, "payload", "doc_id")
    assert {r["doc_id"] for r in kept.collect()} == {1, 3, 4}
    plan = kept._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "payload" not in line, line


def test_exact_dedup_scalar_content_fallback(spark):
    """Non-string/binary content columns still dedup (grouped on the value,
    no digest), including a NULL-content group."""
    df = spark.createDataFrame(
        [(1, 7), (2, 7), (3, 9), (4, None), (5, None)], "doc_id long, checksum int"
    )
    kept = dedup_exact(df, "checksum", "doc_id")
    assert {r["doc_id"] for r in kept.collect()} == {1, 3, 4}


def test_latest_by_key(spark):
    df = spark.createDataFrame(
        [("u", 1, "old"), ("u", 3, "new"), ("u", 2, "mid"), ("v", 1, "only")],
        "k string, ts long, v string",
    )
    got = {r["k"]: r["v"] for r in latest_by_key(df, "k", "ts").collect()}
    assert got == {"u": "new", "v": "only"}


def test_latest_by_key_unique_order_variants_agree(spark):
    """The three physical strategies (window, broadcast dup-stats join,
    shuffled dup-stats join via broadcast_dups=False) must keep the same
    rows, including the fast path's NULL-order contract edge (a NULL order
    loses to any sibling; an all-NULL key loses every row)."""
    df = spark.createDataFrame(
        [("u", 1, "old"), ("u", 3, "new"), ("v", 2, "only"),
         ("w", None, "null-single"), ("x", None, "null-dup-a"),
         ("x", None, "null-dup-b"), ("y", 5, "win"), ("y", None, "lose")],
        "k string, ts int, v string",
    )
    expect = {("u", "new"), ("v", "only"), ("y", "win")}
    for bd in (True, False):
        got = {
            (r["k"], r["v"])
            for r in latest_by_key(
                df, "k", "ts", unique_order=True, broadcast_dups=bd
            ).collect()
        }
        assert got == expect, f"broadcast_dups={bd}: {got}"
    # reserved internal column must be rejected, not silently overwritten
    bad = df.withColumnRenamed("v", "_lbk_max")
    try:
        latest_by_key(bad, "k", "ts", unique_order=True)
        raise AssertionError("reserved-column guard missing")
    except ValueError:
        pass


def test_minhash_neardup(docs):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in neardup_pairs_minhash(docs, "doc_id", "text", jaccard_threshold=0.7).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs and 0.7 <= pairs[(1, 3)] < 1.0
    assert (4, 5) in pairs and pairs[(4, 5)] == 1.0  # token-set equal
    assert not any(6 in p for p in pairs)


def test_simhash_neardup(docs):
    pairs = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in
             neardup_pairs_simhash(docs, "doc_id", "text", max_hamming=3).collect()}
    assert pairs[(1, 2)] == 0
    assert pairs[(4, 5)] == 0  # simhash is bag-of-words, order-insensitive
    assert (1, 3) in pairs  # one-token swap -> small hamming distance


def test_ngram_jaccard(spark, docs):
    pairs = spark.createDataFrame([(1, 2), (1, 3), (1, 4)], "doc_a long, doc_b long")
    got = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in
           ngram_jaccard(docs, "doc_id", "text", pairs, n=2).collect()}
    assert got[(1, 2)] == 1.0
    assert 0.4 < got[(1, 3)] < 1.0  # bigrams penalize the swap more than unigrams
    assert got[(1, 4)] == 0.0


def test_paragraph_dedup(spark):
    """First occurrence by (doc, pos) survives; repeats anywhere drop."""
    from gtfsrt2lc_spark.operators.dedup import paragraph_dedup

    a = "w1 w2 w3"          # para A
    b = "x1 x2 x3"          # para B
    df = spark.createDataFrame(
        [(1, a), (2, b + " " * 0), (3, a), (4, a + " tail words here")],
        "doc_id long, text string",
    )
    out = paragraph_dedup(df, "doc_id", "text", window=3)
    got = {r["doc"]: (r["n_paras"], r["n_kept"]) for r in out.collect()}
    # doc 1 owns para A; doc 3 is a pure repeat; doc 4 repeats A then adds a
    # new chunk of its own
    assert got == {1: (1, 1), 2: (1, 1), 3: (1, 0), 4: (2, 1)}
    # plan-shape guard: paragraph TEXT never rides an exchange (only its
    # 256-bit digest does) — at corpus scale the paragraphs are the corpus
    plan = out._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "para#" not in line, line


def test_neardup_clusters_keep_one(spark, docs):
    """Pairs -> connected components -> one keeper per fuzzy cluster."""
    from gtfsrt2lc_spark.operators.components import connected_components

    pairs = neardup_pairs_minhash(docs, "doc_id", "text", jaccard_threshold=0.7)
    cc = connected_components(
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    )
    comp = {r["vertex"]: r["component"] for r in cc.collect()}
    # docs 1/2/3 form one fuzzy cluster (exact dup + one-word swap), 4/5
    # another (permutation); 6 is isolated (no pair -> no vertex)
    assert comp[1] == comp[2] == comp[3] == 1
    assert comp[4] == comp[5] == 4
    assert 6 not in comp


def test_latest_by_key_unique_order_never_shuffles_payload(spark):
    """Plan-shape guard for the latest-wins scale path: with unique_order
    the wide payload column must not appear in any Exchange input — the
    winner agg shuffles only (key, order)."""
    from gtfsrt2lc_spark.operators.dedup import latest_by_key

    df = spark.createDataFrame(
        [("u1", 1, b"x" * 10), ("u1", 2, b"y" * 10), ("u2", 1, b"z" * 10)],
        "url string, warc_ts int, html binary",
    )
    fast = latest_by_key(df, "url", "warc_ts", unique_order=True)
    assert {(r.url, r.warc_ts) for r in fast.collect()} == {("u1", 2), ("u2", 1)}
    plan = fast._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "html" not in line, line


def _band_exchange_columns(df, band_key: str) -> list[list[str]]:
    """Column names flowing through each Exchange partitioned on band_key,
    parsed from the formatted explain (each Exchange node lists
    ``Input [n]: [col#id, ...]`` and ``Arguments: hashpartitioning(...)``)."""
    import contextlib
    import io
    import re

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    out = []
    for block in buf.getvalue().split("\n\n"):
        lines = block.strip().splitlines()
        if not lines or "Exchange" not in lines[0]:
            continue
        args = next((ln for ln in lines if ln.startswith("Arguments:")), "")
        inp = next((ln for ln in lines if ln.startswith("Input")), "")
        if band_key in args:
            out.append(re.findall(r"[\[, ]([A-Za-z_][A-Za-z0-9_]*)#", inp))
    return out


def test_minhash_band_join_shuffles_no_payload(docs):
    """Plan-shape guard for the LSH scale path: the band self-join replicates
    every doc x bands, so no token-set column may ride a band-keyed Exchange —
    token sets join back to the deduped candidate pairs only."""
    pairs = neardup_pairs_minhash(docs, "doc_id", "text", jaccard_threshold=0.7)
    exchanges = _band_exchange_columns(pairs, "band_val")
    assert exchanges, "expected a band-keyed Exchange in the plan"
    for cols in exchanges:
        assert not any(c.startswith("toks") for c in cols), cols


def test_dedup_exact_rejects_reserved_columns(spark):
    import pytest

    from gtfsrt2lc_spark.operators.dedup import dedup_exact

    df = spark.createDataFrame(
        [("a", 1, "x")], "content string, id long, _digest string"
    )
    with pytest.raises(ValueError, match="_digest"):
        dedup_exact(df, "content", "id")


def test_duplicate_spans_counts_positions(spark):
    """Lee-et-al substring-dedup stats: a window shared across docs counts
    EVERY position it occupies (including repeats within one doc); docs
    shorter than k are excluded; unshared docs report zero."""
    from gtfsrt2lc_spark.operators.dedup import duplicate_spans

    shared = "a b c d"  # the 4-token window both docs carry
    rows = [
        (1, f"{shared} x y z"),          # 7 toks -> 4 windows, 1 hot
        (2, f"p q {shared} r {shared}"),  # 11 toks -> 8 windows, 2 hot
        (3, "u v w x y z q1 q2"),        # 8 toks -> 5 windows, none shared
        (4, "too short"),                 # < k -> excluded
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {
        r["doc"]: (r["n_windows"], r["n_dup_windows"], r["dup_frac"])
        for r in duplicate_spans(df, "doc_id", "text", k=4, min_docs=2).collect()
    }
    assert set(got) == {1, 2, 3}
    assert got[1] == (4, 1, 0.25)
    assert got[2] == (8, 2, 0.25)
    assert got[3] == (5, 0, 0.0)


def test_duplicate_spans_min_docs_threshold(spark):
    """min_docs=3: a window shared by only two docs is not hot."""
    from gtfsrt2lc_spark.operators.dedup import duplicate_spans

    rows = [(1, "a b c d e"), (2, "a b c d f"), (3, "z z z z z")]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = duplicate_spans(df, "doc_id", "text", k=4, min_docs=3).collect()
    assert all(r["n_dup_windows"] == 0 for r in out)
    # but doc 3's self-repeated window is hot for min_docs=1
    out1 = {
        r["doc"]: r["n_dup_windows"]
        for r in duplicate_spans(df, "doc_id", "text", k=4, min_docs=1).collect()
    }
    assert out1[3] == 2  # both positions of the z-window count


def test_cut_duplicate_spans(spark):
    """The cut keeps the globally-first occurrence (min (doc, pos)) of a
    hot window and removes every other occurrence, merging overlaps."""
    from gtfsrt2lc_spark.operators.dedup import cut_duplicate_spans

    rows = [
        (1, "a b c d x y z"),           # owns the window at (1, 0)
        (2, "p q a b c d r a b c d"),   # loses both occurrences
        (3, "u v w only here"),         # untouched
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {
        r["doc"]: (r["text_clean"], r["n_tokens"], r["n_cut"])
        for r in cut_duplicate_spans(df, "doc_id", "text", k=4).collect()
    }
    assert got[1] == ("a b c d x y z", 7, 0)
    assert got[2] == ("p q r", 11, 8)
    assert got[3] == ("u v w only here", 5, 0)


def test_cut_duplicate_spans_text_never_shuffles(spark):
    """Only 8-byte window keys and int positions ride exchanges — at corpus
    scale the token arrays ARE the corpus."""
    from gtfsrt2lc_spark.operators.dedup import cut_duplicate_spans

    df = spark.createDataFrame(
        [(1, "a b c d e f g h i j"), (2, "a b c d e f g h z z")],
        "doc_id int, text string",
    )
    out = cut_duplicate_spans(df, "doc_id", "text", k=8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "toks" not in line and "text" not in line, line


def test_cut_duplicate_spans_broadcast_fallback_equivalence(spark):
    """broadcast_cuts=False (the corpus-scale-cut-set escape hatch) must
    produce identical output to the broadcast default, and only the default
    may keep token arrays out of exchanges."""
    from gtfsrt2lc_spark.operators.dedup import cut_duplicate_spans

    rows = [
        (1, "a b c d x y z"),
        (2, "p q a b c d r a b c d"),
        (3, "u v w only here"),
        (4, "a b c d x y z tail"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    bcast = cut_duplicate_spans(df, "doc_id", "text", k=4)
    shuf = cut_duplicate_spans(df, "doc_id", "text", k=4, broadcast_cuts=False)
    key = lambda r: r["doc"]  # noqa: E731
    assert sorted(bcast.collect(), key=key) == sorted(shuf.collect(), key=key)
    # the default holds its no-payload-exchange contract by PLAN, not by
    # AQE's threshold mood: the cuts join must be a broadcast join
    plan = bcast._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_word_ngram_plans_never_reinline_the_tokenizer(spark):
    """Regression: Catalyst substitutes aliases into lambda bodies
    (pushdown, CollapseProject over Generate), and the old element_at
    n-gram shape let that re-run split+filter PER WINDOW inside the
    transform lambda - O(tokens^2 * k) per row, >380 s to COUNT a
    50k-page corpus. The arrays_zip shape evaluates the tokenizer only
    OUTSIDE lambda bodies (as slice children - a constant count per plan
    branch, per-ROW cost). Split subtrees still appear many times across
    branches, which is fine; what must never reappear is the tokenizer
    (or any element_at over it) INSIDE a per-element lambda."""
    from gtfsrt2lc_spark.operators.dedup import cut_duplicate_spans, duplicate_spans

    df = spark.createDataFrame(
        [(i, "w%d a b c d e f g h i j k l" % i) for i in range(4)],
        "doc_id int, text string",
    )
    for out in (
        duplicate_spans(df, "doc_id", "text", k=8),
        cut_duplicate_spans(df, "doc_id", "text", k=8),
    ):
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        # the O(T^2 * k) signatures: a window hash reading the outer array
        # via element_at, or the tokenizer substituted into that lookup
        assert "xxhash64(element_at(" not in plan, plan[:2000]
        assert "element_at(filter(split(" not in plan, plan[:2000]
        # positive marker of the fixed shape: if a Spark version bump changes
        # expression pretty-printing, the negative matches above could turn
        # into silent no-ops — the zip-of-shifted-slices builder must still
        # be visible, or this guard needs re-porting to the new rendering.
        assert "arrays_zip" in plan, plan[:2000]
