"""Deduplication operators.

``latest_by_key`` is the one the pipeline and the benchmark run: latest-wins
dedup on a composite key, the history-store differential of the reference
(`lib/Gtfsrt2LC.js:667-751`).

The rest are corpus-dedup operators that no entry point calls yet, each
tested in tests/test_dedup.py:
  * exact            — hash-groupBy on content
  * MinHash + LSH    — shingle -> minhash -> band -> bucket join -> verify
  * SimHash          — 32-bit fingerprint, blocked by byte, hamming filter
  * n-gram Jaccard   — exact token-set similarity on candidate pairs
  * paragraph / span — corpus-wide repeated paragraphs and n-gram spans

Scale posture: nothing here compares all pairs. Exact dedup is one shuffle on
the content hash. MinHash/SimHash candidate generation is an equi-join on
band/block keys, so the shuffle is keyed and AQE's skew-join splits hot
buckets (boilerplate-heavy shingles). Verification runs only on candidates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from gtfsrt2lc_spark.functions.hashing import (
    minhash_perms,
    minhash_sig,
    poly_hash,
    simhash32,
    token_hashes,
    tokens,
    word_ngram_hashes,
)


def latest_by_key(
    df: DataFrame,
    key: str,
    order_col: str,
    unique_order: bool = False,
    broadcast_dups: bool = True,
) -> DataFrame:
    """Keep the newest row per key (re-crawl dedup: url -> latest warc_ts).

    Deterministic: ties on order_col broken by the remaining sort of the
    row_number window being stable on (order_col desc) only when order values
    are unique — callers with possible ties should pass a composite order.

    ``unique_order=True`` asserts (key, order_col) pairs are unique and
    NON-NULL (both true for url + crawl timestamp) and switches to a
    duplicate-keys-only stats join: ``(max(order), count)`` per key is
    map-side combinable over just two PRUNED columns, the stats are
    filtered to keys that actually repeat, and the payload rows LEFT-join
    that set — a row survives when its key never repeats or it carries the
    key's max order. The wide payload (html bytes) NEVER shuffles: the
    stats side is proportional to the number of RE-CRAWLED keys (a few
    percent of a crawl log) and carries an explicit broadcast hint
    (``broadcast_dups=True``, the default), so the payload stays put —
    measured on a 2.2M-row / 1.9 GB corpus, leaving this to AQE's 10 MB
    threshold let a ~10 MB dup-stats side fall back to a sort-merge join
    that wrote and re-read every html byte through the exchange (the
    single largest non-scaling stage in the N->4N protocol). Callers whose
    duplicate-key set is too large to broadcast (billions of re-crawled
    keys) pass ``broadcast_dups=False`` and get one payload shuffle — no
    worse than the window form. (The previous winner-set semi-join was
    proportional to ALL keys, which blew past the broadcast threshold on
    multi-million-key inputs and silently fell back to the same payload
    shuffle.)
    If the uniqueness assumption is violated, tied rows all survive (callers
    like the triple pipeline absorb that in their terminal (s,p,o) dedup).
    NULL order contract (fast path only): max() ignores NULLs and a NULL
    order never equals the key's max, so NULL-order rows lose to any
    non-null sibling, and a key whose order values are ALL NULL loses every
    row — unlike the window form, which would keep one arbitrary row.
    Callers with nullable order columns must use the window path.
    """
    if unique_order:
        reserved = {"_lbk_max", "_lbk_h", "_lbk_h2"} & set(df.columns)
        if reserved:
            raise ValueError(
                f"latest_by_key: input columns {sorted(reserved)} collide "
                "with internal names; rename them before calling"
            )
        # Stats are keyed by a 96-bit hash PAIR (xxhash64 + 32-bit murmur3),
        # not the key string: the hashes never reach the output (they exist
        # only inside the stats aggregation and its probe join), while the
        # stats exchange moves 12 bytes instead of full url strings (at
        # crawl scale the key column IS most of the stats shuffle) and the
        # dup-stats broadcast shrinks the same way. A SINGLE 64-bit key is
        # not enough here: unlike the word_ngram_hashes/paragraph_dedup
        # precedents (where a collision only skews a count), a stats-key
        # collision merges two documents' max-order stats and can silently
        # DROP a whole surviving row, and the birthday bound makes some
        # collision likely around ~2^32 distinct keys — real crawl scale.
        # The joint 96-bit key puts P(any collision) at N=4e9 keys below
        # 2^-31 per corpus, negligible for a row-keeping decision. NULL
        # keys hash to NULL so they keep the string path's semantics: a
        # NULL-key row never matches any stats row and survives on its own
        # non-null order (equi-join, not null-safe, exactly as the
        # groupBy(key) + join-on-key form behaved).
        khash1 = F.when(F.col(key).isNotNull(), F.xxhash64(F.col(key)))
        khash2 = F.when(F.col(key).isNotNull(), F.hash(F.col(key)))
        dup_stats = (
            df.groupBy(khash1.alias("_lbk_h"), khash2.alias("_lbk_h2"))
            .agg(F.max(order_col).alias("_lbk_max"), F.count("*").alias("_lbk_n"))
            .where(F.col("_lbk_n") > 1)
            .select("_lbk_h", "_lbk_h2", "_lbk_max")
        )
        if broadcast_dups:
            dup_stats = F.broadcast(dup_stats)
        return (
            df.join(
                dup_stats,
                (khash1 == F.col("_lbk_h")) & (khash2 == F.col("_lbk_h2")),
                "left",
            )
            .where(
                (F.col("_lbk_max").isNull() & F.col(order_col).isNotNull())
                | (F.col(order_col) == F.col("_lbk_max"))
            )
            .drop("_lbk_h", "_lbk_h2", "_lbk_max")
        )
    w = Window.partitionBy(key).orderBy(F.col(order_col).desc())
    return df.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1).drop("_rn")


def dedup_exact(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """One row per distinct content value: the one with the smallest id.

    Winner-agg + semi-join on a 256-bit content digest, so only
    (digest, id) rides the shuffle — a window partitioned by the content
    column would carry every payload byte through the exchange, which at
    100 TB is the whole corpus. Dedup key is sha2-256, not raw content:
    distinct contents colliding is cryptographically negligible, and ids
    are unique so the (digest, min id) semi-join keeps exactly one row.
    NULL contents group together under a sentinel digest (sha2 never
    returns ''), matching the window form's NULL-partition behavior.
    Non-string/binary content columns fall back to grouping on the value
    itself (narrow for scalar types; the digest exists to avoid shuffling
    wide text/blob payloads, which only string/binary can be).

    Raises ValueError when the input already carries one of the operator's
    internal column names — same reserved-name contract as asof_join /
    range_join_point (silently overwriting and dropping a caller's column
    would corrupt the output schema)."""
    reserved = {"_digest", "_dx_content", "_dx_id"} & set(df.columns)
    if reserved:
        raise ValueError(
            f"dedup_exact: input columns {sorted(reserved)} collide with "
            "internal names; rename them before calling"
        )
    dtype = df.schema[content_col].dataType.simpleString()
    if dtype not in ("string", "binary"):
        winners = (
            df.select(F.col(content_col), F.col(id_col))
            .groupBy(content_col)
            .agg(F.min(id_col).alias(id_col))
            .select(
                F.col(content_col).alias("_dx_content"), F.col(id_col).alias("_dx_id")
            )
        )
        return df.join(
            winners,
            F.col(content_col).eqNullSafe(F.col("_dx_content"))
            & (F.col(id_col) == F.col("_dx_id")),
            "left_semi",
        )
    digest = F.coalesce(F.sha2(F.col(content_col).cast("binary"), 256), F.lit(""))
    winners = (
        df.select(digest.alias("_digest"), F.col(id_col).alias(id_col))
        .groupBy("_digest")
        .agg(F.min(id_col).alias(id_col))
    )
    return (
        df.withColumn("_digest", digest)
        .join(winners, ["_digest", id_col], "left_semi")
        .drop("_digest")
    )


def exact_dup_groups(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """(content_hash, n_dups, keeper_id) for groups with >1 member."""
    return (
        df.groupBy(poly_hash(F.col(content_col)).alias("content_hash"))
        .agg(F.count("*").alias("n_dups"), F.min(id_col).alias("keeper_id"))
        .where(F.col("n_dups") > 1)
    )


def _with_minhash_bands(
    df: DataFrame, id_col: str, text_col: str, n_hashes: int, bands: int, seed: int
) -> DataFrame:
    """Explode token hashes -> flat per-permutation min aggregates ->
    NARROW (doc, band_id, band_val) band rows. Deliberately payload-free:
    at 100 TB the band equi-join replicates every row x bands, so nothing
    but the 3 key columns may ride it (token sets join back to the deduped
    candidate pairs in neardup_pairs_minhash, once per side).

    The posexplode+min shape (SURVEY.md §2.9) instead of nested
    aggregate-in-transform HOFs: identical signature values, but a small
    Catalyst tree (deep HOF nesting costs minutes of Janino codegen) and a
    map-side-combinable aggregation at scale."""
    rows = n_hashes // bands
    perms = minhash_perms(n_hashes, seed=seed)
    ex = df.select(
        F.col(id_col).alias("doc"),
        F.explode(F.array_distinct(token_hashes(F.col(text_col)))).alias("h"),
    )
    sigs = ex.groupBy("doc").agg(
        *[
            F.min((F.col("h") * F.lit(a) + F.lit(b)) % F.lit(2_147_483_647)).alias(f"s{i}")
            for i, (a, b) in enumerate(perms)
        ],
    )
    bandcols = [
        F.struct(
            F.lit(bi).alias("band_id"),
            F.concat_ws(
                "_", *[F.col(f"s{bi * rows + r}").cast("string") for r in range(rows)]
            ).alias("band_val"),
        )
        for bi in range(bands)
    ]
    return sigs.select(
        "doc", F.explode(F.array(*bandcols)).alias("band")
    ).select(
        "doc", F.col("band.band_id").alias("band_id"), F.col("band.band_val").alias("band_val")
    )


def _cap_band_buckets(bands_df: DataFrame, keys: list[str], cap: int | None) -> DataFrame:
    """Drop band/bucket groups larger than ``cap`` (hot-band guard).

    A banded candidate SELF-join is quadratic in the bucket size: one
    degenerate bucket (boilerplate-heavy shingles, near-constant vectors)
    of size m proposes m^2/2 candidate pairs — AQE's skew-join splits the
    work across tasks but cannot shrink it. Same discipline as
    ``linking.FuzzyDictionary(max_band_size=...)``: a window count over the
    NARROW band frame, no collect, no broadcast assumption. Recall
    trade-off: pairs whose ONLY shared buckets are dropped hot buckets are
    never proposed — but a bucket shared by >cap documents is mostly
    boilerplate collision, and pairs also sharing any healthy bucket are
    unaffected. ``cap=None`` (the default on the pair generators) keeps
    exact output for oracle parity; web-scale callers set a cap."""
    if cap is None:
        return bands_df
    wb = Window.partitionBy(*keys)
    return (
        bands_df.withColumn("_bc", F.count(F.lit(1)).over(wb))
        .where(F.col("_bc") <= cap)
        .drop("_bc")
    )


def neardup_pairs_minhash(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 32,
    bands: int = 16,
    jaccard_threshold: float = 0.8,
    seed: int = 42,
    max_band_size: int | None = None,
) -> DataFrame:
    """(doc_a, doc_b, jaccard) for near-duplicate pairs, doc_a < doc_b.

    LSH proposes candidates (same band bucket); exact token-set Jaccard
    verifies, so the output has no false positives and misses only pairs the
    banding never buckets together (tuned: 16 bands of 2 at t=0.8 -> miss
    probability < 1e-6 for J>=0.9).

    Shuffle discipline: the band self-join replicates every doc x bands, so
    it runs on the NARROW (doc, band_id, band_val) frame only; the token-set
    payload joins back to the already-deduped candidate pairs, shuffling each
    doc's token set at most once per side instead of x bands. The set itself
    is array_distinct(token_hashes(text)) — same elements collect_set over
    the exploded hashes would yield, but computed as a narrow projection with
    no aggregation. Verified identical output by the full-arithmetic
    `minhash_neardup` oracle and a plan-shape guard (tests/test_dedup.py).

    ``max_band_size`` bounds band buckets before the self-join (the
    hot-band quadratic guard, see ``_cap_band_buckets``); None = exact.
    """
    b = _cap_band_buckets(
        _with_minhash_bands(df, id_col, text_col, n_hashes, bands, seed),
        ["band_id", "band_val"],
        max_band_size,
    )
    cand = (
        b.select(F.col("doc").alias("doc_a"), "band_id", "band_val")
        .join(b.select(F.col("doc").alias("doc_b"), "band_id", "band_val"),
              ["band_id", "band_val"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    toks = df.select(
        F.col(id_col).alias("doc"),
        F.array_distinct(token_hashes(F.col(text_col))).alias("toks"),
    )
    cand = (
        cand.join(toks.select(F.col("doc").alias("doc_a"), F.col("toks").alias("toks_a")), "doc_a")
        .join(toks.select(F.col("doc").alias("doc_b"), F.col("toks").alias("toks_b")), "doc_b")
    )
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    union = F.size("toks_a") + F.size("toks_b") - inter
    return (
        cand.withColumn("jaccard", inter.cast("double") / union.cast("double"))
        .where(F.col("jaccard") >= jaccard_threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
    )


def neardup_pairs_simhash(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3
) -> DataFrame:
    """(doc_a, doc_b, hamming) pairs with simhash hamming distance <= d.

    Blocking: split the 32-bit fingerprint into 4 bytes; by pigeonhole any
    pair within hamming 3 shares at least one exact byte -> equi-join per
    byte block, then verify.
    """
    sims = df.select(
        F.col(id_col).alias("doc"), simhash32(token_hashes(F.col(text_col))).alias("sim")
    )
    blocks = sims.select(
        "doc",
        "sim",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("block_id"),
                        (F.shiftright("sim", 8 * i) % 256).alias("block_val"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("b"),
    ).select("doc", "sim", F.col("b.block_id").alias("block_id"), F.col("b.block_val").alias("block_val"))
    left = blocks.select(F.col("doc").alias("doc_a"), F.col("sim").alias("sim_a"), "block_id", "block_val")
    right = blocks.select(F.col("doc").alias("doc_b"), F.col("sim").alias("sim_b"), "block_id", "block_val")
    cand = (
        left.join(right, ["block_id", "block_val"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    ham = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return cand.select("doc_a", "doc_b", ham.alias("hamming")).where(
        F.col("hamming") <= max_hamming
    )


def paragraph_dedup(
    df: DataFrame, id_col: str, text_col: str, window: int = 10
) -> DataFrame:
    """Corpus-wide exact paragraph dedup (the CCNet/Dolma pre-training
    cleanup): every paragraph that already occurred anywhere else in the
    corpus — keyed by exact content, first occurrence = smallest
    (doc, position) — is dropped; returns per-doc (doc, n_paras, n_kept).

    Inputs here are unpunctuated synthetic text, so a "paragraph" is a
    fixed ``window``-word chunk; on real corpora pass pre-split paragraphs.

    Scale posture: one keyed shuffle on a 64-bit paragraph KEY (the
    paragraph text itself never rides an exchange — at corpus scale the
    paragraphs ARE the corpus), with a map-side combinable
    min-of-(doc, pos) winner agg — the same winner-join shape as
    latest_by_key — then one narrow per-doc count. Boilerplate-heavy hot
    paragraphs are a single reduce-side row thanks to the partial
    aggregation. The key is native xxhash64 of the paragraph string — the
    ``word_ngram_hashes`` discipline: the hash never reaches the output
    (only per-doc counts do), so distinct paragraphs colliding is a 2^-64
    event per pair and the string-paragraph oracle still verifies results
    exactly, while the shuffle moves 8-byte longs instead of 64-char sha2
    hex and the digest costs one native hash instead of a crypto round.
    """
    # Inline-safe chunking (word_ngram_hashes discipline): the token array
    # is materialized behind its own projection boundary (CollapseProject
    # refuses to duplicate the non-cheap split into the multiple consumers
    # below), so the per-chunk slice loop references a stored attribute and
    # no optimizer rewrite can re-inline the tokenizer into the hot loop.
    # This replaces the earlier arrays_zip-of-`window`-full-length-slices
    # shape, which was inline-safe but materialized an O(window * T)
    # struct intermediate per row — ~window x transient memory per
    # document (the r6 ADVICE item); the slice loop is O(T) per row.
    if "_words" in df.columns:
        raise ValueError(
            "paragraph_dedup: input column '_words' collides with an "
            "internal name; rename it before calling"
        )
    base = df.select(
        F.col(id_col).alias("doc"), F.split(F.col(text_col), " ").alias("_words")
    )
    words = F.col("_words")
    T = F.size(words)
    # Key = xxhash64 of the chunk's WORD SLICE, no chunk string ever built:
    # tokens are space-free (split on " "), so space-joined strings are
    # equal iff the word tuples are equal — hashing the slice array keeps
    # the same distinctness semantics as hashing the joined text while
    # skipping a per-chunk string materialization.
    chunks = F.when(
        T > 0,
        F.transform(
            F.sequence(F.lit(0), F.floor((T - 1) / window).cast("int")),
            lambda i: F.xxhash64(F.slice(words, i * window + 1, window)),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    paras = base.select(
        "doc", F.posexplode(chunks).alias("pos", "pdig")
    )
    winners = paras.groupBy("pdig").agg(F.min(F.struct("doc", "pos")).alias("first"))
    # flag-and-aggregate in one pass: the winners join reuses the digest
    # partitioning from the aggregation (no extra exchange), and a single
    # doc-keyed shuffle computes both counts — vs two doc aggregations
    flagged = paras.join(winners, "pdig").select(
        "doc",
        (
            (F.col("doc") == F.col("first.doc")) & (F.col("pos") == F.col("first.pos"))
        ).cast("long").alias("kept"),
    )
    return flagged.groupBy("doc").agg(
        F.count("*").alias("n_paras"), F.sum("kept").alias("n_kept")
    )


def ngram_jaccard(
    df: DataFrame, id_col: str, text_col: str, pairs: DataFrame, n: int = 1
) -> DataFrame:
    """Exact token-n-gram Jaccard for given candidate (doc_a, doc_b) pairs."""
    # inline-safe gram construction (word_ngram_hashes discipline): zip n
    # shifted slices rather than element_at'ing the outer token expression
    # inside the lambda — Catalyst would substitute the tokenizer into the
    # per-window loop (O(tokens^2 * n) per row). Docs shorter than n
    # tokens yield no grams.
    toks = tokens(F.col(text_col))
    if n == 1:
        grams = toks
    else:
        width = F.greatest(F.size(toks) - (n - 1), F.lit(0))
        zipped = F.arrays_zip(*[F.slice(toks, j + 1, width) for j in range(n)])
        grams = F.when(
            F.size(toks) >= n,
            F.transform(
                zipped, lambda s: F.concat_ws(" ", *[s[str(j)] for j in range(n)])
            ),
        ).otherwise(F.array().cast("array<string>"))
    sets = df.select(F.col(id_col).alias("doc"), F.array_distinct(grams).alias("grams"))
    j = (
        pairs.join(sets.withColumnRenamed("doc", "doc_a").withColumnRenamed("grams", "g_a"), "doc_a")
        .join(sets.withColumnRenamed("doc", "doc_b").withColumnRenamed("grams", "g_b"), "doc_b")
    )
    inter = F.size(F.array_intersect("g_a", "g_b"))
    union = F.size("g_a") + F.size("g_b") - inter
    return j.select(
        "doc_a",
        "doc_b",
        F.round(inter.cast("double") / union.cast("double"), 6).alias("jaccard"),
    )


def duplicate_spans(
    df: DataFrame, id_col: str, text_col: str, k: int = 8, min_docs: int = 2
) -> DataFrame:
    """Cross-document exact-substring duplication stats — the training-data
    dedup stage of Lee et al. 2022 ("Deduplicating Training Data Makes
    Language Models Better", arXiv:2107.06499), re-expressed as a Spark plan
    at word-window granularity instead of a suffix array.

    For each document with at least ``k`` tokens: how many of its k-token
    windows occur verbatim in >= ``min_docs`` distinct documents (itself
    included). Repeated occurrences of a hot window inside one document all
    count — the result is the span mass a substring-dedup pass would cut.
    Returns (id, n_windows, n_dup_windows, dup_frac).

    Plan shape and 100 TB posture: window keys are 64-bit rolling
    ``word_ngram_hashes`` (no gram strings materialized; reference corpora
    use k≈50, where a string key would be ~400 bytes/window); the exploded
    key table is linear in corpus tokens and carries (long, id) only. Two
    keyed shuffles: distinct (key, id) pairs -> per-key distinct-doc count,
    then hot keys join back to the exploded frame (map-side combinable
    per-doc count). The suffix array's global character sort — the part
    that does not distribute — is replaced by hash equality at window
    granularity, the standard Spark re-formulation. The hash never reaches
    the output, so a string-gram oracle verifies results exactly
    (functions/hashing.word_ngram_hashes contract).
    """
    # Materialize the token array behind its own projection BEFORE the
    # n-gram lambda: word_ngram_hashes does k element_at lookups per
    # window, and with the tokenizer inlined each lookup re-evaluates
    # split+filter over the whole text — O(tokens^2 * k) per document
    # (interpreted HOFs, no codegen). The projection boundary survives
    # CollapseProject because duplicating a non-cheap expression k times
    # is exactly what that rule refuses to do; measured on the 50k-page
    # bench corpus (282 tokens/doc avg) this is the difference between
    # 4 minutes-and-counting and seconds.
    # The >= k-tokens filter must NOT be phrased as size(keys) > 0:
    # predicate pushdown substitutes the alias into the pushed filter, so
    # the scan-level predicate would re-evaluate the whole n-gram lambda —
    # tokenizer inlined k times — per row (measured: 380 s just to COUNT
    # the 50k-page corpus). size(_toks) >= k is the same predicate
    # (word_ngram_hashes returns [] below k tokens) and inlines as one
    # tokenizer pass.
    keyed = (
        df.select(F.col(id_col).alias("doc"), tokens(F.col(text_col)).alias("_toks"))
        .where(F.size("_toks") >= k)
        .select("doc", word_ngram_hashes(F.col("_toks"), k).alias("keys"))
    )
    win = keyed.select("doc", F.explode("keys").alias("key"))
    hot = (
        win.select("key", "doc")
        .distinct()
        .groupBy("key")
        .agg(F.count("*").alias("_nd"))
        .where(F.col("_nd") >= min_docs)
        .select("key")
    )
    dup_counts = (
        win.join(hot, "key")
        .groupBy("doc")
        .agg(F.count("*").alias("n_dup_windows"))
    )
    totals = keyed.select("doc", F.size("keys").cast("long").alias("n_windows"))
    return (
        totals.join(dup_counts, "doc", "left")
        .select(
            "doc",
            "n_windows",
            F.coalesce("n_dup_windows", F.lit(0)).alias("n_dup_windows"),
            F.round(
                F.coalesce("n_dup_windows", F.lit(0)) / F.col("n_windows"), 6
            ).alias("dup_frac"),
        )
    )


def cut_duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    min_docs: int = 2,
    broadcast_cuts: bool = True,
) -> DataFrame:
    """The cut step of exact-substring dedup (Lee et al. 2022): every
    k-token window occurring in >= ``min_docs`` distinct documents keeps
    exactly its globally-first occurrence — smallest (doc, pos) — and every
    other occurrence's k tokens are removed, overlapping removals merged.
    Returns (doc, text_clean, n_tokens, n_cut); documents without hot
    windows pass through with n_cut = 0.

    Scale posture: same hashed-window explode as ``duplicate_spans``; the
    hot-window winner is a map-side-combinable min-of-struct agg (the
    paragraph_dedup discipline); losing positions ride ONE doc-keyed
    shuffle as (doc, int) pairs and come back as a bounded per-doc array
    (positions within one document). The token mask and text rebuild are
    JVM array lambdas — no Python.

    The rebuild join (``broadcast_cuts``): bringing per-doc cut arrays back
    to the token rows is an equi-join on doc, and if Spark picks sort-merge
    for it the TOKEN ARRAYS of every document ride the exchange — the
    payload-leak signature the forensics gate flags. ``broadcast_cuts=True``
    (default) forces a broadcast of the cuts frame — (doc, array<int>) for
    AFFECTED docs only — so document text never leaves its scan partitions.
    On corpora where most documents carry cuts (boilerplate-heavy web text)
    that frame can outgrow the driver: pass ``broadcast_cuts=False`` to
    take the one doc-keyed payload shuffle instead — the same byte volume a
    cleaned-corpus rewrite moves anyway, and the honest floor once the cut
    set itself is corpus-scale (Lee et al.'s suffix-array pipeline globally
    sorts every byte; one partitioned exchange is strictly cheaper).
    """
    # token array materialized behind a projection boundary (see
    # duplicate_spans: the inlined tokenizer re-runs per element_at inside
    # the n-gram lambda otherwise — O(tokens^2 * k) per document)
    keyed = df.select(
        F.col(id_col).alias("doc"), tokens(F.col(text_col)).alias("toks")
    ).select("doc", "toks", word_ngram_hashes(F.col("toks"), k).alias("keys"))
    win = keyed.select("doc", F.posexplode("keys").alias("pos", "key"))
    hot = (
        win.groupBy("key")
        .agg(
            F.count_distinct("doc").alias("_nd"),
            F.min(F.struct("doc", "pos")).alias("first"),
        )
        .where(F.col("_nd") >= min_docs)
        .select("key", "first")
    )
    losers = (
        win.join(hot, "key")
        .where(
            ~(
                (F.col("doc") == F.col("first.doc"))
                & (F.col("pos") == F.col("first.pos"))
            )
        )
        .groupBy("doc")
        .agg(F.collect_set("pos").alias("cuts"))
    )
    out = keyed.join(
        F.broadcast(losers) if broadcast_cuts else losers, "doc", "left"
    ).withColumn("cuts", F.coalesce("cuts", F.array().cast("array<int>")))
    # Linear rebuild. The obvious per-token mask — filter(toks, i ->
    # !exists(cuts, s -> s <= i < s+k)) — is O(tokens * cuts) per document
    # in interpreted HOF evaluation, quadratic on boilerplate-heavy text
    # where cuts ~ tokens (a 50k-page corpus never finished). Instead,
    # because every cut interval has the same length k, sorted cut
    # positions merge into maximal runs wherever consecutive cuts are
    # < k apart; the kept text is the concatenation of the inter-run
    # slices — O(tokens + cuts) array ops per document, all JVM-side.
    cs = F.array_sort("cuts")
    T = F.size("toks")
    nc = F.size(cs)
    idx = F.sequence(F.lit(0), nc - 1)
    # run starts: first cut, or gap >= k from the previous cut
    # (F.get(cs, -1) is null -> null comparison -> filtered out, so the
    # i == 0 disjunct alone admits the first index)
    starts = F.transform(
        F.filter(idx, lambda i: (i == 0) | (F.get(cs, i) - F.get(cs, i - 1) >= k)),
        lambda i: F.get(cs, i),
    )
    # run ends: last cut of each run, covering through cut + k (capped at T)
    ends = F.transform(
        F.filter(idx, lambda i: (i == nc - 1) | (F.get(cs, i + 1) - F.get(cs, i) >= k)),
        lambda i: F.least(F.get(cs, i) + k, T),
    )
    # kept = toks[0:starts[0]] ++ toks[ends[0]:starts[1]] ++ ... ++ toks[ends[m-1]:T]
    prev_ends = F.concat(F.array(F.lit(0)), ends)
    next_starts = F.concat(starts, F.array(T))
    kept = F.when(nc == 0, F.col("toks")).otherwise(
        F.flatten(
            F.transform(
                F.sequence(F.lit(0), F.size(starts)),
                lambda j: F.slice(
                    "toks",
                    F.get(prev_ends, j) + 1,
                    F.greatest(F.get(next_starts, j) - F.get(prev_ends, j), F.lit(0)),
                ),
            )
        )
    )
    return out.select(
        "doc",
        F.array_join(kept, " ").alias("text_clean"),
        T.cast("long").alias("n_tokens"),
        (T - F.size(kept)).cast("long").alias("n_cut"),
    )
