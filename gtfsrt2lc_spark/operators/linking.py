"""Entity linking: dictionary resolution for the exact match + MinHash-LSH fuzzy match.

Reference analog: trip deduction (`lib/Gtfsrt2LC.js:323-394`) — candidate
generation by a blocking key (route_id ≙ LSH band bucket), then scoring
filters (direction/startTime/calendar ≙ Jaccard threshold), then a
deterministic winner (last match wins at `:376,380` ≙ highest score, ties by
record_id).

Scale posture: the resolved dictionary joins the *distinct* mention surfaces,
never the mention stream itself, and carries no strategy hint: AQE broadcasts
it while it is small (the in-heap MemStore analog, `lib/GtfsIndex.js:99-105`)
and shuffles it once it is not (the persistent-store analog). The fuzzy pass
shuffles only *unmatched distinct surfaces* (tiny relative to mentions)
against LSH band buckets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from gtfsrt2lc_spark.functions.hashing import MOD, minhash_perms

# MinHash-LSH parameters: N_HASHES signature values in BANDS bands of
# N_HASHES // BANDS rows, and the character-3-gram Jaccard floor of a match
N_HASHES = 16
BANDS = 8
SEED = 42
JACCARD_THRESHOLD = 0.5

_PERMS = minhash_perms(N_HASHES, seed=SEED)


def resolve_dictionary(surfaces: DataFrame) -> DataFrame:
    """(surface, record_id, prior) -> unique best record per surface.

    Deterministic winner: highest prior, then smallest record_id — the
    engine's version of the reference's last-match-wins tie-break.
    """
    w = Window.partitionBy("surface").orderBy(F.col("prior").desc(), F.col("record_id"))
    return (
        surfaces.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def _shingle_hashes(col, n: int = 3):
    """Closed-form 31-polynomial hash of each character n-gram.

    No nested aggregate per element (a fixed-width n-gram hash is
    sum(ascii(c_j) * 31^(n-1-j)) mod p) — keeps the Catalyst expression tree
    small; deep HOF nesting caused multi-minute Janino codegen."""
    s = F.lower(col)
    weights = [31 ** (n - 1 - j) for j in range(n)]

    def gram_hash(i):
        h = F.lit(0).cast("long")
        for j, w in enumerate(weights):
            h = h + F.ascii(s.substr(i + j, F.lit(1))).cast("long") * F.lit(w)
        return h % F.lit(MOD)

    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(s) - (n - 1), F.lit(1))),
            gram_hash,
        )
    )


def _lsh_columns(side: str):
    """The Columns that take one join side from ``surface_<side>`` to its
    LSH band keys, in three projections: the shingle-hash array
    ``sh_<side>``, the MinHash signature ``sig_<side>`` over it, and the
    exploded ``band`` key over the signature (band index plus that band's
    ``rows`` signature values).

    Projections, not an explode plus a per-surface min aggregate: a
    signature is a pure function of one surface's shingle array, so no
    row leaves its partition. Each projection reads its input column
    several times, so Catalyst keeps them apart instead of inlining the
    shingle or signature expression into every use."""
    rows = N_HASHES // BANDS
    sh = _shingle_hashes(F.col(f"surface_{side}")).alias(f"sh_{side}")

    def perm_min(a: int, b: int):
        return F.array_min(
            F.transform(F.col(f"sh_{side}"), lambda h: (h * F.lit(a) + F.lit(b)) % F.lit(MOD))
        )

    sig = F.array(*[perm_min(a, b) for a, b in _PERMS]).alias(f"sig_{side}")
    s = F.col(f"sig_{side}")
    band = F.explode(
        F.array(
            *[
                F.concat_ws(
                    "_", F.lit(bi), *[s[bi * rows + r].cast("string") for r in range(rows)]
                )
                for bi in range(BANDS)
            ]
        )
    ).alias("band")
    return sh, sig, band


def _prep_bands(df: DataFrame, side: str, cols=None) -> DataFrame:
    """(surface_<side>, band) LSH band table for one join side — the one
    band-key path of both the dictionary and the query side, so the two
    always hash identically. Payload-free by design. ``cols`` reuses
    Columns already built by ``_lsh_columns`` for this side."""
    sh, sig, band = cols or _lsh_columns(side)
    key = f"surface_{side}"
    return (
        df.select(F.col("surface").alias(key))
        .select(key, sh)
        .select(key, sig)
        .select(key, band)
    )


class FuzzyDictionary:
    """Precomputed dictionary side of the MinHash-LSH fuzzy linker.

    The band table and shingle table are pure functions of the STATIC
    dictionary, so a micro-batch loop must not rebuild them per batch —
    the reference builds its indexes once and re-parses every feed against
    them (README.md:58, lib/GtfsIndex.js:75-169), and at a 100x KB the
    dictionary-side signatures are the dominant cost of a fuzzy pass.
    Build one of these per KB and pass it to ``link_fuzzy`` via
    ``prepped``; callers may re-point ``bands_df`` / ``shingled`` at a
    staged (parquet) or persisted copy so later batches scan instead of
    recomputing (KGPipeline persists them for the pipeline's lifetime).

    Hot-band cap (``max_band_size``): the candidate join is
    ``q_bands ⋈ bands_df`` on the band signature, so one degenerate band
    bucket — millions of short or near-identical surfaces collapsing to
    the same MinHash signature at a 100x-skewed KB — makes the candidate
    set |q_band|x|d_band|: a quadratic blowup AQE's skew-join can split
    across tasks but cannot shrink. Because the dictionary side is static
    and built exactly once, band frequencies are counted here at build
    time and buckets larger than the cap are DROPPED from the band table
    (one extra shuffle of the narrow (surface, band) frame, amortized over
    every later batch). Recall trade-off, by design: a (query, dict) pair
    whose ONLY colliding bands are dropped hot bands is never proposed —
    but a band shared by >cap dictionary surfaces carries almost no
    discriminating signal (any query hitting it would score against the
    whole bucket), so the pairs lost are overwhelmingly low-Jaccard noise;
    pairs also colliding on any healthy band are unaffected. Set
    ``max_band_size=None`` to disable the cap (exact reference-parity
    fixtures; never at web scale).
    """

    def __init__(self, dictionary: DataFrame, max_band_size: int | None = 1000) -> None:
        dic = resolve_dictionary(dictionary)
        bands_df = _prep_bands(dic, "d")
        if max_band_size is not None:
            # window count over the NARROW band frame: one keyed shuffle at
            # build time, no collect, no broadcast-size assumption about how
            # many bands run hot
            wb = Window.partitionBy("band")
            bands_df = (
                bands_df.withColumn("_bc", F.count(F.lit(1)).over(wb))
                .where(F.col("_bc") <= max_band_size)
                .drop("_bc")
            )
        self.bands_df = bands_df
        self.shingled = dic.select(
            F.col("surface").alias("surface_d"),
            F.col("record_id"),
            _shingle_hashes(F.col("surface")).alias("sh_d"),
        )
        # The query-side Columns are composed once here instead of once
        # per link_fuzzy call (hundreds of py4j calls each).
        self._q_cols = _lsh_columns("q")
        inter = F.size(F.array_intersect("sh_q", "sh_d"))
        union = F.size("sh_q") + F.size("sh_d") - inter
        self._score = (inter.cast("double") / union.cast("double")).alias("score")
        # highest score, then smallest record_id
        self._winner = F.min(
            F.struct((-F.col("score")).alias("neg_score"), F.col("record_id"))
        ).alias("w")


def link_fuzzy(
    surfaces_q: DataFrame,
    dictionary: DataFrame | None = None,
    prepped: FuzzyDictionary | None = None,
) -> DataFrame:
    """Fuzzy-link unmatched surfaces to dictionary entries.

    surfaces_q: one column ``surface`` (duplicates allowed). Returns one
    (surface, record_id, score) row per surface that has a match with
    character-3-gram Jaccard >= ``JACCARD_THRESHOLD``: the highest score,
    ties to the smallest record_id.

    MinHash-LSH candidate generation (band-bucket equi-join) then exact
    Jaccard verification on candidates only. Pass ``prepped`` (a
    ``FuzzyDictionary``) to reuse the dictionary-side band/shingle tables
    across calls; ``dictionary`` is ignored then and may be None. Without
    ``prepped`` this call builds the tables from ``dictionary`` with the
    default hot-band cap.

    Shuffle discipline: the query side's shingles, signatures and band
    keys are projections of each surface, so no row moves before the band
    join. The band join replicates every row x bands, so it runs on the
    NARROW (surface_q, band) frame only. Both sides' shingle sets join back
    to the candidate pairs afterwards: the dictionary's from
    ``FuzzyDictionary.shingled`` on ``surface_d``, the query's from a
    (surface_q, sh_q) table built once over the query surfaces, on
    ``surface_q`` — so no shingle set is computed per candidate row. The
    one shuffle is the per-surface winner aggregate,
    ``min(struct(-score, record_id))``: a pair that collides on several
    bands, a duplicated query surface, or a record that owns several
    bucketed surfaces is scored once per candidate row, and the aggregate
    keeps the highest score, then the smallest record_id.

    The threshold applies to that winner, after the aggregate. This equals
    filtering the candidates first: if the best candidate clears the
    threshold it is also the best of those that clear it, and if it does
    not, none does. Filtering first lets the optimizer push the score into
    the band-join condition, which evaluates the Jaccard expression there.
    """
    if prepped is None:
        if dictionary is None:
            raise ValueError("link_fuzzy needs either dictionary or prepped")
        prepped = FuzzyDictionary(dictionary)
    q = _prep_bands(surfaces_q, "q", cols=prepped._q_cols)
    q_sh = surfaces_q.select(F.col("surface").alias("surface_q")).select(
        "surface_q", prepped._q_cols[0]
    )
    return (
        q.join(prepped.bands_df, "band")
        .select("surface_q", "surface_d")
        .join(prepped.shingled, "surface_d")
        .join(q_sh, "surface_q")
        .select("surface_q", "record_id", prepped._score)
        .groupBy("surface_q")
        .agg(prepped._winner)
        .where(F.col("w.neg_score") <= -JACCARD_THRESHOLD)
        .select(
            F.col("surface_q").alias("surface"),
            F.col("w.record_id").alias("record_id"),
            (-F.col("w.neg_score")).alias("score"),
        )
    )
