"""The end-to-end KG-construction pipeline (the engine's flagship plan).

Stages (SURVEY.md §7.1; reference analogs cited per stage):

  1. latest-wins page dedup            (history/differential analog, lib/Gtfsrt2LC.js:667-751)
  2. Arrow-UDF text extraction         (protobuf decode analog,      lib/Gtfsrt2LC.js:61-66)
  3. sentence split + SVO extraction   (pairwise connection forming, lib/Gtfsrt2LC.js:162-229)
  4. entity linking: exact dictionary join + MinHash-LSH fuzzy
                                       (trip deduction,              lib/Gtfsrt2LC.js:323-394)
  5. connected-components canonicalization over sameAs edges
                                       (repair/unification pass,     lib/Gtfsrt2LC.js:438-665)
  6. IRI minting                       (URI templates,               lib/Utils.js:9-66)
  7. triple dedup + provenance         (12-quad explode,             lib/Connections2Triples.js:14-104)

Everything is declarative DataFrame ops except stage 2 (Arrow pandas UDF, the
sanctioned slow path). The KB-derived frames (resolved dictionary, fuzzy
band and shingle tables, canonical map) are built once per pipeline and
persisted; joins against them carry no strategy hint, so AQE broadcasts them
while they are small and shuffles them once they are not. The wide shuffle
that grows with pages is the final triple dedup (keyed by (s,p,o)),
AQE-skew-splittable; latest-wins is a dup-stats join whose stats side (one
row per re-crawled url) is broadcast, so the html payload never shuffles.
"""

from __future__ import annotations

import atexit
import re
import shutil
import tempfile

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gtfsrt2lc_spark.functions.iri import entity_iri, predicate_iri
from gtfsrt2lc_spark.functions.text import extract_text_udf
from gtfsrt2lc_spark.operators.components import connected_components
from gtfsrt2lc_spark.functions.web import canonicalize_url
from gtfsrt2lc_spark.operators.dedup import latest_by_key
from gtfsrt2lc_spark.operators.linking import (
    FuzzyDictionary,
    link_fuzzy,
    resolve_dictionary,
)

# a "mention" is a capitalized token span; predicates are a fixed phrase lexicon
_MENTION = r"[A-Z][\w.]*(?: [A-Z][\w.]*)*"

# Live driver-local stage dirs (the tempfile fallback of ``_stage``). A frame
# returned by ``triples()`` reads them after its pipeline is gone, so they
# are removed by ``cleanup()`` or, failing that, at interpreter exit.
_LOCAL_STAGES: set[str] = set()


@atexit.register
def _remove_local_stages() -> None:
    for path in _LOCAL_STAGES:
        shutil.rmtree(path, ignore_errors=True)


class KGPipeline:
    """Holds the KB sides and composes the plan.

    records:   (record_id, name, entity_type)
    surfaces:  (surface, record_id, prior)
    sameas:    (src, dst) record-equivalence edges
    predicates: phrase -> predicate local name

    The KB-derived frames are built at most once per pipeline and stay
    persisted for its lifetime; ``cleanup()`` frees only the per-run stage
    checkpoints, so passes, micro-batches and ``run_incremental`` calls
    over one pipeline share one KB index.
    """

    def __init__(
        self,
        records: DataFrame,
        surfaces: DataFrame,
        sameas: DataFrame,
        predicates: dict[str, str],
        canonical_urls: bool = False,
        scratch_dir: str | None = None,
    ) -> None:
        self.records = records
        self.surfaces = surfaces
        self.sameas = sameas
        self.predicates = predicates
        # Re-crawl dedup key normalization (functions/web.py policy): a real
        # crawl log stores `HTTP://WWW.x.com:80/a?utm_source=f` and
        # `http://x.com/a` as distinct urls for the same document. When True,
        # `extracted()` rewrites url to its canonical form BEFORE latest-wins,
        # so variants collapse to one surviving snapshot and downstream
        # provenance graphs are canonical urls. Non-parsing urls keep their
        # raw string as the key (coalesce) rather than collapsing into one
        # NULL group. Default False: golden-fixture urls are already
        # canonical, and byte-parity of `graph` vs recorded fixtures matters.
        self.canonical_urls = canonical_urls
        # Stage checkpoints MUST live on a filesystem every executor can
        # reach (HDFS/S3A/shared NFS): a driver-local tmp dir silently loses
        # the partitions other executors wrote on a multi-node cluster.
        # ``scratch_dir`` is any Hadoop-FS URI (run_incremental supplies an
        # out_dir-scoped one); the tempfile fallback is for local[*] only.
        self.scratch_dir = scratch_dir
        self._canonical_map: DataFrame | None = None
        self._dictionary: DataFrame | None = None
        self._fuzzy: FuzzyDictionary | None = None
        self._fact_udf = None
        self._scratch: list[tuple[str, bool]] = []  # (path, via_hadoop_fs)
        self._stage_seq = 0
        self._spark = None
        phrases = sorted(predicates, key=len, reverse=True)
        alt = "|".join(re.escape(p) for p in phrases)
        self._phrase_alt = alt
        self._svo_pattern = rf"^({_MENTION}) ({alt}) ({_MENTION})\.$"

    def page_key(self, col: "F.Column | None" = None) -> "F.Column":
        """The document-identity expression for a url column: the canonical
        form under ``canonical_urls``, the raw string otherwise. Partitioners
        (manifest.run_incremental's bucket assignment) MUST key on this, not
        on raw url: latest-wins runs per bucket, so two spellings of one
        document split across buckets would each win their own bucket and
        the stale snapshot's triples would leak into the store."""
        c = F.col("url") if col is None else col
        if self.canonical_urls:
            return F.coalesce(canonicalize_url(c), c)
        return c

    # ---- stage 1+2 -------------------------------------------------------
    def extracted(self, pages: DataFrame) -> DataFrame:
        """Latest snapshot per url, with deterministically extracted text.

        (url, warc_ts) pairs are unique in a crawl log, so the latest-wins
        dedup is ``latest_by_key``'s duplicate-keys-only stats join over two
        pruned columns — the html payload never shuffles.

        canonical_urls: url is rewritten to its canonical form (pure JVM
        expressions — stays inside the scan projection) before the dedup,
        so tracking-param/www/port variants of one document compete as one
        key. Two variants sharing a warc_ts both survive latest_by_key's
        tie contract; the terminal (s,p,o) dedup absorbs them."""
        return self._latest(pages).withColumn(
            "extracted_text", extract_text_udf(F.col("html"))
        )

    def _latest(self, pages: DataFrame) -> DataFrame:
        """Stage-1 latest-wins dedup (see extracted() docstring)."""
        if self.canonical_urls:
            pages = pages.withColumn(
                "url", F.coalesce(canonicalize_url(F.col("url")), F.col("url"))
            )
        return latest_by_key(pages, "url", "warc_ts")

    def _fact_lines_udf(self):
        """Arrow UDF: html -> only the extracted-text lines containing some
        predicate phrase (the fused extract+prefilter used by triples()).

        Byte-equivalent to the unfused pair ``extract_text_udf`` then
        JVM ``split('\\n')`` + ``rlike(phrase alternation)``: extractor
        output has no empty/leading/trailing lines (extract_text_str step 5
        drops them), so Python ``str.split`` and Java ``String.split``
        agree, and the phrase alternation is all literals, so
        ``rlike(p1|p2|...)`` == "some phrase is a substring". Fusing the
        prefilter into the extraction worker means only fact-bearing lines
        (a small fraction of real-corpus text) ride the Arrow boundary
        back — the full extracted text never transits to the JVM on the
        triples() path (guide §4: pass only the columns the function
        needs, in both directions)."""
        if self._fact_udf is None:
            from gtfsrt2lc_spark.functions.text import extract_text_bytes

            phrases = tuple(sorted(self.predicates))

            @F.pandas_udf("array<string>")
            def fact_lines(html):
                def one(h):
                    t = extract_text_bytes(h)
                    if t is None:
                        return None
                    return [
                        ln
                        for ln in t.split("\n")
                        if any(p in ln for p in phrases)
                    ]

                return html.map(one)

            self._fact_udf = fact_lines
        return self._fact_udf

    # ---- stage 3 ---------------------------------------------------------
    def mentions(self, extracted: DataFrame) -> DataFrame:
        """(url, subj_surface, pred_phrase, obj_surface) candidate facts.

        Sentence split + anchored SVO regex, all JVM-side (regexp_extract).
        Carries ``part_id`` through when present (manifest mode)."""
        carry = ["url"] + (["part_id"] if "part_id" in extracted.columns else [])
        # Two-phase split with a phrase prefilter between the phases: lines
        # split on the literal '\n' first (memchr-cheap), the lookaround
        # sentence regex then runs ONLY on lines that contain some predicate
        # phrase at all (a plain-alternation rlike — no lookarounds). No
        # false negatives: an SVO match must contain its phrase, so a line
        # with no phrase substring can never yield a mention; on real
        # corpora most lines are phrase-free boilerplate and skip the
        # expensive lookaround scan entirely (guide §1.2). Equivalent to the
        # one-shot combined split for extractor output, where lines are
        # stripped and non-empty (extract_text_str step 5) so a sentence
        # delimiter's \s+ run can never span a '\n'.
        lines = extracted.select(
            *carry,
            F.explode(F.split(F.col("extracted_text"), "\n")).alias("_line"),
        ).where(F.col("_line").rlike(self._phrase_alt))
        return self._svo_from_lines(lines, carry)

    def _mentions_fused(self, latest: DataFrame) -> DataFrame:
        """mentions() with the extract+line-split+phrase-prefilter fused
        into the Arrow worker (``_fact_lines_udf``) — the triples() hot
        path. Identical output to ``mentions(extracted(...))`` (see the
        UDF docstring for the equivalence argument), but only phrase-
        bearing lines cross the Python->JVM boundary."""
        carry = ["url"] + (["part_id"] if "part_id" in latest.columns else [])
        lines = latest.select(
            *carry,
            F.explode(self._fact_lines_udf()(F.col("html"))).alias("_line"),
        )
        return self._svo_from_lines(lines, carry)

    def _svo_from_lines(self, lines: DataFrame, carry: list[str]) -> DataFrame:
        """Sentence split + anchored SVO extraction over phrase-bearing
        lines (the shared tail of mentions() and _mentions_fused())."""
        sent = lines.select(
            *carry,
            F.explode(
                # '. ' splits only when the period is not an initial like
                # "A." (abbreviation guard)
                F.split(
                    F.col("_line"), r"(?<=(?<![A-Z])[.!?])\s+(?=[A-Z])"
                )
            ).alias("sentence"),
        )
        p = self._svo_pattern
        # ONE anchored-regex execution per sentence: the backreference
        # regexp_replace rewrites a matching sentence to "$1\t$2\t$3" and
        # leaves a non-matching one unchanged, so "matched" == "the \t
        # split has exactly 3 parts" — mention spans are
        # [A-Z][\w.]*( [A-Z][\w.]*)* and the phrase lexicon is \t-free, and
        # extractor output cannot contain a literal tab (the whitespace
        # collapse in extract_text_str folds tabs to spaces), so the test
        # has no false positives. A failed replaceAll costs the same
        # pattern search an rlike would, so this halves the regex work vs
        # the previous rlike-then-extract shape (4 -> 1 executions per
        # matching sentence overall; guide §1.2). The one-element-array
        # explode is a pass-through Generate boundary: the replace is a
        # Generate input evaluated exactly once per row, and the
        # size-filter sits on the GENERATED attribute, which predicate
        # pushdown cannot substitute back below the Generate — phrasing it
        # as filter-over-projection would let Catalyst duplicate the
        # replace into a pushed filter (the duplicate_spans lesson).
        g = sent.select(
            *carry,
            F.explode(
                F.array(
                    F.split(F.regexp_replace("sentence", p, "$1\t$2\t$3"), "\t")
                )
            ).alias("_g"),
        )
        svo = g.where(F.size("_g") == 3).select(
            *carry,
            F.col("_g")[0].alias("subj_surface"),
            F.col("_g")[1].alias("pred_phrase"),
            F.col("_g")[2].alias("obj_surface"),
        )
        return svo

    # ---- stage 4 ---------------------------------------------------------
    def _link_index(self) -> tuple[DataFrame, FuzzyDictionary]:
        """The KB side of linking: the resolved dictionary (surface -> best
        record) and the fuzzy band and shingle tables, built on first use
        and persisted for the pipeline's lifetime.

        All three are pure functions of the static KB, so every later pass,
        micro-batch and ``run_incremental`` call reads the cache instead of
        re-running the resolve window and the dictionary-side signature
        aggregation (the reference builds its indexes once and re-parses
        every feed against them, README.md:58, lib/GtfsIndex.js:75-169).
        Persisted, not staged: ``cleanup()`` deletes the per-run scratch."""
        if self._fuzzy is None:
            # persisted first: FuzzyDictionary resolves the same surfaces,
            # and Spark's cache serves that identical subplan from this copy
            self._dictionary = resolve_dictionary(self.surfaces).persist()
            fd = FuzzyDictionary(self.surfaces)
            fd.bands_df = fd.bands_df.persist()
            fd.shingled = fd.shingled.persist()
            self._fuzzy = fd
        return self._dictionary, self._fuzzy

    def linked(self, mentions: DataFrame) -> DataFrame:
        """Distinct linked facts: one row per (surfaces, phrase[, carry])
        group with subject/object KB record ids and url = the group's MIN
        url (the provenance winner triples() keeps); unlinkable groups drop
        (inner semantics, like the reference's silent skip on missing
        static data, lib/Gtfsrt2LC.js:98-111). Callers that need the
        per-mention stream use mentions() directly — every aggregate
        triples() computes (graph = min url) re-folds exactly over this
        pre-folded frame (min-of-mins).

        One plan whatever the sizes: the distinct subject and object
        surfaces left-join the resolved dictionary once. Rows that found a
        record are the exact matches; only the rows that came back null
        are fuzzy-linked by MinHash-LSH against the persisted band tables.
        Exact and fuzzy matches union into one surface -> record mapping,
        which the folded facts join once per slot. Nothing is collected
        and no join carries a strategy hint: AQE and the optimizer's size
        statistics broadcast a side while it is small and shuffle it once
        the KB or the unmatched set outgrows a broadcast ("To Partition, or
        Not to Partition", SIGMOD 2021). A clean corpus runs the same plan
        over an empty unmatched set."""
        # Fold the mention stream BEFORE the dictionary joins and the stage
        # write (guide §2.3 partial aggregation): group on the narrow
        # surface/phrase key (plus any carry columns such as part_id)
        # keeping url = min(url). Map-side partial aggregation collapses
        # the per-mention rows to the KB-bounded distinct-fact set INSIDE
        # the extraction job, so the linking joins touch thousands of rows
        # instead of one row per mention and the staged parquet is tiny.
        # Exact for triples(): its graph = min(url) re-fold computes
        # min-of-mins == global min, and record slots are functionally
        # determined by the surfaces (joining before or after the fold
        # yields the same rows). Staged because the fold feeds both the
        # surface set and the slot joins: the extraction under it runs once.
        fold_keys = [c for c in mentions.columns if c != "url"]
        folded = self._stage(
            mentions.groupBy(*fold_keys).agg(F.min("url").alias("url"))
        )
        dictionary, fuzzy = self._link_index()
        # Both branches below read this one lookup. The explicit not-null
        # filters keep their subplans identical: otherwise the optimizer
        # turns the exact branch into an inner join, infers these filters
        # for it alone, and the distinct-surface shuffle and the
        # dictionary broadcast each run twice instead of being reused.
        lookup = (
            folded.select(
                F.explode(F.array("subj_surface", "obj_surface")).alias("surface")
            )
            .where(F.col("surface").isNotNull())
            .distinct()
            .join(
                dictionary.select("surface", "record_id").where(
                    F.col("record_id").isNotNull()
                ),
                "surface",
                "left",
            )
        )
        unmatched = lookup.where(F.col("record_id").isNull()).select("surface")
        # staged: both slot joins read it, and an inline mapping would run
        # the fuzzy pass once per slot
        mapping = self._stage(
            lookup.where(F.col("record_id").isNotNull()).unionByName(
                link_fuzzy(unmatched, prepped=fuzzy).select("surface", "record_id")
            )
        )
        for slot in ("subj_surface", "obj_surface"):
            folded = folded.join(
                mapping.select(
                    F.col("surface").alias(slot),
                    F.col("record_id").alias(f"{slot}_record"),
                ),
                slot,
            )
        return folded

    def _stage(self, df: DataFrame) -> DataFrame:
        """Materialize an intermediate to a scratch parquet dir and re-read.

        The engine's stage-checkpoint primitive: truncates the plan, makes
        the intermediate consumable by any number of downstream subplans
        (including broadcast-exchange threads) without block-manager
        contention or recomputation.

        Cluster posture: when ``scratch_dir`` is set, stages go to
        ``<scratch_dir>/stage-NNNN`` through Spark's Hadoop-FS writer, so
        executors on any node write to (and the re-read scans) the same
        shared location — the same protocol as HistoryStore commits
        (plans/gtfs.py). The driver-local ``tempfile`` fallback exists only
        for local[*] sessions, where driver and executors share one
        filesystem."""
        spark = df.sparkSession
        self._spark = spark
        if self.scratch_dir is not None:
            self._stage_seq += 1
            path = f"{self.scratch_dir.rstrip('/')}/stage-{self._stage_seq:04d}"
            via_fs = True
        else:
            path = tempfile.mkdtemp(prefix="kgstage_")
            _LOCAL_STAGES.add(path)
            via_fs = False
        self._scratch.append((path, via_fs))
        df.write.mode("overwrite").parquet(path)
        # the schema just written: no schema-inference job on the re-read
        return spark.read.schema(df.schema).parquet(path)

    def cleanup(self) -> None:
        """Remove the per-run stage dirs created by linked(). The persisted
        KB frames (``_link_index``, ``canonical_map``) outlive every run.

        Hadoop-FS scratch paths delete through the FileSystem API (works on
        HDFS/S3A/local alike); tempfile fallbacks through shutil. A caller
        that skips this still loses its tempfile fallbacks at interpreter
        exit; ``scratch_dir`` stages are the caller's to remove."""
        from gtfsrt2lc_spark.functions import hadoop_fs

        for path, via_fs in self._scratch:
            if via_fs and self._spark is not None:
                hadoop_fs.delete(self._spark, path)
            else:
                shutil.rmtree(path, ignore_errors=True)
                _LOCAL_STAGES.discard(path)
        self._scratch.clear()

    # ---- stage 5+6 -------------------------------------------------------
    def canonical_map(self) -> DataFrame:
        """record_id -> (canonical_record, canonical IRI).

        Connected components over sameAs edges; component id = min record_id;
        IRI minted from the canonical record's name. Computed once per
        pipeline instance, persisted and materialized here, so its cost is
        KB preparation (the KB is static across micro-batches — the
        reference's index-reuse pattern, README.md:58). Never collected: a
        100x KB stays distributed, and triples() joins it unhinted."""
        if self._canonical_map is not None:
            return self._canonical_map
        cc = connected_components(self.sameas)
        recs = self.records.select("record_id", "name")
        mapped = (
            recs.join(cc, recs.record_id == cc.vertex, "left")
            .select(
                "record_id",
                F.coalesce(F.col("component"), F.col("record_id")).alias("canonical_record"),
            )
        )
        canon_names = recs.withColumnRenamed("record_id", "canonical_record").withColumnRenamed(
            "name", "canonical_name"
        )
        out = mapped.join(canon_names, "canonical_record").select(
            "record_id",
            "canonical_record",
            entity_iri(F.col("canonical_name")).alias("iri"),
        )
        self._canonical_map = out.persist()
        self._canonical_map.count()
        return self._canonical_map

    # ---- stage 7 ---------------------------------------------------------
    def triples(self, pages: DataFrame, with_part: bool = False) -> DataFrame:
        """Deduplicated (subj, pred, obj, graph) — graph = min provenance url.

        with_part=True additionally carries ``part_id`` (for the checkpoint
        manifest), dedups per (part, s, p, o) and returns the rows clustered
        by ``part_id``, so a ``partitionBy("part_id")`` write lands one file
        per part without an exchange of its own."""
        linked = self.linked(self._mentions_fused(self._latest(pages)))
        canon = self.canonical_map()

        pred_map = F.create_map(
            *[F.lit(x) for kv in self.predicates.items() for x in kv]
        )
        # linked() already folded the mentions to one row per (part,
        # surfaces, phrase), so the canonical joins, predicate map and IRI
        # concat run on that small frame, and the one aggregate on the
        # minted (s, p, o) re-folds exactly: record -> IRI is functional,
        # sameAs merges and surfaces of one record fold by min-of-mins, and
        # the inner canon joins drop the same unmappable records whatever
        # the grouping.
        t = (
            linked.join(
                canon.select(
                    F.col("record_id").alias("subj_surface_record"),
                    F.col("iri").alias("subj"),
                ),
                "subj_surface_record",
            )
            .join(
                canon.select(
                    F.col("record_id").alias("obj_surface_record"),
                    F.col("iri").alias("obj"),
                ),
                "obj_surface_record",
            )
            .withColumn("pred", predicate_iri(pred_map[F.col("pred_phrase")]))
        )
        keys = ["subj", "pred", "obj"]
        if with_part:
            # One exchange for the aggregate and the partitioned write: hash
            # clustering on part_id satisfies the (part_id, s, p, o)
            # grouping, and the write finds its rows already clustered by
            # part. The aggregate's parallelism is capped at the number of
            # parts, the same cap the write has.
            t = t.repartition("part_id")
            keys = ["part_id"] + keys
        return t.groupBy(*keys).agg(F.min("url").alias("graph"))
