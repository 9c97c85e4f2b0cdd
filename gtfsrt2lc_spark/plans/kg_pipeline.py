"""The end-to-end KG-construction pipeline (the engine's flagship plan).

Stages (SURVEY.md §7.1; reference analogs cited per stage):

  1. latest-wins page dedup            (history/differential analog, lib/Gtfsrt2LC.js:667-751)
  2. Arrow-UDF text extraction         (protobuf decode analog,      lib/Gtfsrt2LC.js:61-66)
  3. sentence split + SVO extraction   (pairwise connection forming, lib/Gtfsrt2LC.js:162-229)
  4. entity linking: broadcast exact + MinHash-LSH fuzzy
                                       (trip deduction,              lib/Gtfsrt2LC.js:323-394)
  5. connected-components canonicalization over sameAs edges
                                       (repair/unification pass,     lib/Gtfsrt2LC.js:438-665)
  6. IRI minting                       (URI templates,               lib/Utils.js:9-66)
  7. triple dedup + provenance         (12-quad explode,             lib/Connections2Triples.js:14-104)

Everything is declarative DataFrame ops except stage 2 (Arrow pandas UDF, the
sanctioned slow path). Joins against the KB are broadcast; the only wide
shuffles are the final triple dedup (keyed by (s,p,o)) and the window for
latest-wins (keyed by url) — both scale linearly with pages and are
AQE-skew-splittable (hot domains salt naturally through url hashing).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gtfsrt2lc_spark.functions.iri import entity_iri, predicate_iri
from gtfsrt2lc_spark.functions.text import extract_text_udf
from gtfsrt2lc_spark.operators.components import connected_components
from gtfsrt2lc_spark.functions.web import canonicalize_url
from gtfsrt2lc_spark.operators.dedup import latest_by_key
from gtfsrt2lc_spark.operators.linking import link_fuzzy

# a "mention" is a capitalized token span; predicates are a fixed phrase lexicon
_MENTION = r"[A-Z][\w.]*(?: [A-Z][\w.]*)*"


class KGPipeline:
    """Holds the (small, broadcastable) KB sides and composes the plan.

    records:   (record_id, name, entity_type)
    surfaces:  (surface, record_id, prior)
    sameas:    (src, dst) record-equivalence edges
    predicates: phrase -> predicate local name
    """

    def __init__(
        self,
        records: DataFrame,
        surfaces: DataFrame,
        sameas: DataFrame,
        predicates: dict[str, str],
        fuzzy: bool = True,
        fuzzy_threshold: float = 0.5,
        fuzzy_max_band_size: int | None = 1000,
        max_local_surfaces: int | None = 1_000_000,
        max_local_dictionary: int | None = 2_000_000,
        broadcast_dups: bool = True,
        canonical_urls: bool = False,
        scratch_dir: str | None = None,
    ) -> None:
        self.records = records
        self.surfaces = surfaces
        self.sameas = sameas
        self.predicates = predicates
        self.fuzzy = fuzzy
        self.fuzzy_threshold = fuzzy_threshold
        # hot-band ceiling for the dictionary-side LSH tables: a skewed
        # 100x KB (millions of near-identical surfaces sharing a MinHash
        # band) would otherwise make one band bucket quadratic in the
        # candidate join (operators/linking.FuzzyDictionary docstring)
        self.fuzzy_max_band_size = fuzzy_max_band_size
        # latest-wins dedup escape hatch: a corpus whose RE-CRAWLED key set
        # is itself too large to broadcast (billions of dup urls) sets this
        # False and takes one payload shuffle instead of a possible
        # broadcast OOM (operators/dedup.py latest_by_key contract).
        self.broadcast_dups = broadcast_dups
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
        # linked() resolves the surface->record mapping driver-side while the
        # distinct surface set stays under this cap (the fast path: one tiny
        # LocalRelation broadcast, zero broadcast-subplan recomputation), and
        # falls back to a fully distributed mapping beyond it — at web scale
        # the distinct capitalized-span set grows with the corpus and must
        # never be collected. None = always local (tests/micro-batches).
        self.max_local_surfaces = max_local_surfaces
        # The KB dictionary itself (surface -> record) is collected to the
        # driver and broadcast while it stays under THIS cap — the
        # reference's in-heap Map posture (lib/GtfsIndex.js:99-105) holds at
        # reference parity, but a KB 100x larger (tens of millions of
        # surfaces) must never be collected: beyond the cap linked() routes
        # to a fully distributed dictionary join and canonical_map() stays
        # a distributed (staged) relation instead of a broadcast
        # LocalRelation. None = always local.
        self.max_local_dictionary = max_local_dictionary
        self._canonical_map: DataFrame | None = None
        self._canonical_local = True
        self._dict_local: dict[str, str] | None = None
        self._dict_over_cap = False
        self._fuzzy_dict = None
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

        unique_order: (url, warc_ts) pairs are unique in a crawl log, so
        the latest-wins dedup is a duplicate-keys-only stats join over two
        pruned columns — the html payload never shuffles (the window form
        moved every page byte through the exchange, and the earlier
        all-keys winner semi-join silently degraded to the same payload
        shuffle once the winner set outgrew the broadcast threshold;
        measured as the pipeline's largest non-scaling I/O).

        canonical_urls: url is rewritten to its canonical form (pure JVM
        expressions — stays inside the scan projection) before the dedup,
        so tracking-param/www/port variants of one document compete as one
        key. Two variants sharing a warc_ts both survive the fast path's
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
        return latest_by_key(
            pages,
            "url",
            "warc_ts",
            unique_order=True,
            broadcast_dups=self.broadcast_dups,
        )

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
    def _resolved_dictionary(self) -> dict[str, str] | None:
        """surface -> best record_id, collected once while it fits
        ``max_local_dictionary`` (KB-sized at reference parity — the
        reference holds exactly this as an in-heap Map,
        lib/GtfsIndex.js:99-105). Returns None when the dictionary exceeds
        the cap: callers must stay distributed (a 100x KB would blow the
        driver heap and any broadcast/plan literal built from it). The
        over-cap probe is one job (limit cap+1), cached either way."""
        if self._dict_over_cap:
            return None
        if self._dict_local is None:
            from gtfsrt2lc_spark.operators.linking import resolve_dictionary

            rd = resolve_dictionary(self.surfaces).select("surface", "record_id")
            if self.max_local_dictionary is None:
                rows = rd.collect()
            else:
                # one job either way: the head IS the dictionary when it
                # fits, and the size probe when it doesn't
                rows = rd.limit(self.max_local_dictionary + 1).collect()
                if len(rows) > self.max_local_dictionary:
                    self._dict_over_cap = True
                    return None
            self._dict_local = {r["surface"]: r["record_id"] for r in rows}
        return self._dict_local

    def _fuzzy_dictionary(self):
        """Dictionary-side LSH tables, built ONCE per pipeline and staged.

        The band and shingle tables are pure functions of the static KB;
        a streaming loop hitting dirty micro-batches would otherwise
        recompute the dictionary-side signature aggregation on every batch
        (the reference builds indexes once and reuses them across polls,
        README.md:58). Both frames are staged to scratch parquet so every
        later fuzzy pass — and the two patch joins that consume it in the
        same batch — scan a file instead of re-running the LSH subplan."""
        if self._fuzzy_dict is None:
            from gtfsrt2lc_spark.operators.linking import FuzzyDictionary

            fd = FuzzyDictionary(
                self.surfaces, max_band_size=self.fuzzy_max_band_size
            )
            fd.bands_df = self._stage(fd.bands_df)
            fd.shingled = self._stage(fd.shingled)
            self._fuzzy_dict = fd
        return self._fuzzy_dict

    def linked(self, mentions: DataFrame) -> DataFrame:
        """Distinct linked facts: one row per (surfaces, phrase[, carry])
        group with subject/object KB record ids and url = the group's MIN
        url (the provenance winner triples() keeps); unlinkable groups drop
        (inner semantics, like the reference's silent skip on missing
        static data, lib/Gtfsrt2LC.js:98-111). Callers that need the
        per-mention stream use mentions() directly — every aggregate
        triples() computes (graph = min url) re-folds exactly over this
        pre-folded frame (min-of-mins).

        Fast path (dictionary under ``max_local_dictionary``): the resolved
        dictionary is collected once and broadcast as a LocalRelation — the
        reference's in-heap MemStore posture (lib/GtfsIndex.js:99-105) —
        and the exact mapping is FUSED into the stage write: mentions
        left-join the broadcast dictionary for both slots, the resolved ids
        land in the staged parquet, and downstream consumers re-read the
        stage with zero further mapping joins. A parquet stage checkpoint
        is the contention-free materialization: in-memory persist suffers
        block-lock/unroll contention when broadcast-exchange threads race
        the main job (measured 4-25x CPU inflation at local[32]), while
        file scans are lock-free and exactly what a multi-executor cluster
        would do. See BENCH/BASELINE.md.

        Probe elision: an ``observe`` on the same stage write sums the
        NULL record slots (a broadcast-join flag, not an ``isin`` literal —
        an in-plan literal of the whole vocabulary stops compiling long
        before the dictionary cap), so the fuzzy probe job runs ONLY when
        the write proves unmatched surfaces exist (dirty corpora).
        fuzzy=False runs zero probe jobs. When unmatched surfaces exist,
        the probe collects just the distinct unmatched set (bounded by
        ``max_local_surfaces``; beyond it the fuzzy pass runs fully
        distributed — web-scale corpora mint unbounded capitalized spans),
        and the fuzzy mapping patches the NULL slots via coalesce.

        Dictionary over the cap: the driver never sees it —
        ``_linked_distributed`` joins mentions to the distributed
        dictionary relation instead (the 100x-KB path)."""
        spark = mentions.sparkSession
        # Fold the mention stream BEFORE the dictionary joins and the stage
        # write (guide §2.3 partial aggregation): group on the narrow
        # surface/phrase key (plus any carry columns such as part_id)
        # keeping url = min(url). Map-side partial aggregation collapses
        # the per-mention rows to the KB-bounded distinct-fact set INSIDE
        # the extraction job, so the dictionary probes touch thousands of
        # rows instead of one row per mention, the staged parquet is tiny,
        # and every downstream consumer (probe, patch joins, triples'
        # re-fold) scans a tiny file. Exact for triples(): its
        # graph = min(url) re-fold computes min-of-mins == global min, and
        # record slots are functionally determined by the surfaces (joining
        # before or after the fold yields the same rows). The fold happens
        # HERE, before the local/distributed dispatch, so both linking
        # paths share one copy of this load-bearing rewrite.
        fold_keys = [c for c in mentions.columns if c != "url"]
        folded = mentions.groupBy(*fold_keys).agg(F.min("url").alias("url"))
        dic_local = self._resolved_dictionary()
        if dic_local is None:
            return self._linked_distributed(folded)
        bdict = F.broadcast(
            spark.createDataFrame(
                list(dic_local.items()), "surface string, record_id string"
            )
        )
        m = folded.join(
            bdict.withColumnRenamed("surface", "subj_surface").withColumnRenamed(
                "record_id", "subj_surface_record"
            ),
            "subj_surface",
            "left",
        ).join(
            bdict.withColumnRenamed("surface", "obj_surface").withColumnRenamed(
                "record_id", "obj_surface_record"
            ),
            "obj_surface",
            "left",
        )
        obs = None
        if self.fuzzy:
            from pyspark.sql import Observation

            obs = Observation()
            miss = F.col("subj_surface_record").isNull().cast("long") + F.col(
                "obj_surface_record"
            ).isNull().cast("long")
            m = m.observe(obs, F.sum(miss).alias("miss"))
        staged = self._stage(m)
        fully_linked = staged.where(
            F.col("subj_surface_record").isNotNull()
            & F.col("obj_surface_record").isNotNull()
        )
        if not self.fuzzy or not (obs.get["miss"] or 0):
            return fully_linked
        # dirty corpus: fuzzy-link the unmatched surfaces and patch the
        # NULL slots. The unmatched set is re-derived from the staged
        # parquet (cheap pruned scan), never from the live plan.
        unmatched_df = (
            staged.where(F.col("subj_surface_record").isNull())
            .select(F.col("subj_surface").alias("surface"))
            .unionByName(
                staged.where(F.col("obj_surface_record").isNull()).select(
                    F.col("obj_surface").alias("surface")
                )
            )
            .distinct()
        )
        local: list[str] | None = None
        if self.max_local_surfaces is None:
            local = [r["surface"] for r in unmatched_df.collect()]
        else:
            # one job either way: the head IS the unmatched list when it
            # fits, and the size probe when it doesn't
            head = unmatched_df.limit(self.max_local_surfaces + 1).collect()
            if len(head) <= self.max_local_surfaces:
                local = [r["surface"] for r in head]
        if local is not None:
            fz_rows = []
            if local:
                fz_rows = [
                    (r["surface"], r["record_id"])
                    for r in link_fuzzy(
                        spark.createDataFrame(
                            [(s,) for s in local], "surface string"
                        ),
                        None,
                        jaccard_threshold=self.fuzzy_threshold,
                        prepped=self._fuzzy_dictionary(),
                    ).collect()
                ]
            if not fz_rows:
                return fully_linked  # nothing recoverable: unmatched rows drop
            fz = F.broadcast(
                spark.createDataFrame(fz_rows, "surface string, record_id string")
            )
        else:
            # unmatched set too large to collect: fuzzy-link it distributed
            # (banded MinHash-LSH, no all-pairs), staged once so both patch
            # joins scan parquet instead of recomputing the LSH plan.
            fz = self._stage(
                link_fuzzy(
                    unmatched_df,
                    None,
                    jaccard_threshold=self.fuzzy_threshold,
                    prepped=self._fuzzy_dictionary(),
                ).select("surface", "record_id")
            )
        return (
            staged.join(
                fz.withColumnRenamed("surface", "subj_surface").withColumnRenamed(
                    "record_id", "_fz_subj"
                ),
                "subj_surface",
                "left",
            )
            .join(
                fz.withColumnRenamed("surface", "obj_surface").withColumnRenamed(
                    "record_id", "_fz_obj"
                ),
                "obj_surface",
                "left",
            )
            .withColumn(
                "subj_surface_record",
                F.coalesce("subj_surface_record", "_fz_subj"),
            )
            .withColumn(
                "obj_surface_record", F.coalesce("obj_surface_record", "_fz_obj")
            )
            .drop("_fz_subj", "_fz_obj")
            .where(
                F.col("subj_surface_record").isNotNull()
                & F.col("obj_surface_record").isNotNull()
            )
        )

    def _linked_distributed(self, mentions: DataFrame) -> DataFrame:
        """The 100x-KB path: the dictionary exceeds ``max_local_dictionary``
        so it is NEVER collected or broadcast-hinted — mentions shuffle-join
        the distributed dictionary relation (AQE still broadcasts it if the
        optimizer measures it small enough). Probe elision is impossible
        without a local vocabulary, so fuzzy=True always runs the
        distributed anti-join + MinHash-LSH pass; exact matches and fuzzy
        recoveries union into one staged mapping consumed by both joins."""
        from gtfsrt2lc_spark.operators.linking import resolve_dictionary

        dict_df = resolve_dictionary(self.surfaces).select("surface", "record_id")
        # ``mentions`` arrives already pre-folded by linked() (one row per
        # distinct (surfaces, phrase[, part]) with url = min(url))
        mentions = self._stage(mentions)
        if self.fuzzy:
            unmatched_df = (
                mentions.select(
                    F.explode(F.array("subj_surface", "obj_surface")).alias("surface")
                )
                .distinct()
                .join(dict_df, "surface", "left_anti")
            )
            fz = link_fuzzy(
                unmatched_df,
                None,
                jaccard_threshold=self.fuzzy_threshold,
                prepped=self._fuzzy_dictionary(),
            ).select("surface", "record_id")
            mapping = self._stage(dict_df.unionByName(fz))
        else:
            mapping = dict_df
        m = mentions.join(
            mapping.withColumnRenamed("surface", "subj_surface").withColumnRenamed(
                "record_id", "subj_surface_record"
            ),
            "subj_surface",
        )
        return m.join(
            mapping.withColumnRenamed("surface", "obj_surface").withColumnRenamed(
                "record_id", "obj_surface_record"
            ),
            "obj_surface",
        )

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
            import tempfile

            path = tempfile.mkdtemp(prefix="kgstage_")
            via_fs = False
        self._scratch.append((path, via_fs))
        df.write.mode("overwrite").parquet(path)
        # the schema just written: no schema-inference job on the re-read
        return spark.read.schema(df.schema).parquet(path)

    def cleanup(self) -> None:
        """Remove scratch stage dirs created by linked().

        Hadoop-FS scratch paths delete through the FileSystem API (works on
        HDFS/S3A/local alike); tempfile fallbacks through shutil."""
        import shutil

        from gtfsrt2lc_spark.functions import hadoop_fs

        for path, via_fs in self._scratch:
            if via_fs and self._spark is not None:
                hadoop_fs.delete(self._spark, path)
            else:
                shutil.rmtree(path, ignore_errors=True)
        self._scratch.clear()
        if not self._canonical_local:
            # the staged canonical map's parquet just vanished with the
            # scratch dirs — recompute on next use instead of dangling
            self._canonical_map = None
        # the fuzzy dictionary's staged band/shingle parquet is gone too
        self._fuzzy_dict = None

    # ---- stage 5+6 -------------------------------------------------------
    def canonical_map(self) -> DataFrame:
        """record_id -> (canonical_record, canonical IRI).

        Connected components over sameAs edges; component id = min record_id;
        IRI minted from the canonical record's name. Computed once per
        pipeline instance and cached (the KB is static across micro-batches —
        the reference's index-reuse pattern, README.md:58).

        Under ``max_local_dictionary`` records the map is collected and
        served as a LocalRelation (cheap to broadcast repeatedly, no
        distributed subplan re-runs); beyond the cap it is STAGED to
        parquet and joined distributed — a 100x KB must never transit the
        driver (``_canonical_local`` tells triples() whether a broadcast
        hint is sound)."""
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
        if self.max_local_dictionary is None:
            collected = out.collect()
        else:
            # one job either way: the head IS the map when it fits,
            # and the size probe when it doesn't
            collected = out.limit(self.max_local_dictionary + 1).collect()
            if len(collected) > self.max_local_dictionary:
                self._canonical_map = self._stage(out)
                self._canonical_local = False
                return self._canonical_map
        rows = [
            (r["record_id"], r["canonical_record"], r["iri"]) for r in collected
        ]
        self._canonical_map = self.records.sparkSession.createDataFrame(
            rows, "record_id string, canonical_record string, iri string"
        )
        self._canonical_local = True
        return self._canonical_map

    # ---- stage 7 ---------------------------------------------------------
    def triples(self, pages: DataFrame, with_part: bool = False) -> DataFrame:
        """Deduplicated (subj, pred, obj, graph) — graph = min provenance url.

        with_part=True additionally carries ``part_id`` (for the checkpoint
        manifest) and dedups per (part, s, p, o)."""
        linked = self.linked(self._mentions_fused(self._latest(pages)))
        canon = self.canonical_map()
        if self._canonical_local:  # over-cap maps join distributed (AQE picks)
            canon = F.broadcast(canon)

        pred_map = F.create_map(
            *[F.lit(x) for kv in self.predicates.items() for x in kv]
        )
        # Aggregate BEFORE minting (guide §2.3): group the mention stream on
        # the narrow (record, phrase, record) key first — map-side partial
        # aggregation collapses the per-mention rows to the (KB-bounded)
        # distinct-fact set before anything is joined or concatenated — then
        # run the canonical joins, predicate map and IRI concat on that
        # small frame, and re-aggregate on the minted (s, p, o). Exact:
        # record -> IRI is functional, sameAs merges are re-folded by the
        # second min (min of per-record mins == min over the merged group),
        # and the inner canon joins drop the same unmappable records
        # whether they run before or after the fold. The earlier shape
        # hash-probed and IRI-concatenated every mention row (x2 joins +
        # string concat per row) before deduplicating.
        pre = ["part_id"] if with_part else []
        facts = linked.groupBy(
            *pre, "subj_surface_record", "pred_phrase", "obj_surface_record"
        ).agg(F.min("url").alias("graph"))
        t = (
            facts.join(
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
        keys = ["part_id", "subj", "pred", "obj"] if with_part else ["subj", "pred", "obj"]
        return t.groupBy(*keys).agg(F.min("graph").alias("graph"))
