"""Structured Streaming: foreachBatch micro-batch KG construction matches
the batch pipeline (ref periodic-poll mode, lib/catchCancelled.js:12-32)."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_streaming_kg_pipeline_matches_batch(spark, corpus_dfs, tmp_path):
    """foreachBatch micro-batch KG construction over a file-source stream
    produces exactly the batch pipeline's triple set (T1: poll-mode parity)."""
    from gtfsrt2lc_spark.fixtures.pages import PREDICATES
    from gtfsrt2lc_spark.plans.kg_pipeline import KGPipeline
    from gtfsrt2lc_spark.streaming.pages import (
        read_stream_triples,
        stream_pages_to_triples,
    )

    pages, records, surfaces, sameas = corpus_dfs
    pipe = KGPipeline(records, surfaces, sameas,
                      {ph: loc for ph, (loc, _, _) in PREDICATES.items()})
    try:
        want = {(r["subj"], r["pred"], r["obj"])
                for r in pipe.triples(pages).select("subj", "pred", "obj").collect()}

        src = str(tmp_path / "pages_src")
        # two slices -> two files -> two micro-batches (maxFilesPerTrigger=1)
        pages.where(F.crc32(F.col("url")) % 2 == 0).coalesce(1).write.parquet(f"{src}/a")
        pages.where(F.crc32(F.col("url")) % 2 == 1).coalesce(1).write.parquet(f"{src}/b")

        stream = (
            spark.readStream.schema(pages.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*")
        )
        out = str(tmp_path / "triples_out")
        q = stream_pages_to_triples(
            stream, pipe, out, str(tmp_path / "ckpt"), available_now=True
        )
        q.awaitTermination(300)
        got = {(r["subj"], r["pred"], r["obj"])
               for r in read_stream_triples(spark, out).select("subj", "pred", "obj").collect()}
        assert got == want and len(got) > 0
    finally:
        pipe.cleanup()


def test_streaming_dirty_batches_reuse_fuzzy_dictionary(
    spark, corpus_dfs, tmp_path, monkeypatch
):
    """Two dirty micro-batches (each with out-of-dictionary typo'd surfaces)
    stream through ONE pipeline: the dictionary-side LSH tables are built
    exactly once across the whole stream, every batch frees its stage
    checkpoint when it ends (no stage dirs are left), and the streamed
    triple set equals the batch pipeline over the same dirty corpus."""
    import glob
    import os
    import tempfile
    from datetime import datetime

    from gtfsrt2lc_spark.fixtures.pages import PREDICATES, _render_page
    from gtfsrt2lc_spark.plans import kg_pipeline
    from gtfsrt2lc_spark.plans.kg_pipeline import KGPipeline
    from gtfsrt2lc_spark.streaming.pages import (
        read_stream_triples,
        stream_pages_to_triples,
    )

    pages, records, surfaces, sameas = corpus_dfs

    def typo_slice(url, sentence, sec):
        rows = [(
            url,
            datetime(2024, 6, 1, 0, 0, sec),
            _render_page(url, "dirty.example.net", "en", [sentence], False).encode("utf-8"),
            None,
            "en",
        )]
        return spark.createDataFrame(rows, pages.schema)

    half_a = pages.where(F.crc32(F.col("url")) % 2 == 0).unionByName(
        typo_slice("https://dirty.example.net/s/1", "Ada Lovelacee works for Acme Corp.", 1)
    )
    half_b = pages.where(F.crc32(F.col("url")) % 2 == 1).unionByName(
        typo_slice("https://dirty.example.net/s/2", "Alan Turing works for Stark Industres.", 2)
    )

    preds = {ph: loc for ph, (loc, _, _) in PREDICATES.items()}
    batch_pipe = KGPipeline(records, surfaces, sameas, preds)
    try:
        want = {
            (r["subj"], r["pred"], r["obj"])
            for r in batch_pipe.triples(half_a.unionByName(half_b))
            .select("subj", "pred", "obj").collect()
        }
    finally:
        batch_pipe.cleanup()

    src = str(tmp_path / "pages_src")
    half_a.coalesce(1).write.parquet(f"{src}/a")
    half_b.coalesce(1).write.parquet(f"{src}/b")
    stream = (
        spark.readStream.schema(pages.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    builds = []
    build = kg_pipeline.FuzzyDictionary
    monkeypatch.setattr(
        kg_pipeline, "FuzzyDictionary",
        lambda *a, **kw: builds.append(1) or build(*a, **kw),
    )

    def stages():
        return set(glob.glob(os.path.join(tempfile.gettempdir(), "kgstage_*")))

    before = stages()
    pipe = KGPipeline(records, surfaces, sameas, preds)
    try:
        q = stream_pages_to_triples(
            stream, pipe, str(tmp_path / "out"), str(tmp_path / "ckpt"),
            available_now=True,
        )
        q.awaitTermination(300)
        got = {
            (r["subj"], r["pred"], r["obj"])
            for r in read_stream_triples(spark, str(tmp_path / "out"))
            .select("subj", "pred", "obj").collect()
        }
        assert got == want and len(got) > 0
        assert len(builds) == 1
        assert pipe._scratch == [] and stages() == before
    finally:
        pipe.cleanup()
