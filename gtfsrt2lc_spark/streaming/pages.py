"""Streaming KG construction — the reference's periodic-poll mode (T1,
`lib/catchCancelled.js:12-32`: re-run the conversion every ~30 s reusing the
static indexes) applied to the flagship pages->triples pipeline.

Shape: ``readStream`` over the pages table -> ``foreachBatch`` running the
full KGPipeline per micro-batch. The KB dimensions (records / surfaces /
sameas / canonical map) are built once in the KGPipeline and reused across
micro-batches — the exact analog of the reference building GtfsIndexes once
and re-parsing feeds against them. Each batch frees its own stage checkpoints
when it ends, so a stream that runs for days holds no growing scratch.

Exactly-once posture: Spark's streaming checkpoint tracks which input files
each epoch consumed; the batch writer lands every epoch in its own
``epoch=N`` directory with overwrite mode, so a replayed epoch rewrites
identical content instead of duplicating it. Cross-epoch triple dedup happens
at read time (a re-crawled page re-emits its triples; the reader keeps one).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gtfsrt2lc_spark.plans.manifest import TRIPLE_SCHEMA


def stream_pages_to_triples(
    pages_stream: DataFrame,
    pipeline,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    processing_time: str | None = None,
):
    """Start the streaming query; returns the StreamingQuery handle.

    ``available_now=True`` drains the current backlog and stops (scheduled
    incremental runs); ``processing_time='30 seconds'`` mirrors the
    reference's poll loop.
    """

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        target = os.path.join(out_dir, f"epoch={epoch_id}")
        try:
            pipeline.triples(batch_df).write.mode("overwrite").parquet(target)
        finally:
            # per-batch stage checkpoints only: the KB frames stay persisted
            pipeline.cleanup()

    writer = pages_stream.writeStream.foreachBatch(_process).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def read_stream_triples(spark: SparkSession, out_dir: str) -> DataFrame:
    """Cross-epoch deduplicated triples: (subj, pred, obj, graph) with
    graph = min provenance url over all epochs that emitted the triple."""
    return (
        spark.read.schema(TRIPLE_SCHEMA)
        .option("basePath", out_dir)
        .parquet(out_dir)
        .groupBy("subj", "pred", "obj")
        .agg(F.min("graph").alias("graph"))
    )
