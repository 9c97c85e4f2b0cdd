"""Streaming GTFS-RT poll mode — the reference's `lib/catchCancelled.js:12-32`
loop (re-parse the live feed every ~30 s against static indexes built once)
as a Structured Streaming job over a feed-drop directory.

Shape: ``readStream.format('binaryFile')`` watches a directory where each
poll lands one protobuf feed file -> ``foreachBatch`` decodes, converts to
Connections against one ``GtfsIndexes`` plan (the reference's index-reuse
pattern, README.md:58: the plan is built once; its data is computed once
only if the caller ``GtfsIndexes.persist()``s it), differential-filters
against the ``HistoryStore`` with the CLI poll's ``filter_new``/``commit``
(only new/changed connections emit — `lib/Gtfsrt2LC.js:667-751`; the
batch's files are ordered polls), and lands each poll in its own
overwrite-mode ``epoch=<batch>-<poll>`` directory (replayed epochs rewrite
identical content: exactly-once output).
"""

from __future__ import annotations

import re
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gtfsrt2lc_spark.functions import hadoop_fs

BINARYFILE_SCHEMA = (
    "path string, modificationTime timestamp, length bigint, content binary"
)

# columns persisted per epoch (flat, parquet-friendly); DDL doubles as the
# read schema so an all-empty output dir still reads as 0 rows
_OUT_SCHEMA = (
    "type string, trip_id string, route_id string, service_day string, "
    "departure_stop string, arrival_stop string, departure_time bigint, "
    "arrival_time bigint, departure_delay bigint, arrival_delay bigint, "
    "headsign string, pickup_type string, drop_off_type string"
)
_OUT_COLS = [f.split(" ")[0] for f in _OUT_SCHEMA.split(", ")]


def _glob_escape(path: str) -> str:
    """Escape Hadoop glob metacharacters in a concrete file path so
    ``spark.read.load(path)`` reads exactly that file (GlobPattern treats
    ``* ? [ ] { } \\`` as pattern syntax)."""
    return re.sub(r"([*?\[\]{}\\])", r"\\\1", path)


def stream_feeds_to_connections(
    spark: SparkSession,
    feed_dir: str,
    pipeline,
    history_store,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    processing_time: str | None = None,
):
    """Start the poll-mode streaming query; returns the StreamingQuery.

    ``pipeline`` is a prebuilt Gtfsrt2LCPipeline whose index plan every
    micro-batch reuses; persist its indexes (``GtfsIndexes.persist()``) or
    each micro-batch re-reads and re-aggregates the static tables.
    ``history_store`` is a HistoryStore whose state spans epochs, so an
    unchanged re-polled feed emits 0 connections (the reference's
    differential semantics, test/gtfsrt2lc.test.js:156).
    """
    from gtfsrt2lc_spark.functions.gtfsrt_proto import decode_feed_df

    feeds = (
        spark.readStream.format("binaryFile")
        .schema(BINARYFILE_SCHEMA)
        .load(feed_dir)
    )

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        # The batch's files are the reference loop's sequential polls, in
        # (modificationTime, path) order. Each file's connection plan is
        # tagged with its poll index, and the union goes through the CLI
        # poll's differential with poll="_file_idx": every poll is compared
        # with the one before it, so a connection that changed between polls
        # emits each change in order. One decode/convert pass, one store
        # scan, one output write and one store commit per micro-batch.
        files = sorted(
            (
                (r["modificationTime"], r["path"])
                for r in batch_df.select("path", "modificationTime").distinct().collect()
            )
        )
        if not files:
            return
        # Each file is loaded by its own path: re-filtering batch_df would
        # re-scan the whole batch source per file (O(files^2) bytes). The
        # path is glob-escaped, since load() reads [, {, * as patterns.
        conns = reduce(
            DataFrame.unionByName,
            [
                pipeline.connections(
                    decode_feed_df(
                        spark.read.format("binaryFile")
                        .schema(BINARYFILE_SCHEMA)
                        .load(_glob_escape(path))
                        .select(F.col("content").alias("payload"))
                    )
                ).withColumn("_file_idx", F.lit(i))
                for i, (_mt, path) in enumerate(files)
            ],
        ).persist()
        fresh = history_store.filter_new(conns, poll="_file_idx").persist()

        # replay safety: write BEFORE commit; on a replayed epoch whose
        # states were already committed (crash between commit and the
        # streaming checkpoint), the differential yields 0 — skipping the
        # write preserves the previously written output. When fresh rows
        # exist, the DYNAMIC partition overwrite touches only the epoch
        # partitions it produces, so prior epochs survive replays.
        if fresh.count() > 0:
            (
                fresh.withColumn(
                    "epoch", F.concat(F.lit(f"{epoch_id}-"), F.col("_file_idx"))
                )
                .select(*_OUT_COLS, "epoch")
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("epoch")
                .parquet(out_dir)
            )
            history_store.commit(fresh, poll="_file_idx")
        fresh.unpersist()
        conns.unpersist()

    writer = feeds.writeStream.foreachBatch(_process).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def read_stream_connections(spark: SparkSession, out_dir: str) -> DataFrame:
    """All connections emitted across epochs (each row is a state change —
    the differential emit log, not a snapshot).

    A stream whose every micro-batch was fully differential-suppressed
    (n_fresh == 0 throughout) never writes out_dir at all — that is a valid
    0-change run, not an error, so a missing path reads as an empty frame
    with the same columns a real read yields (_OUT_SCHEMA + the epoch
    partition column)."""
    if not hadoop_fs.exists(spark, out_dir):
        return spark.createDataFrame([], _OUT_SCHEMA + ", epoch string")
    return (
        spark.read.schema(_OUT_SCHEMA)
        .option("basePath", out_dir)
        .parquet(out_dir)
    )
