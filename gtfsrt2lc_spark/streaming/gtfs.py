"""Streaming GTFS-RT poll mode — the reference's `lib/catchCancelled.js:12-32`
loop (re-parse the live feed every ~30 s against static indexes built once)
as a Structured Streaming job over a feed-drop directory.

Shape: ``readStream.format('binaryFile')`` watches a directory where each
poll lands one protobuf feed file -> ``foreachBatch`` decodes, converts to
Connections against one ``GtfsIndexes`` plan (the reference's index-reuse
pattern, README.md:58: the plan is built once; its data is computed once
only if the caller ``GtfsIndexes.persist()``s it), differential-filters
against the ``HistoryStore`` (only new/changed connections emit —
`lib/Gtfsrt2LC.js:667-751`), and lands each epoch in its own
overwrite-mode ``epoch=N`` directory (replayed epochs rewrite identical
content: exactly-once output).
"""

from __future__ import annotations

import re
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
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
        # Polls are SEQUENTIAL in the reference loop, but the whole batch is
        # processed in ONE pass: every file's connection plan is tagged with
        # its poll order and unioned, and the per-poll differential is a
        # lag() window over the per-(key, file) state chain, seeded with the
        # history store's baseline. This preserves state-change ordering
        # exactly (a connection that changed between polls emits each change
        # in order) while replacing the old per-file loop's F× jobs — F
        # decode/convert jobs, F store scans, F store commits, F output
        # writes — with one decode/convert pass, one store scan, one
        # dynamic-partition write and one store commit per micro-batch.
        files = sorted(
            (
                (r["modificationTime"], r["path"])
                for r in batch_df.select("path", "modificationTime").distinct().collect()
            )
        )
        if not files:
            return
        per_file = []
        for i, (_mt, path) in enumerate(files):
            # read THIS file directly rather than re-filtering batch_df:
            # the where(path==...) form re-scans the whole batch source per
            # file — O(files^2) bytes per micro-batch at high poll fan-in —
            # while a direct single-path load scans each feed exactly once.
            # The path is GLOB-ESCAPED (Hadoop's load() treats [, {, * as
            # pattern metacharacters — a feed named "feed[1].pb" would
            # otherwise read nothing or the wrong file). The direct load
            # assumes the drop dir is append-only between source snapshot
            # and processing; if a retention sweep deleted the file, fall
            # back to filtering the batch source snapshot, which still holds
            # the bytes.
            if hadoop_fs.exists(spark, path):
                src = (
                    spark.read.format("binaryFile")
                    .schema(BINARYFILE_SCHEMA)
                    .load(_glob_escape(path))
                    .select(F.col("content").alias("payload"))
                )
            else:  # retention sweep beat us to it: use the source snapshot
                src = batch_df.where(F.col("path") == path).select(
                    F.col("content").alias("payload")
                )
            per_file.append(
                pipeline.connections(decode_feed_df(src)).withColumn(
                    "_file_idx", F.lit(i)
                )
            )
        all_conns = reduce(lambda a, b: a.unionByName(b), per_file)
        keyed = history_store.rule_key(all_conns).persist()

        # Per-(key, service_day, poll) state. Duplicate rows of one key
        # within one poll normally agree; if a malformed feed contradicts
        # itself, max(struct) is the deterministic winner (the old
        # sequential loop committed an arbitrary duplicate).
        state = F.struct("departure_delay", "arrival_delay", "type")
        per_state = keyed.groupBy("rule_key", "service_day", "_file_idx").agg(
            F.max(state).alias("_state")
        )
        hist = history_store.state().select(
            "rule_key",
            "service_day",
            F.struct("departure_delay", "arrival_delay", "type").alias("_hist"),
        )
        w = Window.partitionBy("rule_key", "service_day").orderBy("_file_idx")
        chain = (
            per_state.withColumn("_prev", F.lag("_state").over(w))
            .join(hist, ["rule_key", "service_day"], "left")
            .withColumn("_base", F.coalesce("_prev", "_hist"))
        )

        # Row-level differential vs each poll's baseline — the exact
        # predicate HistoryStore.filter_new applies against the store
        # (null-type baseline == no prior state -> fresh).
        rows = keyed.join(
            chain.select("rule_key", "service_day", "_file_idx", "_base"),
            ["rule_key", "service_day", "_file_idx"],
        )
        fresh = rows.where(
            F.col("_base.type").isNull()
            | (F.col("_base.departure_delay") != F.col("departure_delay"))
            | (F.col("_base.arrival_delay") != F.col("arrival_delay"))
            | (F.col("_base.type") != F.col("type"))
        ).persist()
        n_fresh = fresh.count()

        # replay safety: write BEFORE commit; on a replayed epoch whose
        # states were already committed (crash between commit and the
        # streaming checkpoint), the differential yields 0 — skipping the
        # write preserves the previously written output. When fresh rows
        # exist, the DYNAMIC partition overwrite touches only the epoch
        # partitions it produces, so prior epochs survive replays.
        if n_fresh > 0:
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
            # ONE commit per micro-batch: each changed key's final state is
            # the last poll's state (polls after the last fresh one were by
            # definition unchanged), so committing the chain tail for keys
            # with any fresh emission lands the same store contents as the
            # old per-poll commits — in one generation instead of F.
            wl = Window.partitionBy("rule_key", "service_day").orderBy(
                F.col("_file_idx").desc()
            )
            last = (
                chain.withColumn("_rn", F.row_number().over(wl))
                .where(F.col("_rn") == 1)
                .join(
                    fresh.select("rule_key", "service_day").distinct(),
                    ["rule_key", "service_day"],
                )
                .select(
                    "rule_key",
                    "service_day",
                    F.col("_state.departure_delay").alias("departure_delay"),
                    F.col("_state.arrival_delay").alias("arrival_delay"),
                    F.col("_state.type").alias("type"),
                )
            )
            history_store.commit(last)
        fresh.unpersist()
        keyed.unpersist()

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
